"""End-to-end medallion pipeline runner.

Replaces the reference's Airflow → Databricks multi-task job
(SURVEY §3 entry-point 1) with a plain Python orchestration over the
same DAG: config → bronze → silver → {dim_athletes, dim_countries,
dim_divisions} → fact → views.

Write semantics per run_mode (Readme.md:149-172):
- full: overwrite every table (reference S6);
- incremental: bronze/silver/fact insert-only merge on row_key
  (S7) — re-running the same year is a no-op (idempotent); dims SCD-1
  upsert on their natural keys (S8) so attributes refresh in place.

Bronze/silver/fact are partitioned by ``year``: the reference prunes
input files by hand in driver code (01_config.ipynb:292-296); here the
same year-scoping becomes real Catalyst partition pruning on every
downstream ``filter(year = Y)``.

Run record (incremental mode only). An incremental run keeps its
progress in ``<warehouse>/_pipeline/last_incremental.json``, rewritten
atomically (tmp file + rename) after each layer's last commit and once
more when the run has completed, audits included. The record holds the
run's identity, the log version of each table this run has committed,
read right after that table's own last commit, the RunResult so far and
whether the run completed. The identity is ``process_year``, the three
merge-key lists and each selected landing file's (year, gender,
filename, size, mtime_ns); the source directory's path is not part of
it, so a landing copy that keeps mtimes is the same input.

A run with the same identity redoes only what changed since (the
versions come from a directory listing, no Spark job). Layers go
bronze → silver → dims → fact; a layer is skipped while its tables and
every table above it are still at the recorded versions — the no-op
Delta's SetTransaction (txnAppId/txnVersion) gives a writer that
re-submits an already committed write. So:
- an identical re-run after a completed run skips every layer: it
  registers the table and dashboard views and returns the recorded
  RunResult with ``reused=True``, running no Spark job, making no commit;
- a retry after a crash redoes the layer that crashed and those below
  it, then the audits;
- a commit by another writer (even an OPTIMIZE) redoes that table's
  layer and those below it;
- a new or changed input file, or any unreadable or foreign record,
  runs every layer.
A skipped layer keeps the values its tables had, so the dims'
``updated_at`` stays at the run that committed them; the tables are
byte-identical to the recorded state. The plan code is not part of the
identity: after changing it, run a full load (or delete the record) so
the tables are rebuilt by the new code.
"""

from __future__ import annotations

import dataclasses
import json
import os
import uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark import config as C
from ironman_medallion_lakehouse_spark.plans import bronze as bronze_plan
from ironman_medallion_lakehouse_spark.plans import gold_dims, gold_fact, views
from ironman_medallion_lakehouse_spark.plans import silver as silver_plan
from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

ALL_TABLES = [
    C.BRONZE_TABLE,
    C.SILVER_TABLE,
    C.DIM_ATHLETES,
    C.DIM_COUNTRIES,
    C.DIM_DIVISIONS,
    C.FACT_RESULTS,
]

DIM_TABLES = (C.DIM_ATHLETES, C.DIM_COUNTRIES, C.DIM_DIVISIONS)

# Warehouse-relative path of the latest incremental run's record.
RUN_RECORD = os.path.join("_pipeline", "last_incremental.json")


@dataclass
class RunResult:
    bronze_rows: int = 0
    silver_rows: int = 0
    fact_rows: int = 0
    duplicate_row_keys: int = 0
    unmatched_fks: dict[str, int] = field(default_factory=dict)
    views_created: list[str] = field(default_factory=list)
    silver_quality: dict[str, int] = field(default_factory=dict)
    reused: bool = False  # True when the run record made the run a no-op


_RESULT_FIELDS = {f.name for f in dataclasses.fields(RunResult)}


def run(spark: SparkSession, cfg: C.PipelineConfig) -> RunResult:
    cfg.validate_sources()
    store = TableStore(spark, cfg.warehouse_dir)
    incremental = cfg.run_mode == "incremental"
    # Full loads compact whenever a partition has >1 file; incremental
    # runs let small files accumulate to 8 per partition first, so a
    # per-year append is O(new data) per run and the O(table) rewrite
    # amortizes 1:8 (optimize() is a no-op below the threshold).
    optimize_min_files = 2 if not incremental else 8
    record = _RunRecord(store, _run_identity(cfg) if incremental else None)
    if record.complete and record.done(*ALL_TABLES):
        _serve(spark, store)
        return dataclasses.replace(record.result, reused=True)
    result = RunResult()

    # ---- bronze (02_bronze): ingest selected files, merge or overwrite
    if record.done(C.BRONZE_TABLE):
        result.duplicate_row_keys = record.result.duplicate_row_keys
    else:
        bronze_df = bronze_plan.build_bronze(spark, cfg.source_dir, cfg.files_to_process)
        result.duplicate_row_keys = bronze_plan.duplicate_key_count(bronze_df)
        if incremental and store.table_exists(C.BRONZE_TABLE):
            store.merge_insert_only(bronze_df, C.BRONZE_TABLE, cfg.bronze_merge_keys)
        else:
            store.save_overwrite(bronze_df, C.BRONZE_TABLE, partition_by=["year"])
        store.optimize(C.BRONZE_TABLE, min_files=optimize_min_files)  # S10 (02:354)
        record.committed(result, C.BRONZE_TABLE)

    # ---- silver (03_silver): full layer recompute over the scoped slice
    if not record.done(C.SILVER_TABLE):
        bronze_all = store.read(C.BRONZE_TABLE)
        # a missing silver table is (re)built from all of bronze; a merge
        # reads only this year's slice (P4 year filter → partition pruning)
        silver_merge = incremental and store.table_exists(C.SILVER_TABLE)
        silver_df = silver_plan.build_silver(
            bronze_all.filter(F.col("year") == cfg.process_year) if silver_merge else bronze_all
        )
        if silver_merge:
            store.merge_insert_only(silver_df, C.SILVER_TABLE, cfg.silver_merge_keys)
        else:
            store.save_overwrite(silver_df, C.SILVER_TABLE, partition_by=["year"])
        store.optimize(C.SILVER_TABLE, min_files=optimize_min_files)
        record.committed(result, C.SILVER_TABLE)

    # ---- gold dims (04a/04b/04c): the reference builds dims from the
    # YEAR-SCOPED silver slice (filter(year == process_year) in every
    # gold notebook — SURVEY §2.2 P4) and SCD-1-merges into the dim, so
    # an incremental run costs O(year), not O(history). Reproduced
    # exactly — including the quirk that dim_countries.athlete_count
    # reflects the latest processed year's counts after a merge.
    silver_all = store.read(C.SILVER_TABLE)
    silver_scope = (
        silver_all.filter(F.col("year") == cfg.process_year) if incremental else silver_all
    )
    if not record.done(*DIM_TABLES):
        dim_athletes = gold_dims.build_dim_athletes(silver_scope)
        dim_countries = gold_dims.build_dim_countries(spark, silver_scope)
        dim_divisions = gold_dims.build_dim_divisions(silver_scope)
        if incremental and store.table_exists(C.DIM_ATHLETES):
            store.merge_scd1(
                dim_athletes,
                C.DIM_ATHLETES,
                keys=["athlete_natural_key"],
                update_cols=["athlete_name", "first_name", "last_name", "country", "updated_at"],
            )
            store.merge_scd1(
                dim_countries,
                C.DIM_COUNTRIES,
                keys=["country"],
                update_cols=["country_name", "continent", "athlete_count", "updated_at"],
            )
            store.merge_scd1(
                dim_divisions,
                C.DIM_DIVISIONS,
                keys=["division"],
                update_cols=[
                    "division_description",
                    "gender",
                    "is_professional",
                    "age_group_start",
                    "age_group_end",
                    "updated_at",
                ],
            )
        else:
            store.save_overwrite(dim_athletes, C.DIM_ATHLETES)
            store.save_overwrite(dim_countries, C.DIM_COUNTRIES)
            store.save_overwrite(dim_divisions, C.DIM_DIVISIONS)
        # The dims are ANALYZEd right after their write (one cheap fused
        # aggregate each) and read back through read_hinted, so the fact
        # build's join strategy comes from recorded statistics — a dim
        # that outgrows the broadcast threshold falls back to a shuffle
        # join instead of being force-broadcast (VERDICT r4 item 4).
        for dim_table in (C.DIM_ATHLETES, C.DIM_DIVISIONS, C.DIM_COUNTRIES):
            store.analyze(dim_table)
        record.committed(result, *DIM_TABLES)

    # ---- fact (04d): scoped silver joined to the *merged* dims.
    if not record.done(C.FACT_RESULTS):
        fact = gold_fact.build_fact(
            silver_scope,
            store.read_hinted(C.DIM_ATHLETES),
            store.read_hinted(C.DIM_DIVISIONS),
            store.read_hinted(C.DIM_COUNTRIES),
            explicit_broadcast=False,
        )
        if incremental and store.table_exists(C.FACT_RESULTS):
            store.merge_insert_only(fact, C.FACT_RESULTS, cfg.fact_merge_keys)
        else:
            store.save_overwrite(fact, C.FACT_RESULTS, partition_by=["year"])
        store.optimize(C.FACT_RESULTS, min_files=optimize_min_files)
        record.committed(result, C.FACT_RESULTS)

    # ---- serving layer (05): register tables + the 13 views
    result.views_created = _serve(spark, store)

    result.bronze_rows = store.read(C.BRONZE_TABLE).count()
    result.silver_rows = store.read(C.SILVER_TABLE).count()
    result.fact_rows = store.read(C.FACT_RESULTS).count()
    result.unmatched_fks = gold_fact.fk_audit(store.read(C.FACT_RESULTS))
    result.silver_quality = _silver_quality(store.read(C.SILVER_TABLE))
    record.committed(result, complete=True)
    return result


def _serve(spark: SparkSession, store: TableStore) -> list[str]:
    """Register the six tables and the dashboard views over them."""
    store.register_views(*ALL_TABLES)
    return views.create_views(spark)


def _run_identity(cfg: C.PipelineConfig) -> dict:
    """What an incremental run depends on besides the tables: the year,
    the merge keys and the selected landing files' size and mtime.
    Lists only, so it compares equal to its own JSON round trip."""
    files = []
    for f in cfg.files_to_process:
        st = os.stat(f.path(cfg.source_dir))
        files.append([f.year, f.gender, f.filename, st.st_size, st.st_mtime_ns])
    return {
        "process_year": cfg.process_year,
        "merge_keys": [
            list(cfg.bronze_merge_keys), list(cfg.silver_merge_keys), list(cfg.fact_merge_keys)
        ],
        "files": files,
    }


class _RunRecord:
    """The incremental run record (module docstring). ``identity`` None
    (a full run) disables it: nothing is read, written or skipped."""

    def __init__(self, store: TableStore, identity: dict | None):
        self.store, self.identity = store, identity
        self.path = os.path.join(store.root, RUN_RECORD)
        self.versions: dict[str, int] = {}  # tables this identity need not redo
        self.result = RunResult()
        self.complete = False
        prior = self._load() if identity is not None else None
        if prior is None:
            return
        # bronze first: a layer is redone if any table above it was
        for table in ALL_TABLES:
            version = prior["versions"].get(table)
            if version is None or version != self._latest(table):
                break
            self.versions[table] = version
        self.result = prior["result"]
        self.complete = prior["complete"]

    def done(self, *tables: str) -> bool:
        return all(t in self.versions for t in tables)

    def committed(self, result: RunResult, *tables: str, complete: bool = False) -> None:
        """Record ``tables`` at their latest version, read right after
        this run's last commit to them, and the RunResult so far."""
        if self.identity is None:
            return
        for table in tables:
            self.versions[table] = self._latest(table)
        record = {
            "identity": self.identity,
            "versions": self.versions,
            "result": asdict(result),
            "complete": complete,
        }
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, self.path)  # readers see the old record or the new one

    def _latest(self, table: str) -> int | None:
        """Latest log version, from a directory listing (no Spark job)."""
        return (self.store._log_versions(table) or [None])[-1]

    def _load(self) -> dict | None:
        """The record when it belongs to this identity and is well formed
        for this code's RunResult; otherwise None (a normal run)."""
        try:
            with open(self.path) as fh:
                prior = json.load(fh)
            if prior["identity"] != self.identity or set(prior["result"]) != _RESULT_FIELDS:
                return None
            return {
                "versions": dict(prior["versions"]),
                "result": RunResult(**prior["result"]),
                "complete": prior["complete"] is True,
            }
        except (OSError, ValueError, KeyError, TypeError):  # none, torn or foreign
            return None


def _silver_quality(silver_df) -> dict[str, int]:
    """The reference's silver audits (SURVEY §5.1 null audits, flag
    counts, 03_silver.ipynb:367-486) as ONE fused quality pass instead
    of one count() action per check."""
    from ironman_medallion_lakehouse_spark.operators.quality import Expectation, check

    finisher = F.col("is_finisher") == True  # noqa: E712
    report = check(
        silver_df,
        [
            Expectation.satisfies("finisher_has_rank", ~finisher | F.col("rank").isNotNull()),
            Expectation.satisfies(
                "finisher_has_finish_time", ~finisher | F.col("finish_time_seconds").isNotNull()
            ),
            Expectation.satisfies("flagged_rows", ~F.col("has_data_issue")),
            Expectation.in_set("source_gender", ["M", "F"]),
            Expectation.non_null("row_key"),
        ],
    )
    return dict(report.violations)


def _discover_files(source_dir: str) -> list[C.FileSpec]:
    """Build FileSpecs from a year=<y>/ landing layout; gender inferred
    from 'women'/'men' in the filename (the reference's naming)."""
    import glob
    import re

    specs = []
    for path in sorted(glob.glob(os.path.join(source_dir, "year=*", "*.csv"))):
        year = int(re.search(r"year=(\d+)", path).group(1))
        name = os.path.basename(path)
        gender = "F" if "women" in name.lower() else "M"
        specs.append(C.FileSpec(year=year, gender=gender, filename=name))
    return specs


def main(argv: list[str] | None = None) -> int:
    """CLI: python -m ironman_medallion_lakehouse_spark.pipeline
    --source-dir landing/ --warehouse wh/ [--run-mode incremental
    --process-year 2025]"""
    import argparse
    import json

    from ironman_medallion_lakehouse_spark.session import get_spark

    p = argparse.ArgumentParser(description="Run the medallion pipeline")
    p.add_argument("--source-dir", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--run-mode", choices=["full", "incremental"], default="full")
    p.add_argument("--process-year", type=int, default=None)
    args = p.parse_args(argv)

    spark = get_spark(app_name="medallion-pipeline")
    cfg = C.PipelineConfig(
        source_dir=args.source_dir,
        warehouse_dir=args.warehouse,
        run_mode=args.run_mode,
        process_year=args.process_year,
        files=_discover_files(args.source_dir),
    )
    result = run(spark, cfg)
    print(
        json.dumps(
            {
                "bronze_rows": result.bronze_rows,
                "silver_rows": result.silver_rows,
                "fact_rows": result.fact_rows,
                "duplicate_row_keys": result.duplicate_row_keys,
                "unmatched_fks": result.unmatched_fks,
                "silver_quality": result.silver_quality,
                "views": result.views_created,
                "reused": result.reused,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
