"""Versioned parquet table store — the Delta-semantics layer, pure Spark.

The reference depends on Delta Lake for four behaviors (SURVEY §2.1
S6-S10): full overwrite, MERGE insert-only, MERGE SCD-1 upsert, and
OPTIMIZE file compaction. delta-spark is not available in this
environment, so this module provides those semantics with a compact
manifest-log design (the same idea as Delta's `_delta_log`, re-derived
from the public protocol description):

Layout per table::

    <root>/<db>/<table>/
        _log/00000001.json             # delta: {"version","schema","partition_by","add","remove","stats"}
        _log/00000010.checkpoint.json  # full snapshot every CHECKPOINT_EVERY commits
        data/                          # immutable parquet files, shared partition dirs
            year=2023/<writeid>-part-....parquet

- A *version* is the file set obtained by replaying delta entries on
  top of the nearest checkpoint — each commit writes O(changed files),
  not O(table); readers replay a bounded suffix. Writers never mutate
  existing files.
- Commits are atomic put-if-absent (os.link; on an object store this
  would be a conditional PUT, exactly as Delta does) — concurrent
  writers cannot silently lose a commit.
- **Insert-only merge appends files**: new rows are anti-joined against
  the target (scanning only the partitions the source touches) and
  written as new files; the new manifest = old files + new files. No
  existing byte is rewritten — O(new data), not O(table), which is what
  makes the operation viable at 100 TB.
- **SCD-1 merge rewrites only affected partitions** (all files, for an
  unpartitioned table — dims here are small by design).
- Old versions remain readable (time travel) until `vacuum()`.

Reference behaviors reproduced: 02_bronze.ipynb:300-318 (insert-only),
04a_gold_dim_athletes.ipynb:309-328 (SCD-1), 02_bronze.ipynb:354
(OPTIMIZE), 02_bronze.ipynb:279 / spark.catalog.tableExists gating.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG_RE = re.compile(r"^(\d{8})\.json$")
_CKPT_RE = re.compile(r"^(\d{8})\.checkpoint\.json$")

# Every Nth commit also writes a full-snapshot checkpoint; readers
# replay at most N-1 delta entries on top of the nearest checkpoint.
CHECKPOINT_EVERY = 10

# sentinel: "caller didn't supply the previous manifest — replay the log"
_DERIVE_PREV: "Manifest | None" = object()  # type: ignore[assignment]


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same table version first."""


# --------------------------------------------------------------------------
# Log replay as module-level pure functions (no SparkSession): shared by
# TableStore and by the change-feed streaming source, whose planner runs
# on the driver without a store instance and whose readers run on
# executors.
def log_versions(log_dir: str) -> list[int]:
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(m.group(1)) for f in os.listdir(log_dir) if (m := _LOG_RE.match(f))
    )


def checkpoint_versions(log_dir: str) -> list[int]:
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(m.group(1)) for f in os.listdir(log_dir) if (m := _CKPT_RE.match(f))
    )


def manifest_at(log_dir: str, version: int) -> "Manifest | None":
    """Replay delta entries on top of the nearest checkpoint ≤ version."""
    if version not in set(log_versions(log_dir)):
        return None
    ckpts = [v for v in checkpoint_versions(log_dir) if v <= version]
    files: list[str] = []
    stats: dict[str, dict[str, list]] = {}
    schema_json, partition_by = "", []
    start = 0
    if ckpts:
        with open(os.path.join(log_dir, f"{ckpts[-1]:08d}.checkpoint.json")) as fh:
            snap = Manifest.from_json(fh.read())
        files, stats = list(snap.files), dict(snap.stats)
        schema_json, partition_by = snap.schema_json, snap.partition_by
        start = snap.version
    for v in range(start + 1, version + 1):
        with open(os.path.join(log_dir, f"{v:08d}.json")) as fh:
            d = json.loads(fh.read())
        schema_json = d["schema"]
        partition_by = d["partition_by"]
        if "files" in d:  # legacy full-snapshot entry
            files = list(d["files"])
            stats = dict(d.get("stats", {}))
            continue
        removed = set(d.get("remove", []))
        files = [f for f in files if f not in removed] + d.get("add", [])
        for f in removed:
            stats.pop(f, None)
        stats.update(d.get("stats", {}))
    return Manifest(
        version=version,
        schema_json=schema_json,
        partition_by=partition_by,
        files=files,
        stats=stats,
    )


def parse_partition_segment(seg: str) -> tuple[str, str | None] | None:
    """Decode one hive-style path segment ``col=raw`` → (col, value),
    undoing Spark's percent-escaping and mapping
    __HIVE_DEFAULT_PARTITION__ to None. Returns None for non-partition
    segments. Single shared decoder for the batch reader
    (read_partitions) and the change-feed streaming source."""
    col, eq, raw = seg.partition("=")
    if not eq:
        return None
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return col, None
    from urllib.parse import unquote

    return col, unquote(raw)


def _java_style_float_str(a: float, digits: str | None = None) -> str:
    """Render a positive finite float the way Java's ``Double.toString``
    does (Spark's partition-path renderer): decimal form for
    10^-3 ≤ a < 10^7, otherwise ``d.dddEn`` scientific with one digit
    before the point — '1.0E-7', '1.2345678E7', never Python's
    '1e-07'. ``digits`` overrides the significant digits (used for
    FloatType, whose shortest round-trip digits differ from the
    double's)."""
    from decimal import Decimal

    d = Decimal(digits if digits is not None else repr(a))
    _sign, digs, exp = d.as_tuple()
    adjusted = exp + len(digs) - 1
    digstr = "".join(map(str, digs)).rstrip("0") or "0"
    if -3 <= adjusted <= 6:  # == 1e-3 <= a < 1e7
        if adjusted >= 0:
            intpart = digstr[: adjusted + 1].ljust(adjusted + 1, "0")
            frac = digstr[adjusted + 1 :] or "0"
            return f"{intpart}.{frac}"
        return "0." + "0" * (-adjusted - 1) + digstr
    mantissa = digstr[0] + "." + (digstr[1:] or "0")
    return f"{mantissa}E{adjusted}"


def _render_partition_value(v, dtype=None) -> str:
    """Render a Python value the way Spark renders it in a hive-style
    partition path (pre-escaping), so read_partitions can compare
    against parsed segments. Spark writes booleans lowercase
    ('true'/'false'), dates as ISO 'yyyy-MM-dd', timestamps as
    'yyyy-MM-dd HH:mm:ss[.fraction]' with trailing fraction zeros
    trimmed ('…:09.5', not '…:09.500000'), floats/doubles via Java
    ``toString`` (scientific outside [1e-3, 1e7)), and decimals at the
    column's declared scale ('5.0000' for DECIMAL(10,4)) — all
    confirmed against Spark-written directories in
    tests/test_tablestore.py. ``dtype`` (the column's Spark DataType,
    when the caller has the schema) disambiguates decimal scale and
    float-vs-double digit rendering."""
    if v is None:
        return "\0null"
    if isinstance(v, bool):
        return "true" if v else "false"
    import datetime as _dt
    import decimal as _decimal
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        digits = None
        try:
            from pyspark.sql.types import FloatType

            if isinstance(dtype, FloatType):
                import numpy as np

                digits = repr(np.float32(abs(v)))
        except ImportError:  # pragma: no cover — numpy is baked in
            pass
        s = _java_style_float_str(abs(v), digits)
        return f"-{s}" if math.copysign(1.0, v) < 0 else s
    if isinstance(v, _dt.datetime):  # before date: datetime subclasses date
        base = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            base += "." + f"{v.microsecond:06d}".rstrip("0")
        return base
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, _decimal.Decimal):
        from pyspark.sql.types import DecimalType

        if isinstance(dtype, DecimalType):
            return f"{v:.{dtype.scale}f}"
        return str(v)
    return str(v)


def version_changes(
    log_dir: str, start: int, end: int
) -> list[tuple[int, list[str], list[str]]]:
    """(version, partition_by, added_files) for each committed version
    in (start, end] — ONE pass over the delta entries instead of a
    full manifest_at replay per version (r2 ADVICE: a stream catching
    up over a large commit range paid O(backlog × replay) metadata
    reads). Delta entries carry partition_by and the added-file list
    directly; a legacy full-snapshot entry falls back to a running
    file-set diff, whose base manifest is materialized at most once."""
    out: list[tuple[int, list[str], list[str]]] = []
    running: set[str] | None = None
    for v in range(start + 1, end + 1):
        path = os.path.join(log_dir, f"{v:08d}.json")
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            d = json.loads(fh.read())
        if "files" in d:  # legacy full-snapshot entry
            if running is None:
                prev = manifest_at(log_dir, v - 1)
                running = set(prev.files) if prev else set()
            added = [f for f in d["files"] if f not in running]
            running = set(d["files"])
        else:
            added = list(d.get("add", []))
            if running is not None:
                running.difference_update(d.get("remove", []))
                running.update(added)
        out.append((v, d.get("partition_by", []), added))
    return out


def added_files_in(log_dir: str, version: int) -> list[str]:
    """Files ADDED by exactly this commit (the change-feed grain).
    Delta entries record it directly; legacy full-snapshot entries fall
    back to a set diff against the previous version."""
    path = os.path.join(log_dir, f"{version:08d}.json")
    with open(path) as fh:
        d = json.loads(fh.read())
    if "add" in d:
        return list(d["add"])
    prev = manifest_at(log_dir, version - 1)
    prev_files = set(prev.files) if prev else set()
    return [f for f in d.get("files", []) if f not in prev_files]


@dataclass
class Manifest:
    version: int
    schema_json: str
    partition_by: list[str]
    files: list[str] = field(default_factory=list)  # paths relative to data/
    # per-file column stats for data skipping: path → {col: [min, max]}
    # (numeric/string primitives only; absent = no stats = never skipped)
    stats: dict[str, dict[str, list]] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "schema": self.schema_json,
                "partition_by": self.partition_by,
                "files": self.files,
                "stats": self.stats,
            },
            indent=None,
        )

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        return Manifest(
            version=d["version"],
            schema_json=d["schema"],
            partition_by=d["partition_by"],
            files=d["files"],
            stats=d.get("stats", {}),
        )


class TableStore:
    """A warehouse of versioned parquet tables under a root directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

    # ------------------------------------------------------------------ paths
    def _table_dir(self, name: str) -> str:
        db, _, table = name.rpartition(".")
        return os.path.join(self.root, db or "default", table)

    def _log_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_log")

    def _data_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "data")

    # ------------------------------------------------------------ manifest io
    #
    # The log is CHUNKED (Delta-protocol style, re-derived from the
    # public description): each commit writes a small delta entry
    # {add, remove, stats-of-added} — O(changed files), NOT O(table) —
    # and every CHECKPOINT_EVERY-th commit also writes a full-snapshot
    # checkpoint so readers replay a bounded suffix. At 100 TB with
    # millions of live files, per-commit cost stays proportional to the
    # change; the O(table) snapshot amortizes 1:N (r1 VERDICT item 10).
    def _log_versions(self, name: str) -> list[int]:
        return log_versions(self._log_dir(name))

    def _checkpoint_versions(self, name: str) -> list[int]:
        return checkpoint_versions(self._log_dir(name))

    def _latest_manifest(self, name: str) -> Manifest | None:
        versions = self._log_versions(name)
        if not versions:
            return None
        return self._manifest_at(name, versions[-1])

    def _manifest_at(self, name: str, version: int) -> Manifest | None:
        return manifest_at(self._log_dir(name), version)

    def _commit(
        self, name: str, manifest: Manifest, prev: Manifest | None = _DERIVE_PREV
    ) -> None:
        """Commit the target state as a DELTA entry (diff vs the
        previous version), put-if-absent: os.link refuses to replace an
        existing entry, so two writers that both read version N cannot
        both commit N+1 — the loser gets ConcurrentCommitError instead
        of silently clobbering (on an object store this is the
        conditional PUT Delta uses). Every CHECKPOINT_EVERY-th version
        additionally writes a full-snapshot checkpoint.

        Callers pass the previous Manifest they already hold (``prev``,
        None for a new table) so the commit doesn't replay the log a
        second time — at one commit per streaming micro-batch the
        duplicate checkpoint+delta reads are the dominant metadata
        cost."""
        log_dir = self._log_dir(name)
        os.makedirs(log_dir, exist_ok=True)
        if prev is _DERIVE_PREV:
            prev = (
                self._manifest_at(name, manifest.version - 1)
                if manifest.version > 1
                else None
            )
        prev_files = set(prev.files) if prev else set()
        new_files = set(manifest.files)
        add = [f for f in manifest.files if f not in prev_files]
        remove = sorted(prev_files - new_files)
        entry = json.dumps(
            {
                "version": manifest.version,
                "schema": manifest.schema_json,
                "partition_by": manifest.partition_by,
                "add": add,
                "remove": remove,
                "stats": {f: manifest.stats[f] for f in add if f in manifest.stats},
            }
        )
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(entry)
        final = os.path.join(log_dir, f"{manifest.version:08d}.json")
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"version {manifest.version} of {name} was committed by another "
                f"writer; re-read the table and retry the operation"
            ) from e
        finally:
            os.remove(tmp)
        if manifest.version % CHECKPOINT_EVERY == 0:
            ckpt = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
            with open(ckpt, "w") as fh:
                fh.write(manifest.to_json())
            os.rename(
                ckpt, os.path.join(log_dir, f"{manifest.version:08d}.checkpoint.json")
            )

    # -------------------------------------------------------------- file io
    def _write_files(
        self, df: DataFrame, name: str, partition_by: list[str], distribute: bool = True
    ) -> list[str]:
        """Write df as immutable parquet files into data/, return relative paths.

        Spark writes to a staging dir; files are then renamed into the
        shared partition layout with a unique write-id prefix (renames
        are metadata-only — no data copy).

        ``distribute`` (default on, Delta's optimizeWrite analogue):
        partitioned writes REBALANCE-hint on the partition columns
        first, so each hive partition is written by as few tasks as its
        size needs — without it a T-task upstream writing P partitions
        emits up to T×P small files at cluster scale. Applied HERE so
        every write path (overwrite, both merges, streaming ingest)
        shares it; callers that have already arranged the distribution
        (range clustering, explicit compaction) pass False.
        """
        data_dir = self._data_dir(name)
        os.makedirs(data_dir, exist_ok=True)
        write_id = uuid.uuid4().hex[:12]
        staging = os.path.join(self._table_dir(name), f"_staging-{write_id}")
        if partition_by and distribute:
            df = df.hint("rebalance", *partition_by)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)

        rel_paths: list[str] = []
        try:
            writer.parquet(staging)
            for dirpath, _dirnames, filenames in os.walk(staging):
                for fn in filenames:
                    if not fn.endswith(".parquet"):
                        continue
                    rel_dir = os.path.relpath(dirpath, staging)
                    rel_dir = "" if rel_dir == "." else rel_dir
                    target_dir = os.path.join(data_dir, rel_dir)
                    os.makedirs(target_dir, exist_ok=True)
                    new_name = f"{write_id}-{fn}"
                    os.rename(
                        os.path.join(dirpath, fn), os.path.join(target_dir, new_name)
                    )
                    rel_paths.append(os.path.join(rel_dir, new_name) if rel_dir else new_name)
        finally:
            # a failed write leaves no staging directory behind
            shutil.rmtree(staging, ignore_errors=True)
        return rel_paths

    @staticmethod
    def _collect_file_stats(data_dir: str, rel_paths: list[str]) -> dict[str, dict[str, list]]:
        """Read parquet footer statistics per written file (min/max per
        primitive column) — the same metadata Delta/Iceberg record at
        commit time to enable file skipping. Footer reads are O(KB) per
        file, driver-side, no data scan."""
        import pyarrow.parquet as pq

        out: dict[str, dict[str, list]] = {}
        for rel in rel_paths:
            try:
                md = pq.ParquetFile(os.path.join(data_dir, rel)).metadata
            except Exception:  # noqa: BLE001 — stats are an optimization only
                continue
            col_stats: dict[str, list] = {}
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                for ci in range(rgm.num_columns):
                    col = rgm.column(ci)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo, hi = st.min, st.max
                    if isinstance(lo, bytes):
                        try:
                            lo, hi = lo.decode(), hi.decode()
                        except UnicodeDecodeError:
                            continue
                    if not isinstance(lo, (int, float, str)):
                        continue
                    name = col.path_in_schema
                    if name in col_stats:
                        col_stats[name] = [min(col_stats[name][0], lo), max(col_stats[name][1], hi)]
                    else:
                        col_stats[name] = [lo, hi]
            if col_stats:
                out[rel] = col_stats
        return out

    # ----------------------------------------------------------------- API
    def table_exists(self, name: str) -> bool:
        """Reference: spark.catalog.tableExists gate (02_bronze.ipynb:279)."""
        return self._latest_manifest(name) is not None

    def read(self, name: str, version: int | None = None) -> DataFrame:
        manifest = (
            self._manifest_at(name, version) if version is not None else self._latest_manifest(name)
        )
        if manifest is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        schema = StructType.fromJson(json.loads(manifest.schema_json))
        data_dir = self._data_dir(name)
        if not manifest.files:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(data_dir, f) for f in manifest.files]
        reader = self.spark.read.schema(schema)
        if manifest.partition_by:
            reader = reader.option("basePath", data_dir)
        # The RECORDED schema is supplied explicitly (never inferred
        # from footers): files written before a column existed read it
        # as NULL — schema evolution without mergeSchema's
        # every-footer scan — and column order / partition-col types
        # follow the manifest.
        return reader.parquet(*paths).select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]
        )

    def _read_file_subset(
        self, name: str, manifest: Manifest, files: list[str]
    ) -> DataFrame:
        """Scan exactly ``files`` (rel paths) under ``name``'s recorded
        schema — the shared reader behind read / read_partitions and the
        partition-scoped merges. An empty subset is an empty DataFrame,
        not an empty scan."""
        schema = StructType.fromJson(json.loads(manifest.schema_json))
        if not files:
            return self.spark.createDataFrame([], schema)
        data_dir = self._data_dir(name)
        reader = self.spark.read.schema(schema)
        if manifest.partition_by:
            reader = reader.option("basePath", data_dir)
        return reader.parquet(*[os.path.join(data_dir, f) for f in files]).select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]
        )

    @staticmethod
    def _split_files_by_partitions(
        manifest: Manifest, pvals: list[tuple]
    ) -> tuple[list[str], list[str]]:
        """Split the manifest's files into (touched, untouched) by
        whether their hive partition-value tuple is in ``pvals`` (tuples
        ordered as manifest.partition_by). Matching parses the path
        segments and renders wanted values type-aware, exactly like
        read_partitions — manifest-level pruning, no scan."""
        schema = StructType.fromJson(json.loads(manifest.schema_json))
        dtypes = {f.name: f.dataType for f in schema.fields}
        wanted = {
            tuple(
                _render_partition_value(v, dtypes.get(c))
                for c, v in zip(manifest.partition_by, pv)
            )
            for pv in pvals
        }

        def file_tuple(rel: str) -> tuple:
            seen: dict[str, str] = {}
            for seg in rel.split(os.sep)[:-1]:
                parsed = parse_partition_segment(seg)
                if parsed and parsed[0] in manifest.partition_by:
                    seen[parsed[0]] = (
                        "\0null" if parsed[1] is None else parsed[1]
                    )
            return tuple(seen.get(c) for c in manifest.partition_by)

        touched, untouched = [], []
        for f in manifest.files:
            (touched if file_tuple(f) in wanted else untouched).append(f)
        return touched, untouched

    def read_where(
        self, name: str, column: str, lo=None, hi=None
    ) -> DataFrame:
        """Data-skipping read: scan only files whose footer [min, max]
        for ``column`` intersects [lo, hi] (either bound may be None),
        then apply the exact predicate.

        This is manifest-level file pruning — the mechanism behind
        Delta/Iceberg data skipping: at 100 TB a selective predicate on
        a write-clustered column (e.g. an event-time ingest) reduces
        the scan to the handful of files that can contain matches,
        before Spark ever plans the query. Files without recorded
        stats are conservatively kept.
        """
        manifest = self._latest_manifest(name)
        if manifest is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        schema = StructType.fromJson(json.loads(manifest.schema_json))

        def overlaps(rel: str) -> bool:
            st = manifest.stats.get(rel, {}).get(column)
            if st is None:
                return True
            fmin, fmax = st
            if lo is not None and fmax < lo:
                return False
            if hi is not None and fmin > hi:
                return False
            return True

        kept = [f for f in manifest.files if overlaps(f)]
        predicate = None
        if lo is not None:
            predicate = F.col(column) >= F.lit(lo)
        if hi is not None:
            p2 = F.col(column) <= F.lit(hi)
            predicate = p2 if predicate is None else (predicate & p2)
        if not kept:
            empty = self.spark.createDataFrame([], schema)
            return empty if predicate is None else empty.filter(predicate)
        data_dir = self._data_dir(name)
        reader = self.spark.read
        if manifest.partition_by:
            reader = reader.option("basePath", data_dir)
        df = reader.parquet(*[os.path.join(data_dir, f) for f in kept]).select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]
        )
        return df if predicate is None else df.filter(predicate)

    def read_partitions(self, name: str, column: str, values: list) -> DataFrame:
        """Manifest-level partition pruning: read ONLY the files that
        live under ``column=<value>/`` partition directories for the
        requested values. Unlike a filter (which Catalyst also prunes),
        the non-matching files never even enter the scan's file index —
        at 100 TB a 2-of-64-cell IVF probe plans a 1/32-of-corpus read
        before Spark sees a single path."""
        manifest = self._latest_manifest(name)
        if manifest is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        if column not in manifest.partition_by:
            raise ValueError(f"{column} is not a partition column of {name}")
        # Match by PARSING the dir segments rather than formatting the
        # wanted values: Spark percent-escapes special characters in
        # partition paths ('a b' → 'a%20b') and writes NULL as
        # __HIVE_DEFAULT_PARTITION__, so naive f"{col}={v}" string
        # equality silently misses those partitions. The renderer is
        # type-aware (column dtype from the manifest schema) so float /
        # date / timestamp / decimal keys match Spark's path form too.
        schema = StructType.fromJson(json.loads(manifest.schema_json))
        dtype = next((f.dataType for f in schema.fields if f.name == column), None)
        wanted = {_render_partition_value(v, dtype) for v in values}

        def seg_value(seg: str) -> str | None:
            parsed = parse_partition_segment(seg)
            if parsed is None or parsed[0] != column:
                return None
            return "\0null" if parsed[1] is None else parsed[1]

        kept = [
            f
            for f in manifest.files
            if any((sv := seg_value(seg)) is not None and sv in wanted
                   for seg in f.split(os.sep))
        ]
        return self._read_file_subset(name, manifest, kept)

    def skipped_file_count(self, name: str, column: str, lo=None, hi=None) -> tuple[int, int]:
        """(files_kept, files_total) for a prospective read_where —
        observability hook for tests and planning."""
        manifest = self._latest_manifest(name)
        if manifest is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        kept = 0
        for f in manifest.files:
            st = manifest.stats.get(f, {}).get(column)
            if st is None:
                kept += 1
                continue
            fmin, fmax = st
            if (lo is not None and fmax < lo) or (hi is not None and fmin > hi):
                continue
            kept += 1
        return kept, len(manifest.files)

    # --------------------------------------------------------------- analyze
    #
    # Table-level statistics (ANALYZE TABLE analogue): row count, total
    # data bytes, and per-column approx-NDV / null counts, computed in
    # ONE Spark aggregation pass and stored as a version-keyed sidecar
    # (`_log/<v>.analyze.json`) — not a commit, so the change feed and
    # time travel see no phantom version, and a reader always knows
    # which table version the stats describe (staleness is explicit).
    # At 100 TB: one scan with map-side partial HLL aggregation; bytes
    # come from file metadata, not data.
    def analyze(self, name: str, columns: list[str] | None = None) -> dict:
        """Compute and persist table statistics for the CURRENT version;
        returns the stats dict. ``columns`` defaults to every primitive
        (atomic-typed) column."""
        manifest = self._latest_manifest(name)
        if manifest is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        schema = StructType.fromJson(json.loads(manifest.schema_json))
        atomic = [
            f.name
            for f in schema.fields
            if f.dataType.typeName()
            not in ("array", "map", "struct", "binary")
        ]
        cols = [c for c in (columns or atomic) if c in atomic]
        df = self.read(name)
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in cols:
            aggs.append(F.approx_count_distinct(c).alias(f"_ndv_{c}"))
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nulls_{c}")
            )
        row = df.agg(*aggs).collect()[0]
        data_dir = self._data_dir(name)
        size_bytes = 0
        for rel in manifest.files:
            try:
                size_bytes += os.path.getsize(os.path.join(data_dir, rel))
            except OSError:
                pass
        stats = {
            "version": manifest.version,
            "row_count": int(row["_rows"]),
            "size_bytes": size_bytes,
            "ndv": {c: int(row[f"_ndv_{c}"]) for c in cols},
            "null_count": {c: int(row[f"_nulls_{c}"] or 0) for c in cols},
        }
        path = os.path.join(
            self._log_dir(name), f"{manifest.version:08d}.analyze.json"
        )
        tmp = os.path.join(self._log_dir(name), f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(json.dumps(stats))
        os.replace(tmp, path)
        return stats

    def table_stats(self, name: str) -> dict | None:
        """Latest recorded statistics at or below the current version,
        with ``stale_versions`` = commits since they were computed (0 =
        exactly current). None if the table was never analyzed."""
        versions = self._log_versions(name)
        if not versions:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        log_dir = self._log_dir(name)
        for v in reversed(versions):
            path = os.path.join(log_dir, f"{v:08d}.analyze.json")
            if os.path.exists(path):
                with open(path) as fh:
                    stats = json.loads(fh.read())
                stats["stale_versions"] = versions[-1] - stats["version"]
                return stats
        return None

    def read_hinted(self, name: str, version: int | None = None) -> DataFrame:
        """``read`` + a broadcast hint when recorded statistics say the
        table fits under spark.sql.autoBroadcastJoinThreshold.

        Spark's own size estimate is compressed-file bytes, which
        under-represents in-memory width on wide compressed tables and
        is unavailable after non-trivial sub-plans; recorded ANALYZE
        stats make the decision explicit and version-auditable. With no
        stats (or a too-big table) this is exactly ``read``."""
        df = self.read(name, version)
        stats = self.table_stats(name)
        if stats is None:
            return df
        raw = str(
            self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        ).strip().lower()
        mult = 1
        for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                       ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
            if raw.endswith(suf):
                raw, mult = raw[: -len(suf)], m
                break
        try:
            threshold = int(raw) * mult
        except ValueError:
            return df
        if threshold > 0 and stats["size_bytes"] <= threshold:
            return df.hint("broadcast")
        return df

    def save_overwrite(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        cluster_files: int | None = None,
        zorder_by: list[str] | None = None,
        optimize_write: bool = True,
    ) -> None:
        """Full load: format("delta").mode("overwrite")
        .option("overwriteSchema","true") equivalent (02_bronze.ipynb:301-310).

        ``cluster_by`` is the Z-order/liquid-clustering analogue for
        multi-column data skipping (beyond-reference; the reference
        runs plain OPTIMIZE): rows are range-repartitioned then sorted
        within files on the given columns, so each file's footer
        min/max for those columns covers a narrow slice and
        ``read_where`` prunes most files. Range-clustering gives
        perfect skipping on the leading column and locality on the
        rest — the same practical effect Z-ordering targets, using
        only built-in exchange/sort operators.

        ``zorder_by`` clusters on the interleaved Morton value instead
        (operators/zorder.py): balanced min/max skipping on EVERY
        listed column, where ``cluster_by``'s lexicographic sort skips
        only on the leading one. Use cluster_by for one hot filter
        column, zorder_by for multi-dimensional probe workloads.

        ``optimize_write`` (default on): see ``_write_files`` — the
        rebalance-hint write distribution shared by every write path;
        clustering supplies its own distribution, so the two are
        mutually exclusive here."""
        partition_by = partition_by or []
        distribute = bool(optimize_write)
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are mutually exclusive")
        if zorder_by:
            from ironman_medallion_lakehouse_spark.operators.zorder import zorder_value

            z = zorder_value(df, zorder_by)
            df = df.withColumn("_zv", z)
            df = (
                df.repartitionByRange(cluster_files, "_zv")
                if cluster_files
                else df.repartitionByRange("_zv")
            ).sortWithinPartitions("_zv").drop("_zv")
            distribute = False
        elif cluster_by:
            df = (
                df.repartitionByRange(cluster_files, *cluster_by)
                if cluster_files
                else df.repartitionByRange(*cluster_by)
            ).sortWithinPartitions(*cluster_by)
            distribute = False
        prev = self._latest_manifest(name)
        files = self._write_files(df, name, partition_by, distribute=distribute)
        self._commit(
            name,
            Manifest(
                version=(prev.version + 1 if prev else 1),
                schema_json=df.schema.json(),
                partition_by=partition_by,
                files=files,
                stats=self._collect_file_stats(self._data_dir(name), files),
            ),
            prev=prev,
        )

    @staticmethod
    def _evolved_schema(base: StructType, incoming: StructType) -> StructType:
        """Delta ``mergeSchema``/``autoMerge`` widening: base fields in
        order, then incoming-only fields appended (nullable). Never
        drops or retypes an existing column."""
        names = {f.name for f in base.fields}
        from pyspark.sql.types import StructField

        return StructType(
            list(base.fields)
            + [
                StructField(f.name, f.dataType, True)
                for f in incoming.fields
                if f.name not in names
            ]
        )

    @staticmethod
    def _reject_extra_columns(source: DataFrame, schema: StructType, name: str) -> None:
        """Without merge_schema, a source column the table lacks is a
        hard error — the old behavior silently DROPPED it (data loss);
        Delta MERGE without autoMerge fails the same way."""
        extra = [c for c in source.columns if c not in {f.name for f in schema.fields}]
        if extra:
            raise ValueError(
                f"source carries columns {extra} that {name} lacks; pass "
                "merge_schema=True to widen the table (Delta autoMerge) "
                "or drop them upstream"
            )

    @staticmethod
    def _project_to(df: DataFrame, schema: StructType) -> DataFrame:
        """Project df to exactly ``schema``'s columns/order — present
        columns cast, absent columns NULL."""
        have = set(df.columns)
        return df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )

    def merge_insert_only(
        self,
        source: DataFrame,
        name: str,
        keys: list[str],
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
    ) -> None:
        """whenNotMatchedInsertAll() merge (02_bronze.ipynb:311-318).

        Appends only rows whose key tuple is absent from the target.
        Scans only the target partitions the source touches —
        manifest-level pruning: the untouched partitions' files never
        enter the anti-join scan's file index (the source's distinct
        partition set is tiny by construction: one year per incremental
        run).

        ``partition_by`` applies only when the merge CREATES the table
        (first micro-batch of a streaming merge, first incremental run):
        without it the table is born unpartitioned and every later
        batch inherits that layout (r2 ADVICE). For an existing table
        the recorded layout wins; a conflicting request raises.

        ``merge_schema=True`` (Delta autoMerge analogue) lets the
        source widen the table: source-only columns are appended to the
        recorded schema and existing files read them as NULL (the read
        path supplies the manifest schema explicitly, so no footer
        rescans); source-missing columns insert as NULL. Earlier
        versions keep their own schema_json, so time travel returns
        the schema that version actually had. Without the flag, a
        schema mismatch fails analysis — evolution must be opted into,
        exactly as Delta requires.
        """
        if not self.table_exists(name):
            self.save_overwrite(source, name, partition_by=partition_by)
            return
        manifest = self._latest_manifest(name)
        if partition_by is not None and partition_by != manifest.partition_by:
            raise ValueError(
                f"{name} is partitioned by {manifest.partition_by}; "
                f"cannot merge with partition_by={partition_by}"
            )
        schema = StructType.fromJson(json.loads(manifest.schema_json))
        if merge_schema:
            schema = self._evolved_schema(schema, source.schema)
        else:
            self._reject_extra_columns(source, schema, name)
        target = self.read(name)
        # Pruning is sound only when the partition columns are part of
        # the merge keys: then equal keys imply equal partition values,
        # so a source row can only match inside its own partition.
        if manifest.partition_by and set(manifest.partition_by) <= set(keys):
            pvals = [
                tuple(r)
                for r in source.select(*manifest.partition_by).distinct().collect()
            ]
            touched, _untouched = self._split_files_by_partitions(manifest, pvals)
            target = self._read_file_subset(name, manifest, touched)
        src = (
            self._project_to(source, schema)
            if merge_schema
            else source.select(*[f.name for f in schema.fields])
        )
        new_rows = src.join(target.select(*keys), on=keys, how="left_anti")
        files = self._write_files(new_rows, name, manifest.partition_by)
        stats = dict(manifest.stats)
        stats.update(self._collect_file_stats(self._data_dir(name), files))
        self._commit(
            name,
            Manifest(
                version=manifest.version + 1,
                schema_json=schema.json(),
                partition_by=manifest.partition_by,
                files=manifest.files + files,
                stats=stats,
            ),
            prev=manifest,
        )

    def merge_scd1(
        self,
        source: DataFrame,
        name: str,
        keys: list[str],
        update_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
    ) -> None:
        """whenMatchedUpdate(set=update_cols).whenNotMatchedInsertAll()
        (04a_gold_dim_athletes.ipynb:311-328).

        Matched target rows take the source's values for ``update_cols``
        (all non-key columns by default) and keep their other columns
        (e.g. ``created_at`` survives, ``updated_at`` refreshes — the
        reference's SCD-1 contract). Unmatched source rows are inserted.

        **Rewrite scope.** When every partition column is one of
        ``keys`` (the usual layout for an incremental SCD-1 target:
        partition key ⊆ natural key), only the partitions PRESENT IN THE
        SOURCE are read and rewritten — equal keys imply equal
        partition values, so a match cannot live elsewhere, and an
        update cannot move a row across partitions. Untouched
        partitions' files are carried into the new manifest
        byte-identical, so the commit's change feed contains only
        touched-partition rows and the merge costs O(touched), not
        O(table) — the property that keeps SCD-1 viable on a
        partitioned 100 TB target. When the partition columns are NOT
        all keys (or the table is unpartitioned), a match may live in
        any partition, so the whole table is rewritten — correct, but
        O(table); lay out SCD-1 targets with partition ⊆ key.

        ``partition_by`` applies only when the merge creates the table
        (same contract as merge_insert_only). ``merge_schema=True``
        widens the table with source-only columns (existing rows read
        them as NULL); matched-row updates then assign only columns the
        SOURCE carries — a target-only column keeps its value instead
        of being clobbered to NULL, Delta's UPDATE SET * + autoMerge
        semantics.
        """
        if not self.table_exists(name):
            self.save_overwrite(source, name, partition_by=partition_by)
            return
        manifest = self._latest_manifest(name)
        if partition_by is not None and partition_by != manifest.partition_by:
            raise ValueError(
                f"{name} is partitioned by {manifest.partition_by}; "
                f"cannot merge with partition_by={partition_by}"
            )
        schema = StructType.fromJson(json.loads(manifest.schema_json))
        if merge_schema:
            schema = self._evolved_schema(schema, source.schema)
        else:
            self._reject_extra_columns(source, schema, name)
        untouched: list[str] = []
        if manifest.partition_by and set(manifest.partition_by) <= set(keys):
            pvals = [
                tuple(r)
                for r in source.select(*manifest.partition_by).distinct().collect()
            ]
            touched, untouched = self._split_files_by_partitions(manifest, pvals)
            target = self._read_file_subset(name, manifest, touched)
        else:
            target = self.read(name)
        if merge_schema:
            target = self._project_to(target, schema)
        cols = [f.name for f in schema.fields]
        update_cols = update_cols or [c for c in cols if c not in keys]
        if merge_schema:
            # UPDATE SET assigns only source-carried columns
            update_cols = [c for c in update_cols if c in set(source.columns)]

        # Delta MERGE raises on duplicate source matches; reproduce that
        # contract instead of silently fanning target rows out. One
        # aggregate job over the (small, incremental) source slice.
        dup_keys = (
            source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup_keys:
            raise ValueError(
                f"merge_scd1 source has duplicate rows per key {keys}; "
                "deduplicate upstream (Delta MERGE semantics)"
            )

        # Explicit match indicator: keys[0] IS NOT NULL misreads a
        # NULL-keyed source row that eqNullSafe-matched a NULL-keyed
        # target row as unmatched (r2 ADVICE fix).
        src_proj = (
            self._project_to(source, schema) if merge_schema else source.select(*cols)
        )
        src = src_proj.withColumn("_src_matched", F.lit(True)).alias("s")
        tgt = target.alias("t")
        match_cond = None
        for k in keys:
            e = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
            match_cond = e if match_cond is None else (match_cond & e)

        merged_existing = tgt.join(src, match_cond, "left").select(
            *[
                F.when(
                    F.col("s._src_matched"), F.col(f"s.{c}")
                ).otherwise(F.col(f"t.{c}")).alias(c)
                if c in update_cols
                else F.col(f"t.{c}").alias(c)
                for c in cols
            ]
        )
        # Null-safe anti-join so a NULL-keyed source row that matched a
        # NULL-keyed target row is not ALSO inserted as new.
        anti_src = src_proj.alias("s")
        inserts = anti_src.join(tgt.select(*keys).alias("t"), match_cond, "left_anti").select(
            *[F.col(f"s.{c}").alias(c) for c in cols]
        )
        result = merged_existing.unionByName(inserts)
        files = self._write_files(result, name, manifest.partition_by)
        # carry untouched partitions' files (and their stats) forward
        # unchanged; only the rewritten partitions' files are "added"
        # in the delta entry, so CDC stays O(touched)
        stats = {f: manifest.stats[f] for f in untouched if f in manifest.stats}
        stats.update(self._collect_file_stats(self._data_dir(name), files))
        self._commit(
            name,
            Manifest(
                version=manifest.version + 1,
                schema_json=schema.json(),
                partition_by=manifest.partition_by,
                files=untouched + files,
                stats=stats,
            ),
            prev=manifest,
        )

    SCD2_COLS = ("valid_from", "valid_to", "is_current")

    def merge_scd2(
        self,
        source: DataFrame,
        name: str,
        keys: list[str],
        effective_ts: str,
        track_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """SCD Type-2 history-tracking merge (the Kimball pattern Delta
        users build with a two-branch MERGE): the target carries
        ``valid_from``/``valid_to``/``is_current`` metadata; for each
        source key whose tracked attributes changed, the CURRENT row is
        closed (``valid_to = effective_ts``, ``is_current = false``)
        and a new current version is inserted; unchanged keys are
        untouched; new keys insert an open row. Historical rows are
        never modified, so the full attribute timeline is queryable
        (``WHERE ts >= valid_from AND (valid_to IS NULL OR ts <
        valid_to)`` — the as-of lookup ``operators/asof.py`` serves at
        scan time).

        ``effective_ts`` is an explicit ``'yyyy-MM-dd[ HH:mm:ss]'``
        literal, NOT now(): version boundaries must be deterministic
        and replay-idempotent (re-running the same merge with the same
        source and timestamp is a no-op — nothing is tracked-changed).

        ``track_cols`` defaults to every natural (non-key, non-SCD2)
        column; change detection is null-safe per column. Duplicate
        source keys raise, matching Delta MERGE. Rewrite scope follows
        ``merge_scd1``: partition ⊆ key layouts rewrite only
        source-touched partitions (all versions of a key share its
        partition values, so history rows never move), everything else
        is O(table).
        """
        meta = list(self.SCD2_COLS)
        ts = F.lit(effective_ts).cast("timestamp")
        if not self.table_exists(name):
            init = source.withColumn("valid_from", ts).withColumn(
                "valid_to", F.lit(None).cast("timestamp")
            ).withColumn("is_current", F.lit(True))
            self.save_overwrite(init, name, partition_by=partition_by)
            return
        manifest = self._latest_manifest(name)
        if partition_by is not None and partition_by != manifest.partition_by:
            raise ValueError(
                f"{name} is partitioned by {manifest.partition_by}; "
                f"cannot merge with partition_by={partition_by}"
            )
        untouched: list[str] = []
        if manifest.partition_by and set(manifest.partition_by) <= set(keys):
            pvals = [
                tuple(r)
                for r in source.select(*manifest.partition_by).distinct().collect()
            ]
            touched, untouched = self._split_files_by_partitions(manifest, pvals)
            target = self._read_file_subset(name, manifest, touched)
        else:
            target = self.read(name)
        cols = [f.name for f in target.schema.fields]
        missing = [c for c in meta if c not in cols]
        if missing:
            raise ValueError(
                f"{name} lacks SCD-2 columns {missing}; create the table "
                "through merge_scd2 (or add valid_from/valid_to/is_current)"
            )
        natural = [c for c in cols if c not in meta]
        track_cols = track_cols or [c for c in natural if c not in keys]
        src_extra = [c for c in source.columns if c not in natural]
        if src_extra:
            raise ValueError(
                f"merge_scd2 source must carry only natural columns; "
                f"unexpected {src_extra} (SCD-2 metadata is engine-managed)"
            )
        dup_keys = (
            source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup_keys:
            raise ValueError(
                f"merge_scd2 source has duplicate rows per key {keys}; "
                "deduplicate upstream (Delta MERGE semantics)"
            )

        src = source.select(*natural).alias("s")
        # alias AFTER withColumn — withColumn drops a prior alias
        src_m = source.select(*natural).withColumn("_m", F.lit(True)).alias("s")
        cur = target.filter(F.col("is_current")).alias("t")
        hist = target.filter(~F.col("is_current"))
        match_cond = None
        for k in keys:
            e = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
            match_cond = e if match_cond is None else (match_cond & e)
        changed = None
        for c in track_cols:
            e = ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
            changed = e if changed is None else (changed | e)
        changed = F.coalesce(changed, F.lit(False)) if changed is not None else F.lit(False)

        # current rows: closed when a changed source row matches, else as-is
        joined = cur.join(src_m, match_cond, "left")
        close_now = F.coalesce(F.col("_m"), F.lit(False)) & changed
        kept_current = joined.select(
            *[F.col(f"t.{c}").alias(c) for c in natural],
            F.col("t.valid_from").alias("valid_from"),
            F.when(close_now, ts).otherwise(F.col("t.valid_to")).alias("valid_to"),
            F.when(close_now, F.lit(False)).otherwise(F.col("t.is_current")).alias("is_current"),
        )
        # new current versions: changed matches + brand-new keys
        new_changed = cur.join(src, match_cond).filter(changed).select(
            *[F.col(f"s.{c}").alias(c) for c in natural]
        )
        new_keys = src.join(cur.select(*keys).alias("t"), match_cond, "left_anti").select(
            *[F.col(f"s.{c}").alias(c) for c in natural]
        )
        openers = (
            new_changed.unionByName(new_keys)
            .withColumn("valid_from", ts)
            .withColumn("valid_to", F.lit(None).cast("timestamp"))
            .withColumn("is_current", F.lit(True))
        )
        result = hist.select(*cols).unionByName(
            kept_current.select(*cols)
        ).unionByName(openers.select(*cols))
        files = self._write_files(result, name, manifest.partition_by)
        stats = {f: manifest.stats[f] for f in untouched if f in manifest.stats}
        stats.update(self._collect_file_stats(self._data_dir(name), files))
        self._commit(
            name,
            Manifest(
                version=manifest.version + 1,
                schema_json=manifest.schema_json,
                partition_by=manifest.partition_by,
                files=untouched + files,
                stats=stats,
            ),
            prev=manifest,
        )

    # ------------------------------------------------------- predicate DML
    def _touched_files_for(
        self,
        name: str,
        manifest: Manifest,
        cond,
        prune_column: str | None = None,
        prune_lo=None,
        prune_hi=None,
    ) -> tuple[list[str], list[str]]:
        """(touched, untouched) relative file paths for a predicate DML.

        Two-phase file discovery, exactly Delta's DELETE/UPDATE planning:

        1. *Stats prune* (optional ``prune_column``/``lo``/``hi`` range
           hint): drop files whose recorded footer [min, max] cannot
           intersect the range — zero I/O, manifest-only. At 100 TB a
           time-scoped delete on an ingest-clustered table eliminates
           almost every file here.
        2. *Discovery scan*: read the surviving candidates projecting
           ONLY the predicate's columns plus ``input_file_name()`` and
           collect the distinct files holding a matching row (bounded
           by the file count, not the row count). A candidate file with
           no matching row is carried forward untouched — its bytes are
           never rewritten and it never appears in the change feed.
        """
        candidates: list[str] = []
        pruned_out: list[str] = []
        for f in manifest.files:
            st = (
                manifest.stats.get(f, {}).get(prune_column)
                if prune_column is not None
                else None
            )
            if st is not None and (
                (prune_lo is not None and st[1] < prune_lo)
                or (prune_hi is not None and st[0] > prune_hi)
            ):
                pruned_out.append(f)
            else:
                candidates.append(f)
        if not candidates:
            return [], list(manifest.files)
        from urllib.parse import unquote, urlparse

        scan = self._read_file_subset(name, manifest, candidates)
        hit_uris = [
            r[0]
            for r in scan.filter(cond)
            .select(F.input_file_name())
            .distinct()
            .collect()
        ]
        data_dir = os.path.realpath(self._data_dir(name))
        hit = {
            os.path.relpath(os.path.realpath(unquote(urlparse(u).path)), data_dir)
            for u in hit_uris
        }
        touched = [f for f in candidates if f in hit]
        untouched = pruned_out + [f for f in candidates if f not in hit]
        # preserve manifest order for byte-identical carry-forward checks
        untouched = [f for f in manifest.files if f in set(untouched)]
        return touched, untouched

    def delete_where(
        self,
        name: str,
        condition,
        prune_column: str | None = None,
        prune_lo=None,
        prune_hi=None,
    ) -> dict:
        """``DELETE FROM name WHERE condition`` — Delta-semantics
        copy-on-write delete (the table op the reference's Delta layer
        inherits; delta-io protocol, re-derived).

        Rows where the condition is TRUE are deleted; FALSE and NULL
        rows are kept (SQL three-valued DELETE). Only files that
        actually hold a matching row are rewritten (see
        ``_touched_files_for``); every other file — including files in
        the same partition — carries forward byte-identical, so the
        change feed reports O(matched files), not O(table). A delete
        that matches nothing commits nothing and leaves the version
        unchanged.

        Returns metrics ``{"rows_deleted", "files_rewritten",
        "files_total", "version"}`` (numDeletedRows analogue).
        """
        manifest = self._latest_manifest(name)
        if manifest is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        touched, untouched = self._touched_files_for(
            name, manifest, cond, prune_column, prune_lo, prune_hi
        )
        if not touched:
            return {
                "rows_deleted": 0,
                "files_rewritten": 0,
                "files_total": len(manifest.files),
                "version": manifest.version,
            }
        subset = self._read_file_subset(name, manifest, touched)
        # keep = NOT(cond IS TRUE); one pass counts both sides
        counts = subset.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(cond, 1).otherwise(0)).alias("d"),
        ).collect()[0]
        kept = subset.filter(~F.coalesce(cond, F.lit(False)))
        files = self._write_files(kept, name, manifest.partition_by)
        stats = {f: manifest.stats[f] for f in untouched if f in manifest.stats}
        stats.update(self._collect_file_stats(self._data_dir(name), files))
        self._commit(
            name,
            Manifest(
                version=manifest.version + 1,
                schema_json=manifest.schema_json,
                partition_by=manifest.partition_by,
                files=untouched + files,
                stats=stats,
            ),
            prev=manifest,
        )
        return {
            "rows_deleted": int(counts["d"] or 0),
            "files_rewritten": len(touched),
            "files_total": len(manifest.files),
            "version": manifest.version + 1,
        }

    def update_where(
        self,
        name: str,
        condition,
        set: dict,
        prune_column: str | None = None,
        prune_lo=None,
        prune_hi=None,
    ) -> dict:
        """``UPDATE name SET col = expr, ... WHERE condition`` —
        copy-on-write update with the same touched-file planning as
        ``delete_where``. Rows where the condition is TRUE get each
        ``set`` expression (a Column or SQL string, evaluated against
        the pre-update row, cast to the column's recorded type); FALSE/
        NULL rows — and every row in an untouched file — are byte-for-
        byte preserved. Updating a partition column is allowed: rewritten
        rows move to their new partition directory (Delta allows the
        same; the untouched-file carry-forward is unaffected).

        Returns ``{"rows_updated", "files_rewritten", "files_total",
        "version"}``.
        """
        manifest = self._latest_manifest(name)
        if manifest is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        schema = StructType.fromJson(json.loads(manifest.schema_json))
        known = {f.name: f.dataType for f in schema.fields}
        bad = [c for c in set if c not in known]
        if bad:
            raise ValueError(f"UPDATE SET targets unknown columns {bad} on {name}")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        touched, untouched = self._touched_files_for(
            name, manifest, cond, prune_column, prune_lo, prune_hi
        )
        if not touched:
            return {
                "rows_updated": 0,
                "files_rewritten": 0,
                "files_total": len(manifest.files),
                "version": manifest.version,
            }
        subset = self._read_file_subset(name, manifest, touched)
        n_updated = int(
            subset.agg(F.sum(F.when(cond, 1).otherwise(0))).collect()[0][0] or 0
        )
        assigns = {
            c: (F.expr(e) if isinstance(e, str) else e).cast(known[c])
            for c, e in set.items()
        }
        is_hit = F.coalesce(cond, F.lit(False))
        rewritten = subset.select(
            *[
                F.when(is_hit, assigns[f.name]).otherwise(F.col(f.name)).alias(f.name)
                if f.name in assigns
                else F.col(f.name)
                for f in schema.fields
            ]
        )
        files = self._write_files(rewritten, name, manifest.partition_by)
        stats = {f: manifest.stats[f] for f in untouched if f in manifest.stats}
        stats.update(self._collect_file_stats(self._data_dir(name), files))
        self._commit(
            name,
            Manifest(
                version=manifest.version + 1,
                schema_json=manifest.schema_json,
                partition_by=manifest.partition_by,
                files=untouched + files,
                stats=stats,
            ),
            prev=manifest,
        )
        return {
            "rows_updated": n_updated,
            "files_rewritten": len(touched),
            "files_total": len(manifest.files),
            "version": manifest.version + 1,
        }

    def optimize(
        self,
        name: str,
        target_partitions: int | None = None,
        min_files: int = 2,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """OPTIMIZE — bin-pack small files (02_bronze.ipynb:354).

        Rewrites the current version's data into fewer, larger files and
        commits a new manifest. Old files stay for time travel until
        vacuum().

        **No-op unless compaction would actually happen**: when no data
        directory holds ≥ ``min_files`` files there is nothing to
        bin-pack, and rewriting a table 1:1 on every pipeline run is
        O(table) wasted work that doubles on-disk data until vacuum()
        and pollutes the change feed (r2 ADVICE fix). Callers on an
        incremental cadence should raise ``min_files`` so compaction
        amortizes (see pipeline.run).

        Partitioned tables compact to one file per partition directory
        (repartition on the partition columns); unpartitioned tables
        coalesce to ``target_partitions`` (default 1).

        ``cluster_by`` reclusters during the rewrite: range-repartition
        + sort-within-files on the given columns so footer min/max
        skipping works on the leading column. ``zorder_by`` reclusters
        on the interleaved Morton value instead (OPTIMIZE … ZORDER BY:
        balanced skipping on every listed column). Reclustering always
        rewrites (min_files does not gate it).
        """
        manifest = self._latest_manifest(name)
        if manifest is None:
            return
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are mutually exclusive")
        if target_partitions is None and not cluster_by and not zorder_by:
            from collections import Counter

            per_dir = Counter(os.path.dirname(f) for f in manifest.files)
            if not per_dir or max(per_dir.values()) < min_files:
                return
        df = self.read(name)
        if zorder_by:
            from ironman_medallion_lakehouse_spark.operators.zorder import zorder_value

            df = df.withColumn("_zv", zorder_value(df, zorder_by))
            n = target_partitions
            df = (
                df.repartitionByRange(n, "_zv") if n else df.repartitionByRange("_zv")
            ).sortWithinPartitions("_zv").drop("_zv")
        elif cluster_by:
            n = target_partitions
            df = (
                df.repartitionByRange(n, *cluster_by)
                if n
                else df.repartitionByRange(*cluster_by)
            ).sortWithinPartitions(*cluster_by)
        elif target_partitions:
            df = df.repartition(target_partitions, *manifest.partition_by) if manifest.partition_by else df.coalesce(target_partitions)
        elif manifest.partition_by:
            df = df.repartition(*manifest.partition_by)
        else:
            df = df.coalesce(1)
        # every branch above arranged its own distribution — don't
        # re-shuffle in the write layer
        files = self._write_files(df, name, manifest.partition_by, distribute=False)
        self._commit(
            name,
            Manifest(
                version=manifest.version + 1,
                schema_json=manifest.schema_json,
                partition_by=manifest.partition_by,
                files=files,
                stats=self._collect_file_stats(self._data_dir(name), files),
            ),
            prev=manifest,
        )

    def vacuum(
        self,
        name: str,
        retain_versions: int = 0,
        retain_hours: float | None = None,
    ) -> int:
        """Delete data files not referenced by any RETAINED manifest
        version. Retained = the latest version, plus the last
        ``retain_versions`` before it, plus every version whose commit
        is younger than ``retain_hours`` (log-entry mtime — the
        analogue of Delta's ``deletedFileRetentionDuration``).

        **Defaults keep only the latest version** — that invalidates
        time travel to all earlier versions AND any change-feed
        streaming checkpoint that has not yet consumed past them (a
        stream restarting from an old offset would try to read removed
        files). Callers running streams over this table should pass a
        horizon comfortably beyond their maximum stream downtime, just
        as with Delta's retention duration."""
        manifest = self._latest_manifest(name)
        if manifest is None:
            return 0
        live = set(manifest.files)
        versions = self._log_versions(name)
        keep_after: set[int] = set(versions[-(retain_versions + 1):])
        if retain_hours is not None:
            import time

            horizon = time.time() - retain_hours * 3600.0
            log_dir = self._log_dir(name)
            for v in versions:
                entry = os.path.join(log_dir, f"{v:08d}.json")
                try:
                    if os.path.getmtime(entry) >= horizon:
                        keep_after.add(v)
                except OSError:
                    keep_after.add(v)
        for v in keep_after:
            m = self._manifest_at(name, v)
            if m is not None:
                live.update(m.files)
        data_dir = self._data_dir(name)
        removed = 0
        for dirpath, _d, filenames in os.walk(data_dir):
            for fn in filenames:
                rel = os.path.relpath(os.path.join(dirpath, fn), data_dir)
                if rel not in live:
                    os.remove(os.path.join(dirpath, fn))
                    removed += 1
        return removed

    def restore(self, name: str, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF`` analogue: make
        the CURRENT state equal the state at ``version`` by committing
        a NEW version whose manifest (files, schema, partitioning,
        stats) is the target's. No data is copied — the old files are
        simply referenced again — and history is preserved: the restore
        is itself a commit, so time travel to the pre-restore state
        still works and the change feed sees the restore as adds of
        the re-referenced files. Returns the new version number.

        Raises FileNotFoundError when any needed data file was removed
        by ``vacuum`` (Delta fails restores past the retention horizon
        the same way), ValueError for an unknown table/version."""
        latest = self._latest_manifest(name)
        if latest is None:
            raise ValueError(f"table {name} does not exist")
        target = self._manifest_at(name, version)
        if target is None:
            raise ValueError(f"version {version} of {name} not found")
        data_dir = self._data_dir(name)
        missing = [
            f for f in target.files if not os.path.exists(os.path.join(data_dir, f))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {name} to version {version}: {len(missing)} data "
                f"file(s) were removed by vacuum (e.g. {missing[0]}); restore is "
                "only possible within the vacuum retention horizon"
            )
        new_version = latest.version + 1
        self._commit(
            name,
            Manifest(
                version=new_version,
                schema_json=target.schema_json,
                partition_by=list(target.partition_by),
                files=list(target.files),
                stats=dict(target.stats),
            ),
            prev=latest,
        )
        return new_version

    def table_changes(self, name: str, from_version: int, to_version: int | None = None) -> DataFrame:
        """Rows ADDED between two versions (change-data-feed analogue).

        Because data files are immutable and manifests list them
        explicitly, the delta between versions is a file-set diff —
        the changed rows are read by scanning ONLY the added files,
        never the table. This is what makes incremental downstream
        consumption O(changes) at 100 TB: a consumer processes
        table_changes(t, last_seen_version) instead of diffing a full
        snapshot. (SCD-1/OPTIMIZE versions rewrite files, so their
        "added files" are the rewritten result — consumers of
        update-heavy tables should diff on keys downstream.)
        """
        m_from = self._manifest_at(name, from_version)
        m_to = (
            self._manifest_at(name, to_version)
            if to_version is not None
            else self._latest_manifest(name)
        )
        if m_from is None or m_to is None:
            raise FileNotFoundError(f"version not found for {name}")
        added = [f for f in m_to.files if f not in set(m_from.files)]
        schema = StructType.fromJson(json.loads(m_to.schema_json))
        if not added:
            return self.spark.createDataFrame([], schema)
        data_dir = self._data_dir(name)
        reader = self.spark.read
        if m_to.partition_by:
            reader = reader.option("basePath", data_dir)
        return reader.parquet(*[os.path.join(data_dir, f) for f in added]).select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]
        )

    def register_views(self, *names: str) -> None:
        """Expose tables as temp views named ``<db>_<table>`` so SQL
        (the 13 dashboard views) can reference them."""
        for name in names:
            view = name.replace(".", "_")
            self.read(name).createOrReplaceTempView(view)
