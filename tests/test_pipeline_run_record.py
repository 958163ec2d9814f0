"""The incremental run record: an identical incremental re-run is skipped
(no Spark job, no commit); a changed input file makes the next run a full
run; a commit by another writer, or a crash between layer commits, makes
the next run redo only that layer and the layers below it."""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time
import uuid

import pytest

from ironman_medallion_lakehouse_spark import config as C
from ironman_medallion_lakehouse_spark import pipeline
from ironman_medallion_lakehouse_spark.config import FileSpec, PipelineConfig
from ironman_medallion_lakehouse_spark.plans import bronze as bronze_plan
from ironman_medallion_lakehouse_spark.plans import gold_dims, gold_fact
from ironman_medallion_lakehouse_spark.plans import silver as silver_plan
from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

SPECS = [
    FileSpec(2023, "M", "2023_men.csv"),
    FileSpec(2023, "F", "2023_women.csv"),
    FileSpec(2024, "M", "2024_men.csv"),
    FileSpec(2024, "F", "2024_women.csv"),
]
KEY_COLUMNS = {
    C.BRONZE_TABLE: "row_key",
    C.SILVER_TABLE: "row_key",
    C.FACT_RESULTS: "row_key",
    C.DIM_ATHLETES: "athlete_natural_key",
    C.DIM_COUNTRIES: "country",
    C.DIM_DIVISIONS: "division",
}


def _incremental(landing: str, warehouse: str) -> PipelineConfig:
    return PipelineConfig(
        source_dir=landing, warehouse_dir=warehouse, run_mode="incremental",
        process_year=2024, files=SPECS,
    )


@pytest.fixture(scope="module")
def loaded(spark, landing_dir, tmp_path_factory):
    """A 2023 full load (``base``) and, on a copy of it, a completed
    2024 incremental load (``warehouse``) over a private landing copy."""
    root = tmp_path_factory.mktemp("run_record")
    landing, base, warehouse = (str(root / d) for d in ("landing", "base", "warehouse"))
    shutil.copytree(landing_dir, landing)
    pipeline.run(spark, PipelineConfig(
        source_dir=landing, warehouse_dir=base, run_mode="full",
        files=[s for s in SPECS if s.year == 2023],
    ))
    shutil.copytree(base, warehouse)
    result = pipeline.run(spark, _incremental(landing, warehouse))
    assert not result.reused
    return {"landing": landing, "base": base, "warehouse": warehouse, "result": result}


def _copy(loaded, tmp_path, warehouse_key="warehouse") -> tuple[str, str]:
    """Private copies of the landing files and a warehouse; copytree
    keeps file mtimes, so the run identity is unchanged."""
    landing, warehouse = str(tmp_path / "landing"), str(tmp_path / "warehouse")
    shutil.copytree(loaded["landing"], landing)
    shutil.copytree(loaded[warehouse_key], warehouse)
    return landing, warehouse


def _versions(spark, warehouse: str) -> dict:
    store = TableStore(spark, warehouse)
    return {t: store._log_versions(t) for t in pipeline.ALL_TABLES}


def _key_sets(spark, warehouse: str) -> dict:
    store = TableStore(spark, warehouse)
    return {
        t: {r[0] for r in store.read(t).select(col).collect()}
        for t, col in KEY_COLUMNS.items()
    }


def _layers_built(monkeypatch) -> list[str]:
    """Record, in order, each layer whose build function a run calls."""
    built = []
    for layer, module, name in [
        ("bronze", bronze_plan, "build_bronze"),
        ("silver", silver_plan, "build_silver"),
        ("dims", gold_dims, "build_dim_athletes"),
        ("fact", gold_fact, "build_fact"),
    ]:
        def spy(*args, _layer=layer, _build=getattr(module, name), **kwargs):
            built.append(_layer)
            return _build(*args, **kwargs)

        monkeypatch.setattr(module, name, spy)
    return built


def _run_counting_jobs(spark, fn):
    """Run ``fn`` under a job group; return its result and the number
    of Spark jobs it ran. A marker job runs last in the group: the
    listener bus delivers events in order, so once the marker is
    visible every earlier job of the group is too."""
    sc = spark.sparkContext
    group = f"run-record-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs of one pipeline call")
    try:
        out = fn()
        spark.range(1).collect()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(group) and time.monotonic() < deadline:
        time.sleep(0.05)
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs, "the marker job never became visible"
    return out, len(jobs) - 1


def test_identical_rerun_is_reused_without_jobs_or_commits(spark, loaded, tmp_path):
    landing, warehouse = _copy(loaded, tmp_path)
    before = _versions(spark, warehouse)
    spark.catalog.dropTempView("vw_kpi_metrics")

    result, jobs = _run_counting_jobs(
        spark, lambda: pipeline.run(spark, _incremental(landing, warehouse))
    )

    assert result.reused
    assert result == dataclasses.replace(loaded["result"], reused=True)
    assert jobs == 0
    assert _versions(spark, warehouse) == before
    # the skipped run still serves the dashboard views, over this warehouse
    kpi = spark.sql("SELECT * FROM vw_kpi_metrics").collect()[0]
    assert kpi.total_athletes == 20 and kpi.latest_year == 2024


def test_changed_input_file_makes_the_next_run_full(spark, loaded, tmp_path):
    landing, warehouse = _copy(loaded, tmp_path)
    cfg = _incremental(landing, warehouse)
    assert pipeline.run(spark, cfg).reused

    path = SPECS[2].path(landing)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    touched = pipeline.run(spark, cfg)
    assert not touched.reused
    assert (touched.bronze_rows, touched.silver_rows, touched.fact_rows) == (20, 20, 20)
    assert pipeline.run(spark, cfg).reused  # the full run wrote a new record

    # the same mtime with a different size: a blank line the CSV reader skips
    st = os.stat(path)
    with open(path, "a") as fh:
        fh.write("\n")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    resized = pipeline.run(spark, cfg)
    assert not resized.reused
    assert resized.fact_rows == 20


@pytest.mark.parametrize(
    "table, redone",
    [(C.FACT_RESULTS, ["fact"]), (C.SILVER_TABLE, ["silver", "dims", "fact"])],
)
def test_commit_by_another_writer_redoes_that_layer_and_below(
    spark, loaded, tmp_path, monkeypatch, table, redone
):
    landing, warehouse = _copy(loaded, tmp_path)
    cfg = _incremental(landing, warehouse)
    store = TableStore(spark, warehouse)
    version = store._log_versions(table)[-1]
    store.optimize(table, min_files=1)
    assert store._log_versions(table)[-1] == version + 1
    before = _versions(spark, warehouse)

    built = _layers_built(monkeypatch)
    result = pipeline.run(spark, cfg)
    assert not result.reused
    assert built == redone
    assert _versions(spark, warehouse)[C.BRONZE_TABLE] == before[C.BRONZE_TABLE]
    assert result == loaded["result"]
    assert _key_sets(spark, warehouse) == _key_sets(spark, loaded["warehouse"])
    assert pipeline.run(spark, cfg).reused


def test_retry_after_crash_redoes_only_the_unfinished_layers(
    spark, loaded, tmp_path, monkeypatch
):
    landing, warehouse = _copy(loaded, tmp_path, warehouse_key="base")
    cfg = _incremental(landing, warehouse)
    before = _versions(spark, warehouse)

    def crash(*_args, **_kwargs):
        raise RuntimeError("injected crash before the fact layer")

    with monkeypatch.context() as m:
        m.setattr(gold_fact, "build_fact", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            pipeline.run(spark, cfg)
    crashed = _versions(spark, warehouse)
    for table in (C.BRONZE_TABLE, C.SILVER_TABLE, C.DIM_ATHLETES):
        assert crashed[table] != before[table], f"{table} should have committed"
    assert crashed[C.FACT_RESULTS] == before[C.FACT_RESULTS]
    with open(os.path.join(warehouse, pipeline.RUN_RECORD)) as fh:
        record = json.load(fh)
    assert not record["complete"]
    assert C.FACT_RESULTS not in record["versions"]

    built = _layers_built(monkeypatch)
    result = pipeline.run(spark, cfg)
    assert built == ["fact"]
    after = _versions(spark, warehouse)
    assert {t: after[t] for t in pipeline.ALL_TABLES[:-1]} == {
        t: crashed[t] for t in pipeline.ALL_TABLES[:-1]
    }
    assert not result.reused
    assert result == loaded["result"]
    assert _key_sets(spark, warehouse) == _key_sets(spark, loaded["warehouse"])
    assert pipeline.run(spark, cfg).reused
    assert built == ["fact"]


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda r: r.pop("identity"),
        lambda r: r.pop("versions"),
        lambda r: r.pop("complete"),
        lambda r: r["result"].pop("fact_rows"),
        lambda r: r["result"].update(renamed_field=1),
        lambda r: r.update(versions=[1, 2]),
        lambda r: r.clear(),
    ],
    ids=["no-identity", "no-versions", "no-complete", "missing-field", "extra-field",
         "versions-list", "empty"],
)
def test_foreign_record_makes_a_normal_run(spark, loaded, tmp_path, corrupt):
    """A record another code version wrote is ignored, not an error."""
    landing, warehouse = _copy(loaded, tmp_path)
    cfg = _incremental(landing, warehouse)
    store = TableStore(spark, warehouse)
    identity = pipeline._run_identity(cfg)
    intact = pipeline._RunRecord(store, identity)
    assert intact.complete and intact.done(*pipeline.ALL_TABLES)

    path = os.path.join(warehouse, pipeline.RUN_RECORD)
    with open(path) as fh:
        record = json.load(fh)
    corrupt(record)
    with open(path, "w") as fh:
        json.dump(record, fh)
    foreign = pipeline._RunRecord(store, identity)
    assert not foreign.complete
    assert not foreign.done(C.BRONZE_TABLE)
