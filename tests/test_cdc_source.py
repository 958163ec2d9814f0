"""Change-feed streaming source: readStream over the TableStore
manifest log delivers exactly the rows each commit added."""

from __future__ import annotations

from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore
from ironman_medallion_lakehouse_spark.streaming.cdc_source import stream_changes


def _start(spark, store, name, sink):
    return (
        stream_changes(spark, store, name)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )


def test_stream_changes_delivers_per_commit_adds(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.save_overwrite(
        spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]), "db.t"
    )
    q = _start(spark, store, "db.t", "cdc_sink")
    try:
        q.processAllAvailable()
        assert {(r.k, r.v) for r in spark.table("cdc_sink").collect()} == {
            (1, "a"),
            (2, "b"),
        }
        # an insert-only merge commits a new version; the stream picks
        # up ONLY the added rows
        store.merge_insert_only(
            spark.createDataFrame([Row(k=2, v="b"), Row(k=3, v="c")]), "db.t", keys=["k"]
        )
        q.processAllAvailable()
        got = sorted((r.k, r.v) for r in spark.table("cdc_sink").collect())
        assert got == [(1, "a"), (2, "b"), (3, "c")]
    finally:
        q.stop()


def test_stream_changes_partitioned_table(spark, tmp_path):
    """Partition-directory values (not stored in the data files) are
    re-attached; an escaped value round-trips."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.save_overwrite(
        spark.createDataFrame(
            [Row(cat="a b", v=1), Row(cat="plain", v=2), Row(cat=None, v=3)]
        ),
        "db.p",
        partition_by=["cat"],
    )
    q = _start(spark, store, "db.p", "cdc_part_sink")
    try:
        q.processAllAvailable()
        got = {(r.cat, r.v) for r in spark.table("cdc_part_sink").collect()}
        assert got == {("a b", 1), ("plain", 2), (None, 3)}
    finally:
        q.stop()


def test_stream_changes_from_starting_version(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.save_overwrite(spark.createDataFrame([Row(k=1)]), "db.s")
    store.merge_insert_only(spark.createDataFrame([Row(k=2)]), "db.s", keys=["k"])
    store.merge_insert_only(spark.createDataFrame([Row(k=3)]), "db.s", keys=["k"])
    q = (
        stream_changes(spark, store, "db.s", starting_version=2)
        .writeStream.format("memory")
        .queryName("cdc_from_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(r.k for r in spark.table("cdc_from_sink").collect()) == [2, 3]
    finally:
        q.stop()


def test_stream_changes_max_files_per_trigger(spark, tmp_path):
    """Admission control (Delta maxFilesPerTrigger analogue): commits
    arriving after a run's first batch are paced — with
    max_files_per_trigger=1 each later micro-batch advances one
    version at a time (each commit here adds >= 1 file), and every row
    still arrives exactly once. (A run's FIRST batch is unthrottled by
    API necessity: Spark asks for latestOffset before the reader can
    know the batch boundary — documented in cdc_source.py.)"""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.save_overwrite(spark.createDataFrame([Row(k=1)]), "db.r")
    q = (
        stream_changes(spark, store, "db.r", max_files_per_trigger=1)
        .writeStream.format("memory")
        .queryName("cdc_throttled_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: the v1 backlog
        for k in (2, 3, 4):
            store.merge_insert_only(
                spark.createDataFrame([Row(k=k)]), "db.r", keys=["k"]
            )
        q.processAllAvailable()  # v2..v4 must arrive as >= 3 paced batches
        assert sorted(r.k for r in spark.table("cdc_throttled_sink").collect()) == [1, 2, 3, 4]
        nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(nonempty) >= 4, [p["numInputRows"] for p in q.recentProgress]
    finally:
        q.stop()


def test_stream_changes_schema_evolution(spark, tmp_path):
    """A replayed range spanning a schema change must not kill the
    query: files written before a column existed read it as NULL."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.save_overwrite(spark.createDataFrame([Row(k=1)]), "db.e")
    store.save_overwrite(
        spark.createDataFrame([Row(k=2, extra="x")]), "db.e"
    )  # v2 widens the schema; v1's file lacks `extra`
    # v2 is an overwrite (v1's file removed), so only v2's adds carry
    # data — but a fresh stream replays v1's ADD too, exercising the
    # old-file-through-new-schema path
    q = (
        stream_changes(spark, store, "db.e")
        .writeStream.format("memory")
        .queryName("cdc_evo_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r.k, r.extra) for r in spark.table("cdc_evo_sink").collect()}
        assert got == {(1, None), (2, "x")}
    finally:
        q.stop()


def test_catch_up_reads_each_log_entry_once(spark, tmp_path, monkeypatch):
    """VERDICT r3 item 8 (regression guard for the r2 fix): a stream
    catching up over a 10-commit backlog must walk the delta log ONCE —
    one JSON read per version, and zero full manifest_at replays (the
    pre-fix shape was O(backlog × replay))."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.sources import tablestore as TS
    from ironman_medallion_lakehouse_spark.streaming import cdc_source as CS

    store = TableStore(spark, str(tmp_path / "wh"))
    store.save_overwrite(spark.createDataFrame([Row(k=0, v="seed")]), "db.cu")
    for i in range(1, 10):
        store.merge_insert_only(
            spark.createDataFrame([Row(k=i, v=f"v{i}")]), "db.cu", keys=["k"]
        )

    schema = store.read("db.cu").schema  # resolved before counting

    replays = {"n": 0}
    orig_manifest_at = TS.manifest_at

    def counting_manifest_at(log_dir, version):
        replays["n"] += 1
        return orig_manifest_at(log_dir, version)

    # patch where version_changes resolves it (module global)
    monkeypatch.setattr(TS, "manifest_at", counting_manifest_at)

    log_dir = str(tmp_path / "wh" / "db" / "cu" / "_log")
    changes = TS.version_changes(log_dir, 0, 10)
    assert [v for v, _pb, _a in changes] == list(range(1, 11))
    assert sum(len(a) for _v, _pb, a in changes) >= 10
    assert replays["n"] == 0, "catch-up must not replay manifests per version"

    # and the streaming reader's planner goes through the same one-walk
    # path: 10 pending versions -> one partitions() call, no replays
    reader = CS.ChangeFeedStreamReader(schema, store._table_dir("db.cu"), 1)
    parts = reader.partitions({"version": 0}, {"version": 10})
    assert len(parts) >= 10
    assert replays["n"] == 0


def test_correctness_gate_runs_q81_from_outside_the_repo(tmp_path):
    """q81's streaming source runs in a Python data-source worker that
    imports the package with the driver JVM's environment, which the
    session's addPyFile does not reach. The correctness tool puts the
    repo root on that environment's PYTHONPATH, so it passes from any
    working directory with no PYTHONPATH of the caller's."""
    import os
    import subprocess
    import sys

    from __spark_entry__ import SMOKE_SF_DIR

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="2")
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "check_correctness.py"),
         "--sf", SMOKE_SF_DIR, "q81_cdc_stream"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "PASS q81_cdc_stream" in out.stdout, out.stdout + out.stderr[-2000:]
    assert out.returncode == 0
