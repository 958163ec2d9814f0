"""TableStore semantics: overwrite, insert-only merge, SCD-1 merge,
optimize, vacuum, time travel — the Delta behaviors of SURVEY §2.1."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore


def _store(spark, tmp_path) -> TableStore:
    return TableStore(spark, str(tmp_path / "wh"))


def test_overwrite_and_read(spark, tmp_path):
    st = _store(spark, tmp_path)
    df = spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)])
    assert not st.table_exists("db.t")
    st.save_overwrite(df, "db.t")
    assert st.table_exists("db.t")
    assert {(r.k, r.v) for r in st.read("db.t").collect()} == {("a", 1), ("b", 2)}


def test_insert_only_merge_is_idempotent(spark, tmp_path):
    st = _store(spark, tmp_path)
    base = spark.createDataFrame([Row(k="a", y=1, v=10), Row(k="b", y=1, v=20)])
    st.save_overwrite(base, "db.t", partition_by=["y"])
    incoming = spark.createDataFrame(
        [Row(k="b", y=1, v=999), Row(k="c", y=2, v=30)]
    )
    st.merge_insert_only(incoming, "db.t", keys=["k"])
    rows = {r.k: r.v for r in st.read("db.t").collect()}
    # matched key untouched (insert-only), new key appended
    assert rows == {"a": 10, "b": 20, "c": 30}
    # re-running the same merge changes nothing (Readme.md:7 idempotency)
    st.merge_insert_only(incoming, "db.t", keys=["k"])
    assert st.read("db.t").count() == 3


def test_insert_only_merge_appends_files_not_rewrites(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, v=1)]), "db.t", partition_by=["y"]
    )
    m1 = st._latest_manifest("db.t")
    st.merge_insert_only(
        spark.createDataFrame([Row(k="b", y=1, v=2)]), "db.t", keys=["k"]
    )
    m2 = st._latest_manifest("db.t")
    # every original file survives into the new manifest: O(new), not O(table)
    assert set(m1.files) <= set(m2.files)


def test_scd1_merge(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame(
            [Row(k="a", attr="old", created="c1"), Row(k="b", attr="keep", created="c2")]
        ),
        "db.dim",
    )
    src = spark.createDataFrame(
        [Row(k="a", attr="new", created="cX"), Row(k="c", attr="ins", created="c3")]
    )
    st.merge_scd1(src, "db.dim", keys=["k"], update_cols=["attr"])
    rows = {r.k: (r.attr, r.created) for r in st.read("db.dim").collect()}
    assert rows["a"] == ("new", "c1")  # updated attr, created_at preserved
    assert rows["b"] == ("keep", "c2")  # untouched
    assert rows["c"] == ("ins", "c3")  # inserted whole


def test_optimize_compacts_and_time_travel(spark, tmp_path):
    st = _store(spark, tmp_path)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    st.save_overwrite(df.repartition(8), "db.t")
    v1 = st._latest_manifest("db.t")
    assert len(v1.files) > 1
    st.optimize("db.t")
    v2 = st._latest_manifest("db.t")
    assert len(v2.files) == 1
    assert st.read("db.t").count() == 100
    # old version still readable until vacuum
    assert st.read("db.t", version=v1.version).count() == 100
    removed = st.vacuum("db.t")
    assert removed == len(v1.files)


def test_table_changes_reads_only_added_files(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, v=1), Row(k="b", y=2, v=2)]),
        "db.t",
        partition_by=["y"],
    )
    v1 = st._latest_manifest("db.t").version
    st.merge_insert_only(
        spark.createDataFrame([Row(k="c", y=2, v=3), Row(k="a", y=1, v=99)]),
        "db.t",
        keys=["k"],
    )
    changes = st.table_changes("db.t", from_version=v1)
    rows = [(r.k, r.v) for r in changes.collect()]
    assert rows == [("c", 3)]  # only the inserted row, matched key excluded
    # no-change diff is empty
    v2 = st._latest_manifest("db.t").version
    assert st.table_changes("db.t", v2, v2).count() == 0


def test_data_skipping_read_where(spark, tmp_path):
    """Footer min/max stats prune files whose range can't match."""
    st = _store(spark, tmp_path)
    # 4 files with disjoint id ranges (repartitionByRange → clustered)
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    st.save_overwrite(df.repartitionByRange(4, "id"), "db.t")
    m = st._latest_manifest("db.t")
    assert len(m.files) == 4
    assert all("id" in m.stats[f] for f in m.files)  # stats recorded

    kept, total = st.skipped_file_count("db.t", "id", lo=100, hi=150)
    assert total == 4 and kept == 1  # range-clustered → one file survives

    out = st.read_where("db.t", "id", lo=100, hi=150)
    assert out.count() == 51
    assert len(out.inputFiles()) == 1  # only the surviving file is scanned

    # unclustered column: stats overlap everywhere → nothing skipped,
    # results still exact
    kept_v, _ = st.skipped_file_count("db.t", "v", lo=0, hi=10)
    out_v = st.read_where("db.t", "v", lo=0, hi=10)
    assert out_v.count() == 6
    assert kept_v >= 1

    # fully out-of-range predicate skips every file
    kept_none, _ = st.skipped_file_count("db.t", "id", lo=5000)
    assert kept_none == 0
    assert st.read_where("db.t", "id", lo=5000).count() == 0


def test_stats_survive_merge(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, v=5)]), "db.t", partition_by=["y"]
    )
    st.merge_insert_only(
        spark.createDataFrame([Row(k="b", y=2, v=50)]), "db.t", keys=["k"]
    )
    m = st._latest_manifest("db.t")
    # carried-over + newly-written files all have stats
    assert set(m.stats.keys()) == set(m.files)
    kept, total = st.skipped_file_count("db.t", "v", lo=40)
    assert (kept, total) == (1, 2)


def test_register_views(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="a")]), "gold.dim_x")
    st.register_views("gold.dim_x")
    assert spark.sql("SELECT COUNT(*) c FROM gold_dim_x").collect()[0].c == 1


def test_empty_table_read(spark, tmp_path):
    st = _store(spark, tmp_path)
    df = spark.createDataFrame([Row(k="a", v=1)])
    st.save_overwrite(df.filter(F.lit(False)), "db.empty")
    out = st.read("db.empty")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v"]

def test_commit_is_put_if_absent(spark, tmp_path):
    """Two writers that both read version N must not both commit N+1 —
    the second commit raises instead of silently replacing (r2 ADVICE)."""
    import pytest

    from ironman_medallion_lakehouse_spark.sources.tablestore import (
        ConcurrentCommitError,
        Manifest,
    )

    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="a", v=1)]), "db.t")
    m = st._latest_manifest("db.t")
    clash = Manifest(
        version=m.version, schema_json=m.schema_json, partition_by=[], files=m.files
    )
    with pytest.raises(ConcurrentCommitError):
        st._commit("db.t", clash)


def test_failed_write_removes_its_staging_dir(spark, tmp_path):
    """A Spark write that raises leaves no _staging-* directory and no
    new table version behind."""
    import pytest

    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="a")]), "db.t")
    before = st._log_versions("db.t")
    # A range, not a local relation, so the error comes from the write
    # tasks rather than from constant folding while planning; and no
    # partitioning, whose rebalance shuffle would fail before the
    # write job has created its output directory.
    failing = spark.range(1).select(
        F.raise_error(F.lit("injected write failure")).cast("string").alias("k")
    )
    with pytest.raises(Exception, match="injected write failure"):
        st.save_overwrite(failing, "db.t")
    table_dir = st._table_dir("db.t")
    assert not [d for d in os.listdir(table_dir) if d.startswith("_staging-")]
    assert st._log_versions("db.t") == before
    assert [r.k for r in st.read("db.t").collect()] == ["a"]


def test_scd1_null_key_not_duplicated(spark, tmp_path):
    """A NULL-keyed source row eqNullSafe-matches a NULL-keyed target
    row: it must UPDATE it, not also insert a duplicate (r2 ADVICE)."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame(
            [(None, "old"), ("b", "keep")], "k string, attr string"
        ),
        "db.dim",
    )
    src = spark.createDataFrame([(None, "new")], "k string, attr string")
    st.merge_scd1(src, "db.dim", keys=["k"], update_cols=["attr"])
    rows = {(r.k, r.attr) for r in st.read("db.dim").collect()}
    assert rows == {(None, "new"), ("b", "keep")}


def test_scd1_rejects_duplicate_source_keys(spark, tmp_path):
    import pytest

    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="a", attr="x")]), "db.dim")
    dup_src = spark.createDataFrame([Row(k="a", attr="y"), Row(k="a", attr="z")])
    with pytest.raises(ValueError, match="duplicate"):
        st.merge_scd1(dup_src, "db.dim", keys=["k"], update_cols=["attr"])


def test_scd1_preserves_genuine_null_payload(spark, tmp_path):
    """A matched source row whose update column is legitimately NULL
    must write that NULL (not keep the old value)."""
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="a", attr="old")]), "db.dim")
    src = spark.createDataFrame([("a", None)], "k string, attr string")
    st.merge_scd1(src, "db.dim", keys=["k"], update_cols=["attr"])
    assert [r.attr for r in st.read("db.dim").collect()] == [None]


def test_optimize_noop_when_nothing_to_compact(spark, tmp_path):
    """optimize() must not rewrite a table 1:1 when every data dir
    already holds a single file (r2 ADVICE: incremental runs were
    O(table) per run)."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, v=1), Row(k="b", y=2, v=2)]).coalesce(1),
        "db.t",
        partition_by=["y"],
    )
    v = st._latest_manifest("db.t").version
    st.optimize("db.t")
    assert st._latest_manifest("db.t").version == v  # no new version
    # and with a raised threshold, 2 files/partition still no-op
    st.merge_insert_only(
        spark.createDataFrame([Row(k="c", y=1, v=3)]), "db.t", keys=["k"]
    )
    v2 = st._latest_manifest("db.t").version
    st.optimize("db.t", min_files=8)
    assert st._latest_manifest("db.t").version == v2


def test_optimize_compacts_partitioned_dirs(spark, tmp_path):
    """Partitioned OPTIMIZE bin-packs to one file per partition dir
    (previously a 1:1 rewrite with no coalescing)."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k=f"k{i}", y=i % 2, v=i) for i in range(20)]),
        "db.t",
        partition_by=["y"],
    )
    for i in range(3):
        st.merge_insert_only(
            spark.createDataFrame([Row(k=f"n{i}", y=i % 2, v=100 + i)]),
            "db.t",
            keys=["k"],
        )
    st.optimize("db.t")
    m = st._latest_manifest("db.t")
    dirs = {}
    for f in m.files:
        dirs.setdefault(os.path.dirname(f), []).append(f)
    assert all(len(fs) == 1 for fs in dirs.values())
    assert st.read("db.t").count() == 23


def test_commit_writes_delta_chunk_not_snapshot(spark, tmp_path):
    """A merge commit's log entry lists only the CHANGED files
    (O(changes)), never the whole table (r2: chunked manifests)."""
    import json as _json

    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k=f"k{i}", y=i % 4, v=i) for i in range(40)]),
        "db.t",
        partition_by=["y"],
    )
    st.merge_insert_only(
        spark.createDataFrame([Row(k="new", y=1, v=999)]), "db.t", keys=["k"]
    )
    m = st._latest_manifest("db.t")
    with open(os.path.join(st._log_dir("db.t"), f"{m.version:08d}.json")) as fh:
        entry = _json.load(fh)
    assert "files" not in entry  # delta entry, not a snapshot
    assert entry["remove"] == []
    assert 0 < len(entry["add"]) < len(m.files)
    # stats travel only for the added files
    assert set(entry["stats"]) <= set(entry["add"])


def test_checkpoint_and_replay_time_travel(spark, tmp_path):
    """12 commits → checkpoint at version 10; every historical version
    is still reconstructable by checkpoint + bounded replay."""
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="k0", v=0)]), "db.t")
    for i in range(1, 12):
        st.merge_insert_only(
            spark.createDataFrame([Row(k=f"k{i}", v=i)]), "db.t", keys=["k"]
        )
    assert st._checkpoint_versions("db.t") == [10]
    assert st._latest_manifest("db.t").version == 12
    for version, expected in [(1, 1), (5, 5), (10, 10), (12, 12)]:
        assert st.read("db.t", version=version).count() == expected
    # change feed across the checkpoint boundary
    assert st.table_changes("db.t", 9, 11).count() == 2


def test_cluster_by_enables_data_skipping(spark, tmp_path):
    """cluster_by (the Z-order analogue): range-clustered writes make
    footer min/max stats selective, so read_where prunes most files —
    the same shuffled write WITHOUT clustering prunes nothing."""
    st = _store(spark, tmp_path)
    df = spark.range(0, 1000).withColumn("v", (F.col("id") * 7919) % 1000)
    # v is scattered: an unclustered 4-file write can't skip on v
    st.save_overwrite(df.repartition(4), "db.plain")
    kept_plain, total_plain = st.skipped_file_count("db.plain", "v", lo=100, hi=120)
    assert (kept_plain, total_plain) == (4, 4)
    # clustered on v: one file covers the whole probe range
    st.save_overwrite(
        df.repartition(4), "db.clustered", cluster_by=["v"], cluster_files=4
    )
    kept, total = st.skipped_file_count("db.clustered", "v", lo=100, hi=120)
    assert total >= 2 and kept == 1
    out = st.read_where("db.clustered", "v", lo=100, hi=120)
    assert out.count() == 21
    assert len(out.inputFiles()) == 1


def test_optimize_recluster(spark, tmp_path):
    """OPTIMIZE ... cluster_by reclusters an existing table in place."""
    st = _store(spark, tmp_path)
    df = spark.range(0, 1000).withColumn("v", (F.col("id") * 7919) % 1000)
    st.save_overwrite(df.repartition(4), "db.t")
    kept0, _ = st.skipped_file_count("db.t", "v", lo=0, hi=50)
    assert kept0 == 4  # unclustered: no skipping
    st.optimize("db.t", target_partitions=4, cluster_by=["v"])
    kept1, total1 = st.skipped_file_count("db.t", "v", lo=0, hi=50)
    assert total1 >= 2 and kept1 == 1
    assert st.read("db.t").count() == 1000


def test_optimize_write_bounds_files_per_partition(spark, tmp_path):
    """optimize_write (the Delta optimizeWrite analogue): a T-task
    upstream writing P hive partitions must NOT emit T×P files — the
    rebalance hint routes each partition's rows together first."""
    st = _store(spark, tmp_path)
    df = (
        spark.range(0, 200)
        .withColumn("year", (F.col("id") % 2 + 2023).cast("int"))
        .repartition(8)  # adversarial upstream: every task sees both years
    )
    st.save_overwrite(df, "db.opt", partition_by=["year"])
    m = st._latest_manifest("db.opt")
    from collections import Counter

    per_dir = Counter(os.path.dirname(f) for f in m.files)
    assert set(per_dir) == {"year=2023", "year=2024"}
    assert max(per_dir.values()) == 1  # AQE rebalance coalesced each year

    st.save_overwrite(df, "db.raw", partition_by=["year"], optimize_write=False)
    raw_dirs = Counter(
        os.path.dirname(f) for f in st._latest_manifest("db.raw").files
    )
    assert max(raw_dirs.values()) > 1  # without it: one file per task per year


def test_read_partitions_escaped_and_null_values(spark, tmp_path):
    """Partition dirs use Spark's path escaping ('a b' → 'a%20b') and
    __HIVE_DEFAULT_PARTITION__ for NULL; read_partitions must parse
    them, not string-format the wanted values."""
    st = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [Row(cat="a b", v=1), Row(cat="plain", v=2), Row(cat=None, v=3),
         Row(cat="x:y", v=4)]
    )
    st.save_overwrite(df, "db.esc", partition_by=["cat"])
    assert [r.v for r in st.read_partitions("db.esc", "cat", ["a b"]).collect()] == [1]
    assert [r.v for r in st.read_partitions("db.esc", "cat", ["x:y"]).collect()] == [4]
    got = {r.v for r in st.read_partitions("db.esc", "cat", ["plain", None]).collect()}
    assert got == {2, 3}


def test_read_partitions_bool_and_date_values(spark, tmp_path):
    """Spark renders partition values via Catalyst toString: booleans
    LOWERCASE ('flag=true'), dates ISO ('d=2024-03-01'). Python
    str(True) is 'True', so read_partitions must canonicalize bools
    explicitly or silently return zero files."""
    import datetime

    st = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [Row(flag=True, d=datetime.date(2024, 3, 1), v=1),
         Row(flag=False, d=datetime.date(2024, 3, 2), v=2)]
    )
    st.save_overwrite(df, "db.boolp", partition_by=["flag"])
    assert [r.v for r in st.read_partitions("db.boolp", "flag", [True]).collect()] == [1]
    assert [r.v for r in st.read_partitions("db.boolp", "flag", [False]).collect()] == [2]

    st.save_overwrite(df, "db.datep", partition_by=["d"])
    got = st.read_partitions("db.datep", "d", [datetime.date(2024, 3, 1)]).collect()
    assert [r.v for r in got] == [1]


def test_zorder_skips_on_every_clustered_column(spark, tmp_path):
    """Z-order clustering: min/max skipping works on BOTH clustered
    columns, where lexicographic range clustering only skips on the
    leading one."""
    st = _store(spark, tmp_path)
    df = (
        spark.range(0, 4096)
        .withColumn("x", (F.col("id") * 2654435761) % 1024)
        .withColumn("y", (F.col("id") * 40503) % 1024)
    )
    st.save_overwrite(df, "db.z", zorder_by=["x", "y"], cluster_files=16)
    st.save_overwrite(df, "db.lex", cluster_by=["x", "y"], cluster_files=16)

    zx, ztot = st.skipped_file_count("db.z", "x", lo=0, hi=63)
    zy, _ = st.skipped_file_count("db.z", "y", lo=0, hi=63)
    lx, ltot = st.skipped_file_count("db.lex", "x", lo=0, hi=63)
    ly, _ = st.skipped_file_count("db.lex", "y", lo=0, hi=63)
    assert ztot >= 8 and ltot >= 8
    # lexicographic: leading column prunes hard, second column barely
    assert lx <= 2
    assert ly >= ltot - 2
    # z-order: BOTH columns prune, and the secondary column prunes far
    # better than lexicographic clustering ever can
    assert zx < ztot / 2
    assert zy < ztot / 2
    assert zy < ly
    # correctness: the clustered rewrite loses no rows
    assert st.read("db.z").count() == 4096
    assert st.read_where("db.z", "y", lo=0, hi=63).filter("y <= 63").count() == \
        df.filter("y <= 63").count()


def test_optimize_zorder_reclusters_in_place(spark, tmp_path):
    st = _store(spark, tmp_path)
    df = (
        spark.range(0, 2048)
        .withColumn("x", (F.col("id") * 2654435761) % 512)
        .withColumn("y", (F.col("id") * 40503) % 512)
    )
    st.save_overwrite(df.repartition(8), "db.zo")
    # 16 z-range files = 4 interleaved prefix bits = two split levels
    # per column, so both columns prune below half
    st.optimize("db.zo", target_partitions=16, zorder_by=["x", "y"])
    kx, tot = st.skipped_file_count("db.zo", "x", lo=0, hi=31)
    ky, _ = st.skipped_file_count("db.zo", "y", lo=0, hi=31)
    assert tot >= 4 and kx < tot / 2 and ky < tot / 2
    assert st.read("db.zo").count() == 2048


def test_scd1_partition_scoped_rewrite(spark, tmp_path):
    """r2 VERDICT #1: SCD-1 on a partitioned target (partition col in
    keys) must rewrite ONLY source-touched partitions — untouched
    partitions' files stay byte-identical in the manifest, and the
    change feed across the merge contains only touched-partition rows."""
    st = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [
            Row(k="a", y=1, attr="old", created="c1"),
            Row(k="b", y=1, attr="keep", created="c2"),
            Row(k="z", y=2, attr="other", created="c3"),
        ]
    )
    st.save_overwrite(base, "db.dim", partition_by=["y"])
    m1 = st._latest_manifest("db.dim")
    y2_files = sorted(f for f in m1.files if f.startswith("y=2"))
    assert y2_files, "fixture must produce a y=2 partition file"

    src = spark.createDataFrame(
        [Row(k="a", y=1, attr="new", created="cX"), Row(k="c", y=1, attr="ins", created="c4")]
    )
    st.merge_scd1(src, "db.dim", keys=["k", "y"], update_cols=["attr"])

    rows = {r.k: (r.attr, r.created, r.y) for r in st.read("db.dim").collect()}
    assert rows["a"] == ("new", "c1", 1)
    assert rows["b"] == ("keep", "c2", 1)
    assert rows["c"] == ("ins", "c4", 1)
    assert rows["z"] == ("other", "c3", 2)

    m2 = st._latest_manifest("db.dim")
    # untouched partition's files carried forward byte-identical
    assert sorted(f for f in m2.files if f.startswith("y=2")) == y2_files
    # the touched partition was rewritten (no y=1 file survives)
    y1_old = {f for f in m1.files if f.startswith("y=1")}
    assert not y1_old & set(m2.files)
    # CDC across the merge = touched-partition rows only
    changed = st.table_changes("db.dim", m1.version, m2.version)
    assert {r.y for r in changed.collect()} == {1}
    # untouched file's stats carried forward too
    for f in y2_files:
        if f in m1.stats:
            assert m2.stats[f] == m1.stats[f]


def test_scd1_full_rewrite_when_partition_not_in_keys(spark, tmp_path):
    """When partition cols are not all merge keys a match may live in
    any partition — the merge must fall back to a full rewrite and
    still produce correct SCD-1 results."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, attr="old"), Row(k="b", y=2, attr="keep")]),
        "db.dim",
        partition_by=["y"],
    )
    # source row carries y=2 but matches k='a' living in y=1
    st.merge_scd1(
        spark.createDataFrame([Row(k="a", y=2, attr="new")]),
        "db.dim",
        keys=["k"],
        update_cols=["attr"],
    )
    rows = {r.k: (r.attr, r.y) for r in st.read("db.dim").collect()}
    assert rows["a"] == ("new", 1)  # attr updated, partition col kept (not an update_col)
    assert rows["b"] == ("keep", 2)


def test_merge_insert_only_partition_by_on_create(spark, tmp_path):
    """r2 ADVICE: the table-creation path of merge_insert_only accepts
    partition_by so a streaming merge's first micro-batch doesn't lock
    in an unpartitioned layout; conflicting layout on an existing
    table raises."""
    import pytest as _pytest

    st = _store(spark, tmp_path)
    st.merge_insert_only(
        spark.createDataFrame([Row(k="a", y=1, v=1)]), "db.t", keys=["k", "y"],
        partition_by=["y"],
    )
    assert st._latest_manifest("db.t").partition_by == ["y"]
    st.merge_insert_only(
        spark.createDataFrame([Row(k="b", y=2, v=2)]), "db.t", keys=["k", "y"],
        partition_by=["y"],
    )
    assert {r.k for r in st.read("db.t").collect()} == {"a", "b"}
    with _pytest.raises(ValueError, match="partitioned by"):
        st.merge_insert_only(
            spark.createDataFrame([Row(k="c", y=3, v=3)]), "db.t", keys=["k", "y"],
            partition_by=["k"],
        )


def test_read_partitions_float_timestamp_decimal(spark, tmp_path):
    """r2 VERDICT #5 / ADVICE: float, timestamp-with-microseconds, and
    decimal partition keys must match Spark's path rendering (Java
    Double.toString scientific form, trailing-zero-trimmed fractions,
    declared decimal scale)."""
    import datetime
    from decimal import Decimal

    st = _store(spark, tmp_path)

    # doubles incl. the scientific-notation renderings Spark uses
    st.save_overwrite(
        spark.createDataFrame(
            [(1, 1.5), (2, 1e-7), (3, 12345678.0), (4, 0.001), (5, 2.0)],
            "id int, f double",
        ),
        "db.fp",
        partition_by=["f"],
    )
    got = {r.id for r in st.read_partitions("db.fp", "f", [1e-7, 12345678.0, 2.0]).collect()}
    assert got == {2, 3, 5}

    ts = [
        (1, datetime.datetime(2023, 1, 5, 7, 8, 9)),
        (2, datetime.datetime(2023, 1, 5, 7, 8, 9, 500000)),
        (3, datetime.datetime(2023, 1, 5, 7, 8, 9, 123456)),
    ]
    st.save_overwrite(
        spark.createDataFrame(ts, "id int, t timestamp"), "db.ts", partition_by=["t"]
    )
    got = {
        r.id
        for r in st.read_partitions(
            "db.ts", "t", [ts[1][1], ts[2][1]]
        ).collect()
    }
    assert got == {2, 3}

    st.save_overwrite(
        spark.createDataFrame(
            [(1, Decimal("12.3400")), (2, Decimal("5")), (3, Decimal("-0.0100"))],
            "id int, d decimal(10,4)",
        ),
        "db.dec",
        partition_by=["d"],
    )
    # note Decimal("5") — the renderer must expand to the column scale 5.0000
    got = {r.id for r in st.read_partitions("db.dec", "d", [Decimal("5"), Decimal("-0.01")]).collect()}
    assert got == {2, 3}


def test_vacuum_retention_horizon(spark, tmp_path):
    """r3 ADVICE (medium): vacuum with a retention horizon keeps files
    of recent versions so time travel / stream replay inside the
    horizon still works; default (retain nothing) keeps only latest."""
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="a", v=1)]), "db.t")  # v1
    st.save_overwrite(spark.createDataFrame([Row(k="b", v=2)]), "db.t")  # v2
    st.save_overwrite(spark.createDataFrame([Row(k="c", v=3)]), "db.t")  # v3

    # hours-based horizon: everything was committed seconds ago → no-op,
    # all versions stay time-travelable
    assert st.vacuum("db.t", retain_hours=1.0) == 0
    assert {r.k for r in st.read("db.t", version=1).collect()} == {"a"}
    # retain one version back: v2 must stay readable, v1's files go
    removed = st.vacuum("db.t", retain_versions=1)
    assert removed > 0
    assert {r.k for r in st.read("db.t", version=2).collect()} == {"b"}
    # default: only latest survives
    st.vacuum("db.t")
    assert {r.k for r in st.read("db.t").collect()} == {"c"}
    try:
        st.read("db.t", version=2).collect()
        raised = False
    except Exception:
        raised = True
    assert raised


def test_restore_to_version(spark, tmp_path):
    """RESTORE analogue: restoring commits a NEW version equal to the
    target state (no data copied), preserves history (time travel to
    the pre-restore state still works), surfaces in the change feed,
    and refuses to restore past a vacuum."""
    import pytest

    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]), "db.t")  # v1
    st.merge_insert_only(spark.createDataFrame([Row(k=3, v="c")]), "db.t", keys=["k"])  # v2
    st.merge_scd1(
        spark.createDataFrame([Row(k=1, v="A")]), "db.t", keys=["k"], update_cols=["v"]
    )  # v3
    new_v = st.restore("db.t", 2)  # v4 == state at v2
    assert new_v == 4
    assert {(r.k, r.v) for r in st.read("db.t").collect()} == {(1, "a"), (2, "b"), (3, "c")}
    # history preserved: the pre-restore SCD-1 state is still travelable
    assert {(r.k, r.v) for r in st.read("db.t", version=3).collect()} == {
        (1, "A"), (2, "b"), (3, "c"),
    }
    # the restore is visible to CDC as adds of the re-referenced files
    assert st.table_changes("db.t", 3, 4).count() > 0
    with pytest.raises(ValueError):
        st.restore("db.t", 99)
    # vacuum away old files → restore past the horizon must refuse
    st.vacuum("db.t")
    with pytest.raises(FileNotFoundError):
        st.restore("db.t", 3)


def test_merge_scd2_history_tracking(spark, tmp_path):
    """SCD Type-2: changed keys close the current row and open a new
    version; unchanged keys are no-ops (replay-idempotent); new keys
    insert an open row; history rows are never modified."""
    import pytest

    st = _store(spark, tmp_path)
    st.merge_scd2(
        spark.createDataFrame([Row(k=1, city="nyc"), Row(k=2, city="sf")]),
        "db.dim",
        keys=["k"],
        effective_ts="2024-01-01",
    )  # v1: creates with open rows
    # k=1 moves, k=2 unchanged, k=3 new
    st.merge_scd2(
        spark.createDataFrame(
            [Row(k=1, city="boston"), Row(k=2, city="sf"), Row(k=3, city="la")]
        ),
        "db.dim",
        keys=["k"],
        effective_ts="2024-06-01",
    )  # v2
    rows = {
        (r.k, r.city, str(r.valid_from)[:10], r.valid_to and str(r.valid_to)[:10], r.is_current)
        for r in st.read("db.dim").collect()
    }
    assert rows == {
        (1, "nyc", "2024-01-01", "2024-06-01", False),   # closed
        (1, "boston", "2024-06-01", None, True),          # new version
        (2, "sf", "2024-01-01", None, True),              # untouched
        (3, "la", "2024-06-01", None, True),              # new key
    }
    # replay the same merge: nothing is tracked-changed → same state
    st.merge_scd2(
        spark.createDataFrame(
            [Row(k=1, city="boston"), Row(k=2, city="sf"), Row(k=3, city="la")]
        ),
        "db.dim",
        keys=["k"],
        effective_ts="2024-06-01",
    )  # v3
    assert st.read("db.dim").count() == 4
    cur = {(r.k, r.city) for r in st.read("db.dim").filter("is_current").collect()}
    assert cur == {(1, "boston"), (2, "sf"), (3, "la")}
    # second change to k=1: full timeline retained
    st.merge_scd2(
        spark.createDataFrame([Row(k=1, city="chicago")]),
        "db.dim",
        keys=["k"],
        effective_ts="2025-01-01",
    )
    timeline = sorted(
        (str(r.valid_from)[:10], r.valid_to and str(r.valid_to)[:10], r.city)
        for r in st.read("db.dim").filter("k = 1").collect()
    )
    assert timeline == [
        ("2024-01-01", "2024-06-01", "nyc"),
        ("2024-06-01", "2025-01-01", "boston"),
        ("2025-01-01", None, "chicago"),
    ]
    # contract errors: duplicate source keys; source carrying meta cols
    with pytest.raises(ValueError):
        st.merge_scd2(
            spark.createDataFrame([Row(k=1, city="x"), Row(k=1, city="y")]),
            "db.dim", keys=["k"], effective_ts="2025-02-01",
        )
    with pytest.raises(ValueError):
        st.merge_scd2(
            spark.createDataFrame([Row(k=9, city="z", is_current=True)]),
            "db.dim", keys=["k"], effective_ts="2025-02-01",
        )


def test_merge_scd2_partition_scoped_rewrite(spark, tmp_path):
    """With partition ⊆ key, an SCD-2 merge touching one partition
    carries the other partition's files forward byte-identical and the
    change feed contains only touched-partition rows."""
    st = _store(spark, tmp_path)
    st.merge_scd2(
        spark.createDataFrame(
            [Row(region="east", k=1, v="a"), Row(region="west", k=2, v="b")]
        ),
        "db.p",
        keys=["region", "k"],
        effective_ts="2024-01-01",
        partition_by=["region"],
    )  # v1
    m1 = st._latest_manifest("db.p")
    west_files = [f for f in m1.files if "region=west" in f]
    st.merge_scd2(
        spark.createDataFrame([Row(region="east", k=1, v="a2")]),
        "db.p",
        keys=["region", "k"],
        effective_ts="2024-02-01",
    )  # v2: east only
    m2 = st._latest_manifest("db.p")
    assert [f for f in m2.files if "region=west" in f] == west_files
    cdc = st.table_changes("db.p", 1, 2)
    assert {r.region for r in cdc.collect()} == {"east"}
    rows = {(r.k, r.v, r.is_current) for r in st.read("db.p").collect()}
    assert rows == {(1, "a", False), (1, "a2", True), (2, "b", True)}


def test_merge_schema_evolution(spark, tmp_path):
    """Delta autoMerge analogue: merge_schema=True appends source-only
    columns (old files read them as NULL via the explicit-schema read
    path), source-missing columns insert as NULL, SCD-1 updates never
    clobber target-only columns, and time travel returns each
    version's own schema."""
    import pytest

    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k=1, v="a")]), "db.e")  # v1
    # strict by default: widening without the flag fails analysis
    with pytest.raises(Exception):
        st.merge_insert_only(
            spark.createDataFrame([Row(k=2, v="b", extra=10)]), "db.e", keys=["k"]
        )
    st.merge_insert_only(
        spark.createDataFrame([Row(k=2, v="b", extra=10)]),
        "db.e",
        keys=["k"],
        merge_schema=True,
    )  # v2 widens
    rows = {(r.k, r.v, r.extra) for r in st.read("db.e").collect()}
    assert rows == {(1, "a", None), (2, "b", 10)}
    # time travel: v1 keeps its own (narrow) schema
    assert st.read("db.e", version=1).columns == ["k", "v"]
    # SCD-1 with a source that widens AND lacks a target column: the
    # update assigns only source-carried columns (v survives), the new
    # column lands, inserts fill missing columns with NULL
    st.merge_scd1(
        spark.createDataFrame([Row(k=1, note="n1"), Row(k=3, note="n3")]),
        "db.e",
        keys=["k"],
        merge_schema=True,
    )  # v3
    rows = {(r.k, r.v, r.extra, r.note) for r in st.read("db.e").collect()}
    assert rows == {
        (1, "a", None, "n1"),   # v kept (not clobbered), note updated
        (2, "b", 10, None),
        (3, None, None, "n3"),  # insert fills missing with NULL
    }


def test_version_changes_single_walk_matches_per_version(spark, tmp_path):
    """The single-pass range walker (r3 ADVICE) must agree with the
    per-version added_files_in on every committed version."""
    from ironman_medallion_lakehouse_spark.sources.tablestore import (
        added_files_in,
        version_changes,
    )

    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, v=1), Row(k="z", y=2, v=9)]),
        "db.t",
        partition_by=["y"],
    )
    st.merge_insert_only(
        spark.createDataFrame([Row(k="b", y=1, v=2)]), "db.t", keys=["k", "y"]
    )
    st.merge_scd1(
        spark.createDataFrame([Row(k="a", y=1, v=10)]), "db.t", keys=["k", "y"]
    )
    st.optimize("db.t", target_partitions=1)
    log_dir = st._log_dir("db.t")
    walked = version_changes(log_dir, 0, 4)
    assert [v for v, _pb, _a in walked] == [1, 2, 3, 4]
    for v, pb, added in walked:
        assert added == added_files_in(log_dir, v)
        assert pb == ["y"]


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    """DELETE FROM ... WHERE: SQL three-valued semantics (NULL
    condition keeps the row), untouched files — including files in the
    same partition with no matching row — carry forward byte-identical,
    and the change feed reports only touched-file rows."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame(
            [
                Row(k=1, y=1, v=5),
                Row(k=2, y=1, v=50),
                Row(k=3, y=2, v=5),
                Row(k=4, y=2, v=None),
            ]
        ),
        "db.d",
        partition_by=["y"],
    )
    m1 = st._latest_manifest("db.d")
    metrics = st.delete_where("db.d", "v > 10")
    assert metrics["rows_deleted"] == 1 and metrics["version"] == 2
    rows = {(r.k, r.v) for r in st.read("db.d").collect()}
    # v=50 deleted; v=5 rows and the NULL-condition row kept
    assert rows == {(1, 5), (3, 5), (4, None)}
    m2 = st._latest_manifest("db.d")
    # y=2 holds no matching row: its files carry forward path-identical
    y2_files = [f for f in m1.files if "y=2" in f]
    assert y2_files and set(y2_files) <= set(m2.files)
    # CDC across the delete only reports touched-partition rows
    changed = st.table_changes("db.d", 1, 2)
    assert {r.y for r in changed.collect()} == {1}
    # no-match delete commits nothing
    again = st.delete_where("db.d", "v > 1000")
    assert again["files_rewritten"] == 0 and again["version"] == 2
    assert st._latest_manifest("db.d").version == 2


def test_delete_where_stats_prune_skips_discovery(spark, tmp_path):
    """The range hint prunes files by manifest min/max before any scan:
    a file whose [min,max] excludes the range is untouched even though
    the predicate would require reading it to prove that."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k=i, v=i) for i in range(1, 11)]).repartition(1),
        "db.p",
    )
    st.merge_insert_only(
        spark.createDataFrame([Row(k=i, v=i) for i in range(100, 111)]).repartition(1),
        "db.p",
        keys=["k"],
    )
    m = st._latest_manifest("db.p")
    assert len(m.files) == 2
    metrics = st.delete_where(
        "db.p", "v >= 100", prune_column="v", prune_lo=100
    )
    assert metrics["files_rewritten"] == 1
    assert st.read("db.p").count() == 10
    # the low-range file is path-identical in the new manifest
    low_file = [f for f in m.files if m.stats[f]["v"][1] <= 10]
    assert set(low_file) <= set(st._latest_manifest("db.p").files)


def test_update_where(spark, tmp_path):
    """UPDATE ... SET evaluates expressions against the pre-update row,
    only TRUE-condition rows change, types are preserved, and updating
    a partition column moves rows to their new partition directory."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame(
            [Row(k=1, y=1, v=10), Row(k=2, y=1, v=20), Row(k=3, y=2, v=30)]
        ),
        "db.u",
        partition_by=["y"],
    )
    metrics = st.update_where("db.u", "v >= 20", {"v": "v * 2 + k"})
    assert metrics["rows_updated"] == 2
    rows = {(r.k, r.v) for r in st.read("db.u").collect()}
    assert rows == {(1, 10), (2, 42), (3, 63)}
    # schema unchanged (v stayed its original type)
    assert dict(st.read("db.u").dtypes)["v"] == "bigint"
    # partition-column update moves the row's file to the new dir
    st.update_where("db.u", "k = 3", {"y": F.lit(9)})
    m = st._latest_manifest("db.u")
    assert any("y=9" in f for f in m.files)
    assert {(r.k, r.y) for r in st.read("db.u").collect()} == {
        (1, 1),
        (2, 1),
        (3, 9),
    }
    # unknown SET column raises
    import pytest

    with pytest.raises(ValueError):
        st.update_where("db.u", "k = 1", {"nope": "1"})
