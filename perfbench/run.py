"""Lakehouse benchmark: medallion loads with dashboard serving, and the
operator suite.

    python3 perfbench/run.py --workload medallion_incremental --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Workloads:

- ``medallion_incremental``: set-up generates landing CSVs for
  2023-2025 and full-loads 2023-2024 into a base warehouse. Each timed
  cycle starts from a copy of that base, loads 2025 incrementally,
  re-runs the identical load (an idempotent no-op), then refreshes all
  15 dashboard views.
- ``suite_headline``: set-up generates the suite's parquet tables; each
  timed pass executes the selected headline suite entries once, first
  execution in the process, and collects their rows.

Every output is checked outside the timed region: load row counts and
quality counts against the generator, the re-run against the first
load, view rows against the generator and across refreshes, and suite
entries against their DuckDB oracles.

With ``--trace 0`` the last stdout line reports the end-to-end metrics;
with ``--trace 1`` the run is traced (perfbench/spans.py) and reports
the per-layer metrics instead; its spans are written to
``.bench_work/spans-<workload>-<seed>-<pid>.jsonl``. The line before it is an info record
with the core count and each workload's own readings.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import landing  # noqa: E402
import suitedata  # noqa: E402
from spans import Tracer, catalyst_ms, job_stats, layer_metrics, write_spans  # noqa: E402

WORKLOADS = ("medallion_incremental", "suite_headline")
BASE_YEARS = [2023, 2024]
NEW_YEAR = 2025
LANDING_MULTIPLIER = 1.0  # the reference's real per-file row counts
SETUP_REPEATS = 3

# Headline entries timed by suite_headline (a subset of bench.py's 27,
# sized so one cold pass fits the run budget; see perfbench/README.md).
SUITE_ENTRIES = [
    "q01_pricing_summary",
    "q04_star_join",
    "q05_yoy_self_join",
    "q10_window_share",
    "q11_dedup_rank",
    "q12_argmax_latest",
    "q26_formatted_topk",
    "q66_shipping_priority",
    "q45_cosine_topk",
    "q52_sessionization",
    "q104_conversion_funnel",
    "q106_pagerank",
    "q142_ks_drift",
    "q143_ab_test_battery",
    "q145_sequential_charts",
]

VIEW_NAMES = [
    "vw_kpi_metrics", "vw_athletes_by_year", "vw_finish_rate_trend",
    "vw_gender_distribution", "vw_top_countries", "vw_countries_by_year",
    "vw_continent_distribution", "vw_segment_times", "vw_age_group_performance",
    "vw_finish_time_distribution", "vw_top_finishers", "vw_year_over_year",
    "vw_pro_vs_age_group", "vw_dnf_analysis", "vw_fastest_times",
]
TABLESTORE_METHODS = [
    "save_overwrite", "merge_insert_only", "merge_scd1", "optimize", "analyze", "read",
]

END_TO_END = ["cycle_cpu_s", "query_cpu_ms", "setup_s"]
PER_LAYER = (
    ["session.start_s",
     "bronze.build_s", "bronze.build_jobs", "bronze.dupcheck_s", "bronze.dupcheck_jobs",
     "silver.build_s", "silver.build_calls",
     "dims.build_s", "dims.build_jobs",
     "fact.build_s", "fact.audit_s", "fact.audit_jobs",
     "quality.check_s", "quality.check_jobs",
     "pipeline.self_s", "pipeline.self_jobs"]
    + [f"tablestore.{m}.{k}" for m in TABLESTORE_METHODS for k in ("s", "jobs", "calls")]
    + [f"tablestore.{k}" for k in (
        "commits", "files_added", "files_removed", "bytes_added", "rows_added",
        "merge_useful_ratio")]
    + [f"spark.{k}" for k in (
        "jobs", "stages", "tasks", "task_ms", "shuffle_bytes", "input_bytes")]
    + ["views.create_s", "views.plan_ms", "views.jobs_per_refresh"]
    + [f"views.{v}.ms" for v in VIEW_NAMES]
    + [f"suite.{e}.{k}" for e in SUITE_ENTRIES for k in ("s", "jobs")]
    + ["cycle_s", "query_p50_ms",
       "full_load_s", "incr_load_s", "incr_rerun_s", "dashboard_refresh_s",
       "view_p50_ms", "view_p90_ms", "suite_total_s",
       "full_load_cpu_s", "incr_load_cpu_s", "incr_rerun_cpu_s", "dashboard_refresh_cpu_s",
       "suite_total_cpu_s",
       "written_bytes_per_input_byte", "stored_bytes_per_input_byte",
       "trace_overhead_frac"]
)
_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def unit_of(name: str) -> str:
    if name.endswith(("_frac", "_ratio", "_per_input_byte")):
        return "ratio"
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and every live descendant: the Spark JVM and its
    Python workers. Unlike wall time, it does not grow with the CPU time
    the hypervisor withholds from a virtual machine."""
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
        used[int(entry)] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += used.get(pid, 0)
        stack += children.get(pid, [])
    return total / _CLOCK_TICKS


class Context:
    """Counts attempted and failed operations, collects problems, and
    holds the tracer (a no-op when the run is untraced)."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer: Tracer | None):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def op(self, name: str, fn):
        """Run one timed operation; return (result or None, wall seconds,
        CPU seconds)."""
        self.attempted += 1
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        out = None
        try:
            with self.span(name):
                out = fn()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {e}")
        wall = time.perf_counter() - t0
        return out, wall, tree_cpu_s() - cpu0

    def verify(self, problems: list[str]) -> None:
        """Record the problems of one operation's output check."""
        if problems:
            self.failed += 1
            self.problems.extend(problems)


def _median_or_zero(values):
    return statistics.median(values) if values else 0.0


def _p90(values):
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10)[8]


# ----------------------------------------------------------- medallion
class MergeRecorder:
    """Records, per merge call, the table, its version before and after
    and the source frame, so rows offered and rows added can be counted
    after the run, outside the timed region."""

    def __init__(self):
        self.calls = []

    @contextlib.contextmanager
    def install(self):
        from ironman_medallion_lakehouse_spark.sources import tablestore as ts

        saved = {m: ts.TableStore.__dict__[m] for m in ("merge_insert_only", "merge_scd1")}

        def recording(fn):
            def wrapper(store, source, name, *args, **kwargs):
                tdir = store._table_dir(name)
                before = (ts.log_versions(os.path.join(tdir, "_log")) or [0])[-1]
                out = fn(store, source, name, *args, **kwargs)
                after = (ts.log_versions(os.path.join(tdir, "_log")) or [0])[-1]
                self.calls.append((tdir, before, after, source))
                return out

            return wrapper

        for m, fn in saved.items():
            setattr(ts.TableStore, m, recording(fn))
        try:
            yield self
        finally:
            for m, fn in saved.items():
                setattr(ts.TableStore, m, fn)

    def useful_ratio(self) -> float:
        import storage

        offered = sum(src.count() for _, _, _, src in self.calls)
        added = sum(
            storage.live_rows(tdir, after) - storage.live_rows(tdir, before)
            for tdir, before, after, _ in self.calls
        )
        return added / offered if offered else 0.0


def _row_key_digests(warehouse: str) -> dict:
    """Order-insensitive digest of each row_key table's key set, read
    from the live parquet files with pyarrow (no Spark, no TableStore)."""
    import pyarrow.parquet as pq

    from ironman_medallion_lakehouse_spark import config as C
    from ironman_medallion_lakehouse_spark.sources.tablestore import log_versions, manifest_at

    out = {}
    for table in (C.BRONZE_TABLE, C.SILVER_TABLE, C.FACT_RESULTS):
        tdir = os.path.join(warehouse, *table.split("."))
        log_dir = os.path.join(tdir, "_log")
        keys = []
        for f in manifest_at(log_dir, log_versions(log_dir)[-1]).files:
            keys += pq.read_table(os.path.join(tdir, "data", f), columns=["row_key"])["row_key"].to_pylist()
        out[table] = checks.digest([(k,) for k in keys])
    return out


def medallion(ctx: Context, session_s: float) -> tuple[dict, dict]:
    from ironman_medallion_lakehouse_spark import config as C
    from ironman_medallion_lakehouse_spark import pipeline

    import storage

    spark, work = ctx.spark, ctx.work
    landing_dir = os.path.join(work, "landing")
    gen_s = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(landing_dir, ignore_errors=True)
        t0 = time.perf_counter()
        manifest = landing.generate(landing_dir, ctx.seed, LANDING_MULTIPLIER)
        gen_s.append(time.perf_counter() - t0)
    specs = [C.FileSpec(f["year"], f["gender"], f["filename"]) for f in manifest["files"]]
    csv_bytes = {s.year: 0 for s in specs}
    for s in specs:
        csv_bytes[s.year] += os.path.getsize(s.path(landing_dir))
    all_years = BASE_YEARS + [NEW_YEAR]
    all_counts = landing.totals(manifest, all_years)

    def load(warehouse, mode, files, year=None):
        cfg = C.PipelineConfig(
            source_dir=landing_dir, warehouse_dir=warehouse, run_mode=mode,
            process_year=year, files=files,
        )
        return lambda: pipeline.run(spark, cfg)

    base = os.path.join(work, "wh_base")
    base_specs = [s for s in specs if s.year in BASE_YEARS]
    result, full_load_s, full_load_cpu_s = ctx.op("full_load", load(base, "full", base_specs))
    if result is not None:
        ctx.verify(checks.check_load(result, landing.totals(manifest, BASE_YEARS)))
    setup_s = session_s + statistics.median(gen_s) + full_load_s
    base_versions = storage.latest_versions(base)

    # wall and CPU seconds per step, one entry per cycle
    incr, rerun, refresh_s, refresh_cpu = [], [], [], []
    view_ms, view_cpu_ms, plan_ms = {v: [] for v in VIEW_NAMES}, [], []
    warehouses = []

    def refresh() -> dict:
        """Query all 15 views once, timed; return their rows by view."""
        wall = cpu = plan = 0.0
        rows_by_view = {}
        with ctx.span("views.refresh"):
            for v in VIEW_NAMES:
                frame = {}

                def query(v=v, frame=frame):
                    frame["df"] = spark.sql(f"SELECT * FROM {v}")
                    return frame["df"].collect()

                rows, secs, cpu_s = ctx.op(f"views.{v}", query)
                view_ms[v].append(secs * 1000.0)
                view_cpu_ms.append(cpu_s * 1000.0)
                wall, cpu = wall + secs, cpu + cpu_s
                rows_by_view[v] = rows
                if ctx.tracer and rows is not None:
                    plan += catalyst_ms(frame["df"])
        refresh_s.append(wall)
        refresh_cpu.append(cpu)
        plan_ms.append(plan)
        return rows_by_view

    view_digests: dict[str, set] = {v: set() for v in VIEW_NAMES}
    t_start = time.perf_counter()
    while not warehouses or time.perf_counter() - t_start < ctx.seconds:
        wh = os.path.join(work, f"wh_cycle{len(warehouses)}")
        shutil.copytree(base, wh)
        warehouses.append(wh)
        result, *timing = ctx.op("incr_load", load(wh, "incremental", specs, NEW_YEAR))
        incr.append(timing)
        if result is None:
            break
        ctx.verify(checks.check_load(result, all_counts))
        keys = _row_key_digests(wh)

        result, *timing = ctx.op("incr_rerun", load(wh, "incremental", specs, NEW_YEAR))
        rerun.append(timing)
        if result is None:
            break
        problems = checks.check_load(result, all_counts)
        after = _row_key_digests(wh)
        problems += [f"re-run changed the row_key set of {t}" for t in keys if keys[t] != after[t]]
        ctx.verify(problems)

        rows_by_view = refresh()
        ctx.verify(checks.check_views(rows_by_view, manifest))
        for v, rows in rows_by_view.items():
            if rows is not None:
                view_digests[v].add(checks.digest(rows))
        ctx.verify([f"{v}: rows differ between dashboard refreshes"
                    for v, d in view_digests.items() if len(d) > 1])

    cycles = list(zip(incr, rerun, zip(refresh_s, refresh_cpu)))
    all_view_ms = [ms for v in VIEW_NAMES for ms in view_ms[v]]
    end_to_end = {
        "cycle_cpu_s": _median_or_zero([i[1] + r[1] + f[1] for i, r, f in cycles]),
        "query_cpu_ms": statistics.fmean(view_cpu_ms) if view_cpu_ms else 0.0,
        "setup_s": setup_s,
    }
    input_bytes = sum(csv_bytes[y] for y in BASE_YEARS) + 2 * len(warehouses) * csv_bytes[NEW_YEAR]
    written = storage.commit_metrics(base)["bytes_added"] + sum(
        storage.commit_metrics(wh, after=base_versions)["bytes_added"] for wh in warehouses
    )
    readings = {
        "cycle_s": _median_or_zero([i[0] + r[0] + f[0] for i, r, f in cycles]),
        "query_p50_ms": _median_or_zero(all_view_ms),
        "full_load_s": full_load_s,
        "incr_load_s": _median_or_zero([t[0] for t in incr]),
        "incr_rerun_s": _median_or_zero([t[0] for t in rerun]),
        "dashboard_refresh_s": _median_or_zero(refresh_s),
        "view_p50_ms": _median_or_zero(all_view_ms),
        "view_p90_ms": _p90(all_view_ms),
        "full_load_cpu_s": full_load_cpu_s,
        "incr_load_cpu_s": _median_or_zero([t[1] for t in incr]),
        "incr_rerun_cpu_s": _median_or_zero([t[1] for t in rerun]),
        "dashboard_refresh_cpu_s": _median_or_zero(refresh_cpu),
        "written_bytes_per_input_byte": written / input_bytes,
        "stored_bytes_per_input_byte": storage.stored_bytes(warehouses[-1]) / sum(csv_bytes.values()),
        "views.plan_ms": _median_or_zero(plan_ms),
        "views.n_refreshes": len(refresh_s),
        "views.n_queries": len(all_view_ms),
        "cycles": len(cycles),
        "views.ms": {v: _median_or_zero(ms) for v, ms in view_ms.items()},
        "base_versions": base_versions,
        "warehouses": [base] + warehouses,
    }
    return end_to_end, readings


# --------------------------------------------------------------- suite
def _drop_persistent_blocks(spark) -> None:
    """Unpersist every persistent RDD (localCheckpoint residue), so no
    entry's storage pressure leaks into the next."""
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().iterator()
    ids = []
    while it.hasNext():
        ids.append(it.next()._1())
    for rdd_id in ids:
        jsc.unpersistRDD(rdd_id, True)


def suite_headline(ctx: Context, session_s: float) -> tuple[dict, dict]:
    import duckdb

    from ironman_medallion_lakehouse_spark import suite

    data_dir = os.path.join(ctx.work, "suitedata")
    gen_s = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        suitedata.generate(data_dir, ctx.seed)
        gen_s.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(gen_s)

    qdict, odict = suite.queries(), suite.oracle_sql()
    con = duckdb.connect()
    for table in suitedata.TABLES:
        con.sql(
            f"CREATE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, table + '.parquet')}')"
        )
    expected = {
        e: checks.digest(checks.rows_of(con.sql(odict[e]).df())) for e in SUITE_ENTRIES if e in odict
    }
    con.close()

    entry_s: dict[str, list[float]] = {e: [] for e in SUITE_ENTRIES}
    entry_cpu_ms = []
    passes = []  # (wall, CPU) seconds per pass
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < ctx.seconds:
        wall = cpu = 0.0
        for e in SUITE_ENTRIES:
            pdf, secs, cpu_s = ctx.op(
                f"suite.{e}", lambda e=e: qdict[e](ctx.spark, data_dir).toPandas()
            )
            _drop_persistent_blocks(ctx.spark)
            entry_s[e].append(secs)
            entry_cpu_ms.append(cpu_s * 1000.0)
            wall, cpu = wall + secs, cpu + cpu_s
            if pdf is None:
                continue
            got = checks.digest(checks.rows_of(pdf))
            if e in expected:
                ctx.verify(checks.compare_digests(e, got, expected[e]))
            elif got[0] == 0:
                ctx.verify([f"{e}: returned no rows"])
        passes.append((wall, cpu))

    all_ms = [s * 1000.0 for e in SUITE_ENTRIES for s in entry_s[e]]
    end_to_end = {
        "cycle_cpu_s": statistics.median(p[1] for p in passes),
        "query_cpu_ms": statistics.fmean(entry_cpu_ms),
        "setup_s": setup_s,
    }
    readings = {
        "cycle_s": statistics.median(p[0] for p in passes),
        "query_p50_ms": statistics.median(all_ms),
        "suite_total_s": statistics.median(p[0] for p in passes),
        "suite_total_cpu_s": end_to_end["cycle_cpu_s"],
        "suite.passes": len(passes),
        "suite.s": {e: statistics.median(v) for e, v in entry_s.items()},
    }
    return end_to_end, readings


# --------------------------------------------------------------- per-layer
def per_layer(ctx: Context, session_s: float, readings: dict, recorder: MergeRecorder | None) -> dict:
    import storage

    tracer = ctx.tracer
    jobs = job_stats(ctx.spark, [s.group for s in tracer.spans])
    m = layer_metrics(tracer.spans, jobs)
    # The run's own work dir is removed on exit; the span log stays next to it.
    write_spans(tracer.spans, jobs, os.path.join(
        os.path.dirname(ctx.work), f"spans-{os.path.basename(ctx.work)}.jsonl"))
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = session_s
    simple = {
        "bronze.build": ("bronze.build_s", "bronze.build_jobs"),
        "bronze.dupcheck": ("bronze.dupcheck_s", "bronze.dupcheck_jobs"),
        "silver.build": ("silver.build_s", None),
        "dims.build": ("dims.build_s", "dims.build_jobs"),
        "fact.build": ("fact.build_s", None),
        "fact.audit": ("fact.audit_s", "fact.audit_jobs"),
        "quality.check": ("quality.check_s", "quality.check_jobs"),
        "pipeline": ("pipeline.self_s", "pipeline.self_jobs"),
        "views.create": ("views.create_s", None),
    }
    for span, (s_key, jobs_key) in simple.items():
        out[s_key] = m.get(f"{span}.s", 0.0)
        if jobs_key:
            out[jobs_key] = m.get(f"{span}.jobs", 0)
    out["silver.build_calls"] = m.get("silver.build.calls", 0)
    for meth in TABLESTORE_METHODS:
        for k in ("s", "jobs", "calls"):
            out[f"tablestore.{meth}.{k}"] = m.get(f"tablestore.{meth}.{k}", 0)
    for k in ("jobs", "stages", "tasks", "task_ms", "shuffle_bytes", "input_bytes"):
        out[f"spark.{k}"] = m[f"spark.{k}"]
    for k in list(readings):
        if k in out:
            out[k] = readings[k]

    if "warehouses" in readings:
        base, *cycles = readings["warehouses"]
        totals = storage.commit_metrics(base)
        for wh in cycles:
            for k, v in storage.commit_metrics(wh, after=readings["base_versions"]).items():
                totals[k] += v
        for k, v in totals.items():
            out[f"tablestore.{k}"] = v
        out["tablestore.merge_useful_ratio"] = recorder.useful_ratio()
        n = readings["views.n_refreshes"] or 1
        view_jobs = sum(m.get(f"views.{v}.jobs", 0) for v in VIEW_NAMES)
        out["views.jobs_per_refresh"] = view_jobs / n
        for v, ms in readings["views.ms"].items():
            out[f"views.{v}.ms"] = ms
    for e in SUITE_ENTRIES:
        calls = m.get(f"suite.{e}.calls", 0) or 1
        out[f"suite.{e}.s"] = m.get(f"suite.{e}.s", 0.0) / calls
        out[f"suite.{e}.jobs"] = m.get(f"suite.{e}.jobs", 0) / calls

    roots = sum(s.end - s.start for s in tracer.spans if s.parent is None)
    out["trace_overhead_frac"] = tracer.overhead_s / max(roots - tracer.overhead_s, 1e-9)
    return out


# ------------------------------------------------------------------ main
def _start_spark(work: str):
    from ironman_medallion_lakehouse_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    local_dir = os.path.join(work, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        warehouse_dir=os.path.join(work, "spark-warehouse"),
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0, cpus


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    spark = None
    try:
        spark, session_s, cpus = _start_spark(work)
        tracer = Tracer(spark) if args.trace else None
        ctx = Context(spark, work, args.seed, args.seconds, tracer)
        recorder = None
        with contextlib.ExitStack() as stack:
            if args.workload == "medallion_incremental":
                if tracer:
                    recorder = stack.enter_context(MergeRecorder().install())
                    stack.enter_context(tracer.instrument())
                end_to_end, readings = medallion(ctx, session_s)
            else:
                end_to_end, readings = suite_headline(ctx, session_s)
        metrics = per_layer(ctx, session_s, readings, recorder) if tracer else end_to_end
        info = {
            "workload": args.workload,
            "cpus": cpus,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "end_to_end": end_to_end,
            "readings": {k: v for k, v in readings.items() if k not in ("warehouses", "base_versions")},
            "problems": ctx.problems[:20],
        }
        print(json.dumps(info, default=str))
        failed = min(ctx.failed, ctx.attempted)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": ctx.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it


if __name__ == "__main__":
    sys.exit(main())
