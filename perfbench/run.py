"""Benchmark of the ETL engine: query latency through the registry and the
four-phase pipeline, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload short_cold --seed 1 --seconds 15 --trace 0

Each run builds its own inputs from ``--seed`` in a temporary directory
inside the checkout, starts one Spark session on ``local[nproc]``, warms up
while checking every op's output, then times a fixed number of passes over
the op set, about ``--seconds`` of work. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs, trace  # noqa: E402

SF = 0.01
ETL_SOURCES = 6

# The 46 q*/sql_* queries ranked by cold latency at sf0.01 on 4 cores (median
# of 3 passes, memos cleared per op); these are the ones at the midpoints of
# the 8 equal rank slices (ranks 2, 8, 14, 20, 25, 31, 37, 43 of 0..45), so
# the set spans the fixed floor from the fastest to the slowest queries.
SHORT_OPS = (
    "q4_order_priority_check", "q22_idle_balance_by_country", "q21_waiting_supplier",
    "sql_histogram_event_values", "sql_ntile_balance_quartiles", "q8_market_share",
    "q9_product_type_profit", "sql_zscore_normalize_events",
)
GRAPH_DEDUP_OPS = (
    "pagerank_part_supplier", "hits_hub_authority", "textrank_keywords",
    "kcore_cosupplier_peel", "bfs_hops_from_hub", "lpa_cosupplier_communities",
    "adamic_adar_link_prediction", "jaccard_link_prediction", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_cluster_assign", "dedup_canonical_pick",
    "dedup_lsh_recall_eval", "entity_resolution_customers", "er_precision_recall",
)
SQL_OPS = (
    "sql_pii_redaction", "sql_table_checksum_orders", "sql_keep_first_per_key",
    "sql_histogram_event_values",
)

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "1/s",
}


@dataclass
class Outcome:
    """What one run measured."""
    pass_walls: list[float] = field(default_factory=list)
    steal_share: float = 0.0
    op_times: dict[str, list[float]] = field(default_factory=dict)
    rows_per_pass: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    traced_walls: list[float] = field(default_factory=list)
    peak_rss: int = 0
    setup_parts: dict[str, float] = field(default_factory=dict)
    t_start: float = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what[:300])


class RssSampler:
    """High-water RSS of the given processes together, sampled every 50 ms."""

    def __init__(self, pids: list[int]):
        self.pids, self.peak = pids, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self) -> int:
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * self._page
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._rss())
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._rss())


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM's vCPUs since boot
    (the ``steal`` column of /proc/stat). Other tenants' load shows here."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def op_tail(op_times: dict[str, list[float]]) -> float:
    """The 90th percentile of the per-op median latencies. A rank
    percentile over the pooled samples would need ten samples beyond it,
    and a run's two dozen samples would put that at the median."""
    medians = [statistics.median(ts) for ts in op_times.values()]
    return statistics.quantiles(medians, n=10, method="inclusive")[-1]


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------
def start_spark(tmp: str, event_dir: str | None):
    from etl_pipeline_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# --------------------------------------------------------------------------
# query workloads
# --------------------------------------------------------------------------
def canonical(df, floats: list[str]):
    """Order-insensitive value form: columns by name, cells as strings
    except the float columns, rows sorted by the other columns first."""
    df = df[sorted(df.columns)].copy()
    keys = [c for c in df.columns if c not in floats]
    for c in keys:
        df[c] = df[c].astype(str)
    return df.sort_values(by=keys + floats, kind="mergesort").reset_index(drop=True)


def _decimals(v: float) -> int:
    """Decimals in the shortest form that reads back as ``v``."""
    s = repr(v)
    return 99 if "e" in s else len(s.partition(".")[2])


def floats_match(a: float, b: float) -> bool:
    """Two double cells match when they agree up to summation noise (1e-9
    relative), or when both carry d >= 2 decimals and sit one unit of the
    d-th decimal apart. The second is ROUND(SUM(double), d) at a half-unit
    tie: the two engines add in different orders, so the unrounded sums
    fall either side of the tie (70410.32499999998 rounds to 70410.32 in
    DuckDB, the same sum rounds to 70410.33 in Spark)."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
        return True
    d = max(_decimals(a), _decimals(b))
    return 2 <= d <= 6 and abs(a - b) <= 10.0 ** -d * (1 + 1e-6)


def check_query(spark, duck, spec, star_dir: str) -> str | None:
    """Run the op once, collect it and compare with its DuckDB oracle (a
    rows-only check when there is none). Returns a failure message or None."""
    got = spec.spark_fn(spark, star_dir).toPandas()
    if spec.oracle is None:
        return None if len(got) > 0 else "no rows"
    want = duck.execute(spec.oracle).fetchdf()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    floats = sorted(c for c in got.columns
                    if got[c].dtype.kind == "f" and want[c].dtype.kind == "f")
    a, b = canonical(got, floats), canonical(want, floats)
    if not a.drop(columns=floats).equals(b.drop(columns=floats)):
        return "values differ from oracle"
    for c in floats:
        for x, y in zip(a[c], b[c]):
            if not floats_match(float(x), float(y)):
                return f"{c}: {x!r} != oracle {y!r}"
    return None


def run_queries(spark, args, tmp: str, out: Outcome, wl: Workload):
    import duckdb

    from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
    from etl_pipeline_spark.utils.session_cache import clear_caches

    t0 = time.perf_counter()
    star_dir = os.path.join(tmp, "star")
    rows = inputs.write_star(star_dir, args.seed, wl.sf)
    _ensure_loaded()
    out.setup_parts["inputs_s"] = time.perf_counter() - t0
    order = list(wl.ops)
    random.Random(args.seed).shuffle(order)

    def clear() -> None:
        clear_caches(spark)
        spark.catalog.clearCache()

    tracer = trace.Tracer(spark.sparkContext) if args.trace else None

    def one_pass(traced: bool) -> None:
        t_pass = time.perf_counter()
        if not wl.clear_per_op:
            clear()
        for name in order:
            if wl.clear_per_op:
                clear()
            fn = REGISTRY[name].spark_fn
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span("op", name):
                        with tracer.span("build", name):
                            df = fn(spark, star_dir)
                        tracer.catalyst(df)
                        with tracer.span("exec", name):
                            df.write.format("noop").mode("overwrite").save()
                    tracer.counters["memo_storage_peak_mb"] = max(
                        tracer.counters["memo_storage_peak_mb"], tracer.storage_mb()
                    )
                else:
                    fn(spark, star_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:
                out.fail(f"{name}: {type(exc).__name__}: {exc}")
                continue
            if not traced:
                out.op_times.setdefault(name, []).append(time.perf_counter() - t0)
        wall = time.perf_counter() - t_pass
        (out.traced_walls if traced else out.pass_walls).append(wall)

    # warm-up pass: every op once, output checked against its oracle
    duck = duckdb.connect()
    duck.execute(f"SET temp_directory='{os.path.join(tmp, 'duck')}'")
    for t in rows:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    clear()
    for name in order:
        if wl.clear_per_op:
            clear()
        out.attempted += 1
        try:
            msg = check_query(spark, duck, REGISTRY[name], star_dir)
        except Exception as exc:  # a failing op is counted, never dropped
            msg = f"{type(exc).__name__}: {exc}"
        if msg:
            out.fail(f"{name}: {msg}")
    duck.close()
    out.setup_parts["warmup_s"] = time.perf_counter() - t0 - out.setup_parts["inputs_s"]
    setup_s = time.perf_counter() - out.t_start

    run_passes(args, wl, out, one_pass, tracer, tracer and tracer.wrap_catalog_and_memos)
    # throughput at the stated input size: star rows per op, ops per second
    out.rows_per_pass = sum(rows.values()) * len(order)
    return setup_s, tracer


def run_passes(args, wl: Workload, out: Outcome, one_pass, tracer, install) -> None:
    """The timed phase: a fixed number of passes, about ``--seconds`` of
    work on a 4-core host, so a faster program measures the same ops. At
    least three, so a median rejects one outlying pass. A traced run
    alternates untraced and traced passes, so the gap between their wall
    times is the tracing overhead."""
    n = max(3, round(args.seconds / wl.nominal_pass_s))
    t0, steal0 = time.perf_counter(), host_steal_s()
    with RssSampler([os.getpid(), jvm_pid()]) as rss:
        for _ in range(n):
            one_pass(False)
            if args.trace:
                install()
                try:
                    one_pass(True)
                finally:
                    tracer.unpatch()
    out.peak_rss = rss.peak
    out.steal_share = (host_steal_s() - steal0) / (os.cpu_count() * (time.perf_counter() - t0))


# --------------------------------------------------------------------------
# etl_load
# --------------------------------------------------------------------------
# EPSG:3006 plausibility box for the clipped area of interest, from the
# AOI corners with a margin; a reprojection that lands outside it is wrong.
SWEREF_X = (420_000.0, 780_000.0)
SWEREF_Y = (6_340_000.0, 6_800_000.0)


def run_etl(spark, args, tmp: str, out: Outcome, wl: Workload):
    from pyspark.sql import functions as F

    from etl_pipeline_spark.functions.naming import generate_fc_name_py
    from etl_pipeline_spark.pipeline import Pipeline, PipelineConfig
    from etl_pipeline_spark.sources.registry import SourceConfig
    from etl_pipeline_spark.utils.metrics import RunSummary

    t0 = time.perf_counter()
    sources = inputs.make_sources(args.seed, ETL_SOURCES, os.path.join(tmp, "files"))
    configs = [SourceConfig(name=s.name, authority=s.authority, type=s.type, url=s.url)
               for s in sources]
    transport = inputs.FakeTransport(sources)
    order = list(range(len(sources)))
    random.Random(args.seed).shuffle(order)
    out.setup_parts["inputs_s"] = time.perf_counter() - t0
    passes = itertools.count(1)

    def pipeline() -> Pipeline:
        # every pass fetches into a new landing zone (the fetcher skips
        # landing files that already exist) and loads into the same
        # database: the warm-up pass creates the production tables, the
        # timed passes overwrite them, as a rerun of the pipeline does
        cfg = PipelineConfig(
            landing_dir=os.path.join(tmp, f"landing{next(passes)}"),
            production_db="prod",
            aoi_bbox=inputs.AOI,
            target_epsg=3006,
        )
        return Pipeline(spark, cfg, transport=transport)

    def run_source(pipe: Pipeline, i: int) -> None:
        pipe.summary = RunSummary()
        summary = pipe.run([configs[i]])
        errors = summary.errors()
        if errors or summary.counters("load").get("done", 0) == 0:
            raise RuntimeError(f"source {configs[i].name}: {errors or 'nothing loaded'}")

    def check(db: str) -> None:
        """Each production table against its source's post-clip count and
        the reprojected coordinate range."""
        for s in sources:
            out.attempted += 1
            stem = f"{s.name}_layer0" if s.type == "rest_api" else os.path.splitext(
                os.path.basename(s.url))[0]
            table = f"{db}.{generate_fc_name_py(s.authority, stem)}"
            try:
                r = spark.table(table).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("x_out").alias("x0"), F.max("x_out").alias("x1"),
                    F.min("y_out").alias("y0"), F.max("y_out").alias("y1"),
                    F.count("x_out").alias("nx"),
                ).collect()[0]
            except Exception as exc:
                out.fail(f"{s.name}: {type(exc).__name__}: {exc}")
                continue
            if r.n != s.expected_rows:
                out.fail(f"{table}: {r.n} rows != {s.expected_rows} after clip")
            elif r.n and (r.nx != r.n or not (
                SWEREF_X[0] <= r.x0 <= r.x1 <= SWEREF_X[1]
                and SWEREF_Y[0] <= r.y0 <= r.y1 <= SWEREF_Y[1]
            )):
                out.fail(f"{table}: reprojected range x[{r.x0}, {r.x1}] y[{r.y0}, {r.y1}]")

    tracer = trace.Tracer(spark.sparkContext) if args.trace else None

    def one_pass(traced: bool, timed: bool = True) -> None:
        pipe = pipeline()
        t_pass = time.perf_counter()
        pages0 = transport.pages
        for i in order:
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span("op", configs[i].name):
                        run_source(pipe, i)
                else:
                    run_source(pipe, i)
            except Exception as exc:
                out.fail(str(exc))
                continue
            if timed and not traced:
                out.op_times.setdefault(configs[i].name, []).append(time.perf_counter() - t0)
        wall = time.perf_counter() - t_pass
        if traced:
            tracer.counters["pages_fetched"] += transport.pages - pages0
            out.traced_walls.append(wall)
        elif timed:
            out.pass_walls.append(wall)
        check(pipe.config.production_db)

    # warm-up: two untimed passes, their tables checked like every other
    # pass; the first creates the production tables, the second overwrites
    # them as the timed passes do
    one_pass(False, timed=False)
    one_pass(False, timed=False)
    out.setup_parts["warmup_s"] = time.perf_counter() - t0 - out.setup_parts["inputs_s"]
    setup_s = time.perf_counter() - out.t_start

    run_passes(args, wl, out, one_pass, tracer, tracer and (lambda: tracer.wrap_pipeline_phases(Pipeline)))
    out.rows_per_pass = sum(s.expected_rows for s in sources)
    return setup_s, tracer


@dataclass(frozen=True)
class Workload:
    runner: object
    nominal_pass_s: float  # one pass on a 4-core host; sets the pass count
    ops: tuple[str, ...] = ()
    clear_per_op: bool = True
    sf: float = SF


WORKLOADS = {
    "short_cold": Workload(run_queries, 8.0, SHORT_OPS, clear_per_op=True),
    "etl_load": Workload(run_etl, 5.3),
    # Not in BENCHMARK.json: a run of either takes longer than the
    # benchmark's time budget allows. Run them by hand for changes to the
    # graph rounds or the session memos.
    "graph_dedup_cold": Workload(run_queries, 40.0, GRAPH_DEDUP_OPS, clear_per_op=True),
    "memo_warm": Workload(run_queries, 35.0, GRAPH_DEDUP_OPS + SQL_OPS, clear_per_op=False),
}


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------
def result(out: Outcome, metrics: dict[str, float], units: dict[str, str]) -> dict:
    """The benchmark's result record: every failed op or output check counts
    against ``correct`` and in ``failed``."""
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def measure(wl: Workload, args: argparse.Namespace, t_start: float) -> tuple[dict, list[str]]:
    """Run one workload in a temporary directory under the checkout; returns
    the result record and the human-readable report lines."""
    import tempfile

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        # every JVM this run starts keeps its temp and perf files in tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    saved = {k: os.environ.get(k) for k in env}
    saved_tempdir = tempfile.tempdir
    os.environ.update(env)
    tempfile.tempdir = tmp
    out = Outcome(t_start=t_start)
    event_dir = os.path.join(tmp, "events") if args.trace else None
    report = []
    try:
        spark = start_spark(tmp, event_dir)
        out.setup_parts["session_s"] = time.perf_counter() - t_start
        try:
            app_id = spark.sparkContext.applicationId
            setup_s, tracer = wl.runner(spark, args, tmp, out, wl)
        finally:
            stop_spark(spark)
        if args.trace:
            figures = trace.parse_event_log(os.path.join(event_dir, app_id))
            metrics = trace.layer_metrics(tracer, figures, len(out.traced_walls))
            metrics["traced_wall_s"] = statistics.median(out.traced_walls)
            metrics["trace_overhead_s"] = (
                metrics["traced_wall_s"] - statistics.median(out.pass_walls)
            )
            metrics["peak_rss_mb"] = out.peak_rss / trace.MB
            units = trace.PER_LAYER_UNITS
        else:
            wall = statistics.median(out.pass_walls)
            samples = [t for ts in out.op_times.values() for t in ts]
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall,
                "op_p50_s": statistics.median(samples),
                "op_tail_s": op_tail(out.op_times),
                "rows_per_s": out.rows_per_pass / wall,
            }
            units = E2E_UNITS
            report.append(f"op_tail_s is p90 of the medians of {len(out.op_times)} ops")
            report += [f"op {k}: median {statistics.median(v):.3f} s of {len(v)}"
                       for k, v in sorted(out.op_times.items())]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
        for key, val in saved.items():
            if val is None:
                os.environ.pop(key, None)
            else:
                os.environ[key] = val
        tempfile.tempdir = saved_tempdir

    metrics = {k: metrics[k] for k in units}
    report.append(
        f"error_rate = {out.failed / max(1, out.attempted):.6f} ratio "
        f"({out.failed} failed of {out.attempted} attempted); "
        f"untraced passes {[round(w, 3) for w in out.pass_walls]}, "
        f"traced passes {[round(w, 3) for w in out.traced_walls]}; "
        f"host steal {100 * out.steal_share:.1f}% of vCPU time in them; "
        f"peak RSS {out.peak_rss / trace.MB:.0f} MB; setup "
        + ", ".join(f"{k}={v:.2f}" for k, v in out.setup_parts.items())
    )
    report += [f"FAILED {e}" for e in out.errors]
    report += [f"{k:>18} = {v:.6g} {units[k]}" for k, v in metrics.items()]
    return result(out, metrics, units), report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    record, report = measure(WORKLOADS[args.workload], args, T_PROCESS)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace}")
    print("\n".join(report))
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
