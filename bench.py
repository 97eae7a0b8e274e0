"""Benchmark harness: every registered query at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] (default: this host's usable cores).
Prints the full JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}
followed by a compact tail-capture-proof summary line (same metric/value/
unit/sf, per-query map referenced via bench_out.json).

Each query is timed by ``etl_pipeline_spark.utils.measure.time_query``:
best of 2 passes into the ``noop`` sink, session memos and the
CacheManager cleared before every pass (the r12 rule; old-methodology
totals for the same tree are in OPTIMIZATION_r12.md). bench_out*.json
also carries each query's record under "records": the walls of both
passes and, of the best one, the plan-build and action seconds, the
Janino compiles, and the jobs, stages, tasks, executor, shuffle and
spill figures, read outside the timed window.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from etl_pipeline_spark.session import default_cpus, get_spark
from etl_pipeline_spark.utils.measure import time_query, warm_up


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    cpus = default_cpus()
    spark = get_spark(app_name="etl-pipeline-spark-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    _ensure_loaded()

    # the full registry in its registration order, so the JSON's
    # coverage is every registered query
    suite = list(REGISTRY)
    warm_up(spark, sf_dir)

    # Failures go to a separate "errors" map (never a sentinel mixed into
    # the timings) and flip the exit code so a broken query can't read as
    # a speedup.
    records: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in suite:
        try:
            records[name] = time_query(spark, name, sf_dir)
        except Exception as exc:  # one broken query must not kill the suite
            print(f"BENCH-ERROR {name}: {exc}", file=sys.stderr)
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
    timings = {name: round(rec["best_s"], 3) for name, rec in records.items()}
    total = sum(rec["best_s"] for rec in records.values())

    metric = (
        "headline suite wall clock (noop sink, best-of-2 per query,"
        " session memos + cache cleared before every pass)"
    )
    out = {
        "metric": metric,
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "coverage": {"benched": len(suite), "registered": len(REGISTRY)},
    }
    if errors:
        out["errors"] = errors
    line = json.dumps(out)
    # Truncation-proofing (BENCH_r03's single line overflowed the
    # driver's tail capture): persist the full JSON to bench_out.json
    # FIRST, then print the line with an explicit flush. ALSO write a
    # per-core-count copy (bench_out_c<cpus>.json): the driver benches the
    # same tree at two core counts and the second run used to overwrite
    # the first's per-query map, which destroyed the round-over-round and
    # scaling diffs (PERF_r11 n_common: 0). Per-cpus files survive both
    # runs.
    here = os.path.dirname(os.path.abspath(__file__))
    full = json.dumps({**out, "records": records})
    for fname in ("bench_out.json", f"bench_out_c{cpus}.json"):
        try:
            with open(os.path.join(here, fname), "w") as f:
                f.write(full + "\n")
        except OSError as exc:
            print(f"BENCH-WARN could not write {fname}: {exc}", file=sys.stderr)
    print(line, flush=True)
    # The driver records only the TAIL of stdout; the full 272-query JSON
    # line overflows that window (BENCH_r07/r08 carried "parsed": null).
    # Emit a compact one-line summary LAST so any tail capture ends with a
    # complete, parseable JSON line; bench_out.json keeps the per-query map.
    summary = {
        "metric": metric,
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "coverage": out["coverage"],
        "error_count": len(errors),
        "queries_full": f"bench_out_c{cpus}.json",
    }
    print(json.dumps(summary), flush=True)
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
