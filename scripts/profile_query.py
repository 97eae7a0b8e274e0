"""Per-query profile: time each named registry query with the bench's
loop (``etl_pipeline_spark.utils.measure``: best of 2 noop-sink passes,
session memos and CacheManager cleared before each) and print its record
and the top stages of its best pass by executor run time — the local
stand-in for the Stages tab when deciding whether time goes to
scheduling, compute or shuffle. Needs no Spark UI.

Usage: python scripts/profile_query.py <query> [<query> ...]
  env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
Physical plans: scripts/dump_plans.py.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded  # noqa: E402
from etl_pipeline_spark.session import get_spark  # noqa: E402
from etl_pipeline_spark.utils import measure  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _ensure_loaded()
    names = sys.argv[1:]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark(app_name="profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    measure.warm_up(spark, sf_dir)
    for name in names:
        passes = measure.run_passes(spark, name, sf_dir)
        rec = {
            k: [round(w, 3) for w in v] if k == "walls" else round(v, 3)
            for k, v in measure.record(passes).items()
        }
        print(f"\n=== {name}: {json.dumps(rec)}")
        stages = measure.best_pass(passes).stages
        for s in sorted(stages, key=lambda s: -s.run_s)[:12]:
            print(
                f"  stage {s.id:>4} {s.status[:4]} tasks={s.tasks:>3}"
                f" run={s.run_s:6.2f}s cpu={s.cpu_s:6.2f}s"
                f" shR={s.shuffle_read_b >> 10:>6}K shW={s.shuffle_write_b >> 10:>6}K"
                f" spill={s.spill_b >> 10:>6}K  {s.name.splitlines()[0][:70]}"
            )


if __name__ == "__main__":
    main()
