"""Dump .explain("formatted") for registered queries without running them.

Usage: [PLAN_DIR=plans/dump] [PLAN_SUFFIX=_after] python scripts/dump_plans.py q1 q2 ...
  env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)

PLAN_DIR defaults to ``plans/dump`` under the repo root and is created if
missing; ``plans/`` is git-ignored, so dumps stay local scratch.

Planning only — no actions besides the checkpoints some plan functions
fire while they build, so it is safe to run next to timed captures.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from etl_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plan_dir = os.environ.get("PLAN_DIR", os.path.join(_REPO, "plans", "dump"))
    suffix = os.environ.get("PLAN_SUFFIX", "")
    os.makedirs(plan_dir, exist_ok=True)
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    _ensure_loaded()
    names = sys.argv[1:]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        text = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(plan_dir, f"{name}{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
