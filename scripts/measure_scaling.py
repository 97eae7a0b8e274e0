"""Data-volume scaling measurement: time registered queries at 1x (sf0.1)
and Nx (id-shifted replication, default 8x) — the evidence rows in
SCALING.md.

Replication shifts primary ids per copy so keys stay globally unique, and
rewrites `documents.text` per replica (distinct letter-rotation per copy)
so the corpus grows at CONSTANT near-duplicate structure — naive
replication would make every doc a near-dup of its 7 copies and measure
the quadratic verify blow-up of a pathologically duplicated corpus, not
volume scaling. (That behavior is inherent to LSH dedup: verify cost
scales with true duplicate mass; see SCALING.md.)

Set SPARK_GRAFT_SCALE_FACTOR=N for other factors (e.g. 64 to turn the
8x rows into curves). The rotation alphabet only supports 10 distinct
letter rotations, so beyond 10 replicas document text repeats across
replica groups — factors > 10 are for FACT-table queries (TPC-H,
events, embeddings-by-id); document-corpus queries should stay at 8x.

Each side is ``measure.time_query``'s best of 2 passes, session memos and
CacheManager cleared before each.

Usage: [SPARK_GRAFT_SCALE_FACTOR=N] python scripts/measure_scaling.py [query ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_pipeline_spark.session import get_spark  # noqa: E402
from etl_pipeline_spark.utils.measure import time_query, warm_up  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "8"))
if REPLICAS < 1:
    raise SystemExit(f"SPARK_GRAFT_SCALE_FACTOR must be >= 1, got {REPLICAS}")
X8_DIR = f"/tmp/sf0.1_x{REPLICAS}"

# table -> id columns to shift per replica (keeps keys globally unique).
# Dimension tables replicate WITHOUT key shifts (facts reference them, and
# 8x volume with the same dimension domain is the realistic scale-up) —
# they are copied as-is so any registered query can run against X8_DIR.
TABLES = {
    "lineitem": ("l_orderkey",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "orders": ("o_orderkey",),
    "events": ("event_id",),
}
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")

DEFAULT_QUERIES = ["cms_partkey_estimates", "dedup_minhash_lsh", "ann_ivf_topk"]


def replicate(spark, table: str) -> None:
    out = Path(X8_DIR) / f"{table}.parquet"
    if out.exists():
        return
    df = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    shift_cols = TABLES[table]
    shifts = {c: df.agg(F.max(c)).collect()[0][0] + 1 for c in shift_cols}
    letters = "etaoinsrhl"
    copies = []
    for r in range(REPLICAS):
        c = df
        for col, m in shifts.items():
            c = c.withColumn(col, F.col(col) + F.lit(r * m))
        if table == "documents" and r > 0:
            # modulo: past len(letters) replicas the rotation CYCLES
            # (text repeats across replica groups, as the module
            # docstring documents) — without it, letters[r:] is '' and
            # every replica >= 10 would carry replica 0's text verbatim
            k = r % len(letters)
            rot = letters[k:] + letters[:k]
            c = c.withColumn("text", F.translate("text", letters, rot))
        copies.append(c)
    u = copies[0]
    for c in copies[1:]:
        u = u.unionByName(c)
    u.write.mode("overwrite").parquet(str(out))


def main() -> None:
    queries = sys.argv[1:] or DEFAULT_QUERIES
    spark = get_spark("scaling-measure")
    for t in TABLES:
        replicate(spark, t)
    for t in DIM_TABLES:
        out = Path(X8_DIR) / f"{t}.parquet"
        if not out.exists():
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").write.mode(
                "overwrite"
            ).parquet(str(out))
    warm_up(spark, SF_DIR)
    for q in queries:
        t1 = time_query(spark, q, SF_DIR)["best_s"]
        t8 = time_query(spark, q, X8_DIR)["best_s"]
        print(f"{q}: 1x={t1:.2f}s {REPLICAS}x={t8:.2f}s ratio={t8 / t1:.2f}")


if __name__ == "__main__":
    main()
