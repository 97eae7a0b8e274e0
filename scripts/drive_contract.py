"""Drive the driver contract exactly as the verify harness would:
vanilla SparkSession (no engine configs), hostile timezone, sf0.01,
side-by-side DuckDB oracle comparison with order-insensitive value hash."""
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

# deliberately NOT etl_pipeline_spark.get_spark: plain session + hostile tz
spark = (
    SparkSession.builder.master("local[8]")
    .appName("contract-drive")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e
from tests.conftest import canonicalize

out = e.entry(spark)
rows = out.collect()
print(f"entry(): {len(rows)} rows, schema={out.schema.simpleString()}")
assert len(rows) > 0

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def vhash(df: pd.DataFrame) -> str:
    return hashlib.md5(canonicalize(df).to_csv(index=False).encode()).hexdigest()


qs, os_ = e.queries(), e.oracle_sql()
# optional argv filter: `drive_contract.py q1 q2 ...` checks only those
# (used to top up a full sweep with queries registered after it started)
if len(sys.argv) > 1:
    unknown = [n for n in sys.argv[1:] if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    qs = {n: qs[n] for n in sys.argv[1:]}
fails = []
for name, fn in sorted(qs.items()):
    sdf = fn(spark, SF).toPandas()
    if name not in os_:
        print(f"  {name}: rows-only, {len(sdf)} rows")
        continue
    ddf = con.execute(os_[name]).fetchdf()
    ok = (len(sdf) == len(ddf)) and (sorted(sdf.columns) == sorted(ddf.columns)) and (vhash(sdf) == vhash(ddf))
    print(f"  {name}: rows={len(sdf)}/{len(ddf)} hash={'MATCH' if ok else 'MISMATCH'}")
    if not ok:
        fails.append(name)

print(f"\n{len(qs) - len(fails)}/{len(qs)} queries match under hostile-tz vanilla session")
if fails:
    print("FAILURES:", fails)
    sys.exit(1)
