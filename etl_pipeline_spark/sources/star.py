"""Star-schema table catalog over the driver-generated parquet testdata.

The reference stages everything through a per-run staging store keyed by
source name (reference: etl/loaders/filegdb.py:65-96); our analog is a
catalog of named parquet tables. Tables are read with their parquet-embedded
schemas (columnar scan + pushdown for free); the expected schemas below act
as a *frozen contract* — SURVEY.md §1.3 calls out schema-on-write bypass
(`schema_type="NO_TEST"`, reference: etl/pipeline.py:692-695) as the
reference's biggest correctness hole, so we validate instead.

The embedded schema is read on the driver from one parquet footer
(`parquet_schema`) and handed to `spark.read.schema(...)`, so opening a
table fires no Spark job: a bare `spark.read.parquet` runs a
schema-inference job per call, which was the fixed floor of every cold
query. `parquet_schema` returns exactly what that inference returns.

`load_table` keeps no memo and does not depend on the session memos:
each call returns a fresh lazy read. What a memo hit would save is one
footer read and the analysis of one scan relation (about 10 ms at sf0.01
on a 4-core host); the relations worth reusing are built downstream and
memoized there (utils/session_cache.py::session_memo).

`events.parquet` carries INT64 TIMESTAMP(NANOS) which Spark's parquet reader
rejects by default; we flip `spark.sql.legacy.parquet.nanosAsLong` at runtime
and expose `ts` as nanosecond epoch (bigint). Query code uses pure epoch
arithmetic on it — timezone-proof and identical in any session.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns we rely on, per table (subset contract — extra columns are fine).
EXPECTED_COLUMNS: dict[str, set[str]] = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"},
    "orders": {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    },
    "lineitem": {
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


def load_table(spark: SparkSession, sf_dir: str, name: str, *, validate: bool = False) -> DataFrame:
    """Read one star-schema table from ``{sf_dir}/{name}.parquet``."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # INT64 TIMESTAMP(NANOS) is unreadable as a Spark timestamp; read
        # the physical int64 and treat `ts` as epoch-ns downstream.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(parquet_schema(path)).parquet(path)
    if name == "events":
        df = _events_ts_to_epoch_ns(df)
    if validate:
        missing = EXPECTED_COLUMNS[name] - set(df.columns)
        if missing:
            raise ValueError(f"table {name!r} missing expected columns: {sorted(missing)}")
    return df


# Spark writes its own schema as JSON under this footer key, and its
# inference prefers that entry over the parquet types (it is the only
# record of e.g. a `timestamp` stored as INT96).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Arrow leaf type → Spark type, as Spark's parquet schema converter maps
# the parquet type arrow read it from (unsigned ints widen; UINT64 is
# decimal(20, 0)).
_LEAF_TYPES = (
    (pa.types.is_boolean, T.BooleanType()),
    (pa.types.is_int8, T.ByteType()),
    (pa.types.is_int16, T.ShortType()),
    (pa.types.is_int32, T.IntegerType()),
    (pa.types.is_int64, T.LongType()),
    (pa.types.is_uint8, T.ShortType()),
    (pa.types.is_uint16, T.IntegerType()),
    (pa.types.is_uint32, T.LongType()),
    (pa.types.is_uint64, T.DecimalType(20, 0)),
    (pa.types.is_float32, T.FloatType()),
    (pa.types.is_float64, T.DoubleType()),
    (pa.types.is_string, T.StringType()),
    (pa.types.is_large_string, T.StringType()),
    (pa.types.is_binary, T.BinaryType()),
    (pa.types.is_large_binary, T.BinaryType()),
    (pa.types.is_fixed_size_binary, T.BinaryType()),
    (pa.types.is_date32, T.DateType()),
)


def parquet_schema(path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, read on the driver
    from one parquet footer — no Spark job.

    ``path`` is a local parquet file or a directory of part files; like
    Spark's inference, a directory is represented by its first non-hidden
    part file in sorted order. Files Spark wrote carry Spark's own schema
    in the footer, which wins (it is the only record of a ``timestamp``
    stored as INT96). Other writers' files map the arrow types:
    TIMESTAMP(NANOS) → bigint (the ``nanosAsLong`` reading), a tz-less
    timestamp → timestamp_ntz, a tz-aware one → timestamp. Every field
    is nullable, as in any file-source schema. A type outside the mapping
    raises a TypeError naming the column."""
    meta = pq.read_metadata(_footer_file(path))
    spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return _as_nullable(T.StructType.fromJson(json.loads(spark_json)))
    # arrow lists leaves in the same depth-first order as the parquet
    # columns, so each leaf can see its physical type (INT96 shows up in
    # arrow as an ordinary timestamp[ns])
    physical = iter([meta.schema.column(i).physical_type for i in range(meta.num_columns)])
    return T.StructType(
        [
            T.StructField(f.name, _spark_type(f.type, f.name, physical))
            for f in meta.schema.to_arrow_schema()
        ]
    )


def _footer_file(path: str) -> str:
    if not os.path.isdir(path):
        return path
    parts = sorted(
        n
        for n in os.listdir(path)
        if not n.startswith(("_", ".")) and os.path.isfile(os.path.join(path, n))
    )
    if not parts:
        raise FileNotFoundError(f"no parquet part file under {path}")
    return os.path.join(path, parts[0])


def _spark_type(t: pa.DataType, column: str, physical) -> T.DataType:
    def inner(child: pa.DataType) -> T.DataType:
        return _spark_type(child, column, physical)

    if pa.types.is_struct(t):
        return T.StructType([T.StructField(c.name, inner(c.type)) for c in t])
    if pa.types.is_map(t):
        return T.MapType(inner(t.key_type), inner(t.item_type))
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return T.ArrayType(inner(t.value_type))
    if pa.types.is_dictionary(t):
        t = t.value_type
    leaf_physical = next(physical)
    if pa.types.is_timestamp(t):
        if leaf_physical == "INT96":
            return T.TimestampType()
        if t.unit == "ns":
            return T.LongType()
        return T.TimestampType() if t.tz else T.TimestampNTZType()
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    for is_type, spark_type in _LEAF_TYPES:
        if is_type(t):
            return spark_type
    raise TypeError(f"column {column!r}: parquet type {t} has no Spark type mapping")


def _as_nullable(t: T.DataType) -> T.DataType:
    """Spark's ``DataType.asNullable``: nullable at every nesting level."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _events_ts_to_epoch_ns(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to epoch-nanoseconds BIGINT whatever the
    parquet physical type is (the generator has shipped both INT64
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds). All query code
    downstream does pure integer epoch arithmetic on `ts`; the session
    timezone is pinned UTC so the timestamp branch is deterministic, and
    DuckDB oracles use epoch_ns(ts), which is physical-type-agnostic too."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "timestamp_ntz":
        from pyspark.sql import functions as F

        # NTZ wall clock == DuckDB's epoch_ns reading: pure NTZ arithmetic,
        # never a cast through the session timezone (the driver's session
        # tz is unknown — verified hostile-tz in scripts/drive_contract.py)
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            )
            * F.lit(1000),
        )
    elif ts_type == "timestamp":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once: ``t = load_tables(spark, d, 'orders', 'lineitem')``."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}
