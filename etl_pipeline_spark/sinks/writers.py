"""Write-mode sinks — the SDE-load strategies as Spark write modes.

Reference strategy dispatch (etl/pipeline.py:672-745):

- ``truncate_and_load`` (TruncateTable + Append, etl/pipeline.py:685-697)
  → ``INSERT OVERWRITE``: keeps table identity/schema, replaces rows.
- ``replace`` (Delete + FeatureClassToFeatureClass, :698-716)
  → ``saveAsTable(mode="overwrite")``: drop + recreate.
- ``append`` (Append with NO_TEST, :717-725) → checked, schema-validated
  append — the reference explicitly bypassed schema checks
  (``schema_type="NO_TEST"``); we make the check mandatory and mergeable
  (SURVEY.md §7 hard-part d).
- create-if-missing refuses to invent the namespace (:625-631,729-745) —
  same contract here: the database must exist.
- Pre-load validation (:633-651) → count + schema assertion returning a
  ``LoadReport`` instead of log lines.

Row counts: every sink counts the rows it writes with one ``Observation``
on the written frame, so ``LoadReport.rows`` comes out of the write job
itself — no second job re-reads (and re-parses, re-clips) the source.

Scale notes: all writes accept ``partition_by`` so production tables land
partitioned (partition pruning on read); appends go through
``insertInto``-style positional resolution only after an explicit
column-name alignment, never silently.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class LoadReport:
    table: str
    mode: str
    rows: int
    columns: tuple[str, ...]


def discover_tables(spark: SparkSession, database: str) -> list[str]:
    """K1: list feature classes (tables) in the staging database.

    Filters out temporary views: ``listTables(db)`` mixes session-scoped
    temp views into every database listing, and those are not loadable
    feature classes.
    """
    return [t.name for t in spark.catalog.listTables(database) if not t.isTemporary]


def validate_before_load(df: DataFrame, expected_columns: set[str] | None = None) -> int:
    """K6: pre-load validation — schema subset check + count."""
    if expected_columns:
        missing = expected_columns - set(df.columns)
        if missing:
            raise ValueError(f"pre-load validation failed; missing columns: {sorted(missing)}")
    return df.count()


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an observation that counts the rows passing through it;
    read ``obs.get["rows"]`` once the action that runs it is done."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _by_name(df: DataFrame, cols) -> DataFrame:
    """``df.select(*cols)`` as one ``selectExpr`` over backquoted names: a
    by-name ``select`` resolves ``functions.col`` through py4j once per
    column, SQL text makes no such lookup."""
    return df.selectExpr(*("`" + c.replace("`", "``") + "`" for c in cols))


def _require_database(spark: SparkSession, table: str) -> None:
    """K5: refuse to create a missing namespace (reference refuses missing
    SDE datasets and points at the provisioning script instead)."""
    if "." in table:
        db = table.rsplit(".", 1)[0]
        if not spark.catalog.databaseExists(db):
            raise ValueError(
                f"database {db!r} does not exist; create it first "
                f"(CREATE DATABASE {db}) — this sink does not invent namespaces"
            )


def truncate_and_load(
    df: DataFrame, table: str, partition_by: list[str] | None = None
) -> LoadReport:
    """K2: keep the table, replace all rows (INSERT OVERWRITE semantics)."""
    spark = df.sparkSession
    _require_database(spark, table)
    if spark.catalog.tableExists(table):
        # align by name before positional insert — never NO_TEST semantics
        target_cols = [f.name for f in spark.table(table).schema.fields]
        missing = set(target_cols) - set(df.columns)
        if missing:
            raise ValueError(f"truncate_and_load into {table}: df missing {sorted(missing)}")
        counted, obs = _counted(_by_name(df, target_cols))
        counted.write.insertInto(table, overwrite=True)
    else:
        counted, obs = _counted(df)
        writer = counted.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.saveAsTable(table)
    return LoadReport(table, "truncate_and_load", obs.get["rows"], tuple(df.columns))


def replace(df: DataFrame, table: str, partition_by: list[str] | None = None) -> LoadReport:
    """K3: drop + recreate the table from the DataFrame."""
    _require_database(df.sparkSession, table)
    counted, obs = _counted(df)
    writer = counted.write.mode("overwrite").option("overwriteSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(table)
    return LoadReport(table, "replace", obs.get["rows"], tuple(df.columns))


def append(df: DataFrame, table: str) -> LoadReport:
    """K4: schema-checked append (by-name alignment; unknown columns error)."""
    spark = df.sparkSession
    _require_database(spark, table)
    if spark.catalog.tableExists(table):
        target_cols = [f.name for f in spark.table(table).schema.fields]
        if set(df.columns) != set(target_cols):
            raise ValueError(
                f"append into {table}: column mismatch df={sorted(df.columns)} "
                f"table={sorted(target_cols)}"
            )
        counted, obs = _counted(_by_name(df, target_cols))
        counted.write.insertInto(table, overwrite=False)
    else:
        counted, obs = _counted(df)
        counted.write.mode("append").saveAsTable(table)
    return LoadReport(table, "append", obs.get["rows"], tuple(df.columns))


def write_json_collection(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K7: JSON file sink (the GeoJSON-at-the-edge analog; columnar formats
    stay the internal representation)."""
    df.write.mode(mode).json(path)


def write_geojson_seq(
    df: DataFrame,
    path: str,
    geom_type_col: str = "geom_type",
    coordinates_json_col: str = "coordinates_json",
    mode: str = "overwrite",
) -> None:
    """K7, faithful form: newline-delimited GeoJSON (RFC 8142 GeoJSONSeq) —
    one Feature per line, written in parallel by executors. Properties are
    every column except the geometry pair. A single FeatureCollection file
    would serialize through the driver; GeoJSONSeq is the scale-correct
    edge format and every modern GIS reader accepts it."""
    prop_cols = [c for c in df.columns if c not in (geom_type_col, coordinates_json_col)]
    # the coordinates column is already JSON — splice it in verbatim instead
    # of escape-mangling it through to_json
    line = F.concat(
        F.lit('{"type":"Feature","properties":'),
        F.to_json(F.struct(*[F.col(c) for c in prop_cols])),
        F.lit(',"geometry":{"type":"'),
        F.col(geom_type_col),
        F.lit('","coordinates":'),
        F.col(coordinates_json_col),
        F.lit("}}"),
    )
    df.select(line.alias("value")).write.mode(mode).text(path)


def merge_upsert(
    updates: DataFrame, table: str, key_cols: list[str], partition_by: list[str] | None = None
) -> LoadReport:
    """Beyond-reference write mode: MERGE (upsert) — rows whose key matches
    are replaced by the update row, new keys are inserted, unmatched target
    rows are kept.

    Logical plan: target ⟕anti updates (survivors) ∪ updates → overwrite —
    exactly what ``MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT`` compiles to without a transactional table format. The merged
    relation is staged to a sibling table first because Spark cannot
    overwrite a file-based table it is reading in the same job; an ACID
    format (Delta/Iceberg) would replace the staging hop with file-level
    rewrites + skipping, same semantics. At 100 TB, partition the table by
    a key-derived column so the anti join and the rewrite prune to touched
    partitions.
    """
    spark = updates.sparkSession
    _require_database(spark, table)
    if not key_cols:
        raise ValueError("merge_upsert requires at least one key column")
    if not spark.catalog.tableExists(table):
        return replace(updates, table, partition_by)
    target = spark.table(table)
    if set(target.columns) != set(updates.columns):
        raise ValueError(
            f"merge_upsert into {table}: column mismatch updates={sorted(updates.columns)} "
            f"table={sorted(target.columns)}"
        )
    missing = set(key_cols) - set(updates.columns)
    if missing:
        raise ValueError(f"merge_upsert into {table}: key columns missing {sorted(missing)}")
    survivors = target.join(updates, on=list(key_cols), how="leftanti")
    merged = _by_name(survivors, target.columns).unionByName(_by_name(updates, target.columns))
    staging = f"{table}__merge_staging"
    merged.write.mode("overwrite").saveAsTable(staging)
    try:
        counted, obs = _counted(_by_name(spark.table(staging), target.columns))
        counted.write.insertInto(table, overwrite=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
    return LoadReport(table, "merge_upsert", obs.get["rows"], tuple(target.columns))


def append_evolve(df: DataFrame, table: str) -> LoadReport:
    """K4b: append with controlled schema evolution.

    The reference's SDE append runs schema_type="NO_TEST" — blind
    positional append (etl/pipeline.py:692-695), the biggest correctness
    hole in its load path. The checked `append` above is the strict
    replacement; this variant allows the one evolution a long-lived
    ingest pipeline legitimately needs — NEW nullable columns appear in
    the incoming batch — while still refusing type changes and dropped
    columns. Existing rows read NULL for the new columns (parquet
    schema-merge semantics); the table schema is widened by recreating
    the table definition from the merged schema before the insert.
    """
    spark = df.sparkSession
    _require_database(spark, table)
    if not spark.catalog.tableExists(table):
        counted, obs = _counted(df)
        counted.write.mode("append").saveAsTable(table)
        return LoadReport(table, "append_evolve", obs.get["rows"], tuple(df.columns))

    target = {f.name: f.dataType for f in spark.table(table).schema.fields}
    incoming = {f.name: f.dataType for f in df.schema.fields}
    dropped = set(target) - set(incoming)
    if dropped:
        raise ValueError(
            f"append_evolve into {table}: incoming batch lost columns "
            f"{sorted(dropped)} — evolution only ADDS columns"
        )
    changed = {c for c in target if incoming[c] != target[c]}
    if changed:
        raise ValueError(
            f"append_evolve into {table}: type change refused for {sorted(changed)}"
        )
    new_cols = [c for c in df.columns if c not in target]
    if new_cols:
        # widen: existing data + nulls for new columns, staged through a
        # sibling table (same reason as merge_upsert: Spark cannot
        # overwrite a file-based table it reads in the same job), then the
        # table is recreated with the widened schema
        existing = spark.table(table)
        for c in new_cols:
            existing = existing.withColumn(c, F.lit(None).cast(incoming[c]))
        # the observation sits on the batch's side of the union, so it
        # counts the appended rows, not the widened table
        batch, obs = _counted(df)
        widened = existing.unionByName(batch)
        staging = f"{table}__evolve_staging"
        widened.write.mode("overwrite").saveAsTable(staging)
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            spark.table(staging).write.mode("overwrite").saveAsTable(table)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {staging}")
    else:
        counted, obs = _counted(_by_name(df, target))
        counted.write.insertInto(table, overwrite=False)
    return LoadReport(table, "append_evolve", obs.get["rows"], tuple(df.columns))
