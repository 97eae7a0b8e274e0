"""Structured Streaming surface (SURVEY.md §2.8 — beyond-reference).

The reference is pure batch; this module adds the streaming counterparts of
the batch window queries in ``plans/streaming_batch.py``. The *semantics*
are defined by those batch plans (DuckDB-oracle-checked); tests assert the
streaming results (availableNow trigger over the same events parquet) equal
the batch results — the standard way to validate a streaming operator.

Watermarks bound state: at 100 TB/day the tumbling aggregation state is
|windows × event_types| per trigger, and the watermark lets Spark drop
windows older than the lateness budget.

`events.ts` is epoch-nanoseconds (see sources/star.py); streaming
event-time requires a real timestamp column, so `events_stream` derives
`event_time = timestamp_micros(ts div 1000)`. Window starts are reported
back as epoch seconds (`unix_timestamp(window.start)`) — epoch-based and
therefore timezone-proof, matching the batch plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table as a file stream with an event_time column."""
    from etl_pipeline_spark.sources.star import _events_ts_to_epoch_ns, parquet_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = parquet_schema(f"{sf_dir}/events.parquet")
    # the file-stream source requires a directory: stream the sf_dir with a
    # glob selecting only the events file
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    # normalize ts to epoch-ns bigint whatever the parquet physical type —
    # the one shared tz-proof conversion (works on streaming DataFrames too)
    raw = _events_ts_to_epoch_ns(raw)
    return raw.withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))


def tumbling_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1h counts + sums per event_type (streaming analog of
    events_tumbling_1h)."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_sums(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Sliding 30min/15min windows (streaming analog of events_sliding_30m15m)."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "30 minutes", "15 minutes"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized(stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Session windows per user with an inactivity gap (streaming analog of
    events_sessionize_30m; session numbering differs — streaming reports
    window bounds, not ordinals). NULL event times are dropped explicitly
    (r11 nulls wave) — the batch twin's convention, made deterministic
    here rather than left to session_window's NULL handling."""
    return (
        stream.filter(F.col("event_time").isNotNull())
        .withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("session_start_epoch"),
            "n_events",
            "total_value",
        )
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain the stream with an availableNow trigger into a memory sink and
    return the materialized result (test/validation helper). Aggregations
    use the default 'complete'; row-level operators (dedup, maps) need
    output_mode='append'."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def stream_to_table(
    stream_df: DataFrame,
    table: str,
    mode: str = "append",
    query_name: str = "stream_load",
    checkpoint: str | None = None,
):
    """Streaming → write-mode sink via foreachBatch: each micro-batch goes
    through the same checked writers as batch loads (sinks/writers.py), so
    the streaming path inherits schema checking and namespace refusal. Use
    mode='truncate_and_load' with complete-output aggregations, 'append'
    with append-output streams."""
    from etl_pipeline_spark.sinks.writers import append as append_sink
    from etl_pipeline_spark.sinks.writers import truncate_and_load

    sink = {"append": append_sink, "truncate_and_load": truncate_and_load}[mode]

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_df, table)

    writer = (
        stream_df.writeStream.foreachBatch(_write_batch)
        .queryName(query_name)
        .outputMode("update" if mode == "truncate_and_load" else "append")
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def stream_merge_to_table(
    stream_df: DataFrame,
    table: str,
    key_cols: list[str],
    query_name: str = "stream_merge",
    checkpoint: str | None = None,
):
    """Streaming upsert (the CDC-apply pattern): every micro-batch merges
    into the target through sinks.merge_upsert — matched keys update,
    new keys insert. Within a batch, later rows win per key (batches can
    carry several changes for one key), deduped by a keep-last window
    BEFORE the merge so the upsert sees one row per key.

    At scale this is the standard change-stream materializer; with an ACID
    table format the same foreachBatch body calls MERGE INTO directly.
    """
    from pyspark.sql.window import Window

    from etl_pipeline_spark.sinks.writers import merge_upsert

    def _apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        w = Window.partitionBy(*key_cols).orderBy(F.monotonically_increasing_id().desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        merge_upsert(latest, table, key_cols)

    writer = (
        stream_df.writeStream.foreachBatch(_apply_batch)
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q
