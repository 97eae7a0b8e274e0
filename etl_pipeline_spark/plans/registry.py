"""Central query registry — the surface ``__spark_entry__`` exports.

Every operator claimed in SURVEY.md §2 lands here as a named ``QuerySpec``:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (where expressible)
an equivalent ANSI-SQL oracle string DuckDB runs on the same parquet tables.
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this.

Parity rules (driver hash-matches values order-insensitively):
- alias every computed column identically in both engines;
- round floating aggregates (money → 2 dp, ratios → 6 dp) so partial-agg
  ordering differences between engines can't flip low-order bits;
- timestamps only as TIMESTAMP_NTZ or epoch integers (timezone-proof).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query with its DuckDB oracle."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""), tuple(tags))
        return fn

    return deco


def all_queries() -> dict[str, SparkQuery]:
    """Every registered query, in registration order (plan-module import order)."""
    _ensure_loaded()
    return {n: s.spark_fn for n, s in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {n: s.oracle for n, s in REGISTRY.items() if s.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import all plan modules so their @register decorators run."""
    global _LOADED
    if _LOADED:
        return
    from etl_pipeline_spark.plans import (  # noqa: F401
        advanced_analytics,
        analytics,
        commerce,
        corpus_ops,
        corpus_quality,
        curation,
        distribution_analytics,
        features,
        kernel,
        llm,
        multimodal_plan,
        ops_analytics,
        relational,
        relational_analytics,
        sql_surface,
        stat_tests,
        streaming_batch,
        text_analytics,
        text_pipeline,
        tpch_extended,
    )

    _LOADED = True
