"""The engine's session config, ``etl_pipeline_spark/session.py::get_spark``."""

from __future__ import annotations

from py4j.java_gateway import GatewayClient
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from etl_pipeline_spark.utils import measure
from etl_pipeline_spark.utils.session_cache import clear_caches
from tests.conftest import SF_TINY_DIR


def test_call_site_capture_is_off(spark):
    """PySpark caches the flag per process at its first read; with the
    capture on, every ``F.*`` call would send its call site to the JVM."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_one_col_is_three_py4j_round_trips(spark, monkeypatch):
    """``F.col`` is the ``functions`` class lookup (2) plus the call (1);
    with call-site capture on it was 13."""
    sent = []
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    F.col("a")
    monkeypatch.undo()
    assert len(sent) == 3, sent


# TPC-H and SQL-surface queries whose generated classes, together, outnumber
# Spark's default cache of 100 entries
_WORKING_SET = (
    "q4_order_priority_check", "q22_idle_balance_by_country", "q21_waiting_supplier",
    "sql_histogram_event_values", "sql_ntile_balance_quartiles", "q8_market_share",
    "q9_product_type_profit", "sql_zscore_normalize_events", "q1_pricing_summary",
    "sql_keep_first_per_key", "sql_pii_redaction",
)


def _clear_codegen_cache(spark):
    """Empty Spark's generated-class cache, so the next pass compiles every
    class its queries use (``CodeGenerator.cache`` is private)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(cls.getDeclaredField("MODULE$").get(None)).cache().invalidateAll()


def _compiles_of_one_pass(spark) -> int:
    before = measure.codegen_compiles(spark)
    for name in _WORKING_SET:
        clear_caches(spark)
        spark.catalog.clearCache()
        measure.run_noop(REGISTRY[name].spark_fn(spark, SF_TINY_DIR))
    return measure.codegen_compiles(spark) - before


def test_codegen_cache_holds_a_working_set_above_sparks_default(spark):
    """At Spark's default of 100 entries the second pass compiled about
    80 of these classes again; sized to the working set it compiles none."""
    _ensure_loaded()
    _clear_codegen_cache(spark)
    first = _compiles_of_one_pass(spark)
    assert first > 100
    assert _compiles_of_one_pass(spark) == 0
