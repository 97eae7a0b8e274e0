"""The engine's session config, ``etl_pipeline_spark/session.py::get_spark``."""

from __future__ import annotations

from py4j.java_gateway import GatewayClient
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F


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
