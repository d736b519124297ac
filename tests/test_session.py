"""Engine session defaults (openmldb_spark/session.py)."""

from __future__ import annotations


def test_engine_session_disables_call_site_capture(spark):
    # PySpark's per-call call-site capture costs py4j round trips on
    # every F.* / DataFrame call; the engine session turns it off
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
