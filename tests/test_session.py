"""Engine session defaults that are set once, at session build."""

from __future__ import annotations


def test_get_spark_turns_off_dataframe_call_site_capture(spark):
    """Call-site capture walks the Python stack on every Column call; the
    engine's session builds with it off."""
    conf = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(conf) == "false"
