"""Stream-stream interval join: drive the streaming query to completion
with availableNow + memory sink and compare against the oracle-checked
batch range join computed on the same data."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from cdc_streamming___v2_spark.operators.event_windows import interval_join_streams
from cdc_streamming___v2_spark.sources.tables import load_table, normalize_event_ts

from .conftest import SF_SMALL

_qname_counter = [0]


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """File streaming source needs a directory: symlink events.parquet in."""
    d = tmp_path_factory.mktemp("events_stream")
    os.symlink(
        os.path.join(SF_SMALL, "events.parquet"), os.path.join(d, "events.parquet")
    )
    return str(d)


def _stream(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    s = spark.readStream.schema(schema).parquet(events_dir)
    return normalize_event_ts(s)


def _run(df, mode="append"):
    _qname_counter[0] += 1
    name = f"out_{_qname_counter[0]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name


def _batch_events(spark):
    return load_table(spark, SF_SMALL, "events")


def test_interval_join_streams_matches_batch(spark, events_dir):
    """Stream-stream interval join totals must equal the oracle-checked
    batch range join (operators/temporal.range_join_error_clicks)."""
    from cdc_streamming___v2_spark.operators.temporal import range_join_error_clicks

    s = _stream(spark, events_dir)
    errors = s.filter(F.col("event_type") == "error")
    clicks = s.filter(F.col("event_type") == "click")
    name = _run(interval_join_streams(errors, clicks))
    got = (
        spark.table(name)
        .groupBy("error_id")
        .count()
        .collect()
    )
    got_counts = {r.error_id: r["count"] for r in got}
    want = {
        r.event_id: r.n_clicks_10m
        for r in range_join_error_clicks(spark, SF_SMALL).collect()
        if r.n_clicks_10m > 0
    }
    assert got_counts == want


@pytest.fixture(scope="module")
def events_dir_two_files(spark, tmp_path_factory):
    """Two time-ordered files: batch 2's start watermark (from batch 1's
    max ts) is what licenses outer-join null emission for early rows."""
    import glob
    import shutil

    d = tmp_path_factory.mktemp("events_stream2f")
    ev = _batch_events(spark)
    mid = ev.selectExpr("percentile(cast(ts as double), 0.5) p").first().p
    for name, part in (
        ("a", ev.filter(F.col("ts").cast("double") <= mid)),
        ("b", ev.filter(F.col("ts").cast("double") > mid)),
    ):
        tmp = str(d / f"_stage_{name}")
        part.coalesce(1).write.parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(src, str(d / f"{name}.parquet"))
        shutil.rmtree(tmp)
    return str(d)


def test_interval_join_left_outer_flushes_unmatched_errors(
    spark, events_dir_two_files
):
    """leftOuter stream-stream join: matched pairs equal the inner join;
    null-padded rows appear only for errors the batch oracle says have no
    click in the window, and only once the watermark seals their interval."""
    from cdc_streamming___v2_spark.operators.temporal import (
        range_join_error_clicks,
    )

    # the fixture rewrote events through load_table, so ts is already a
    # micros TIMESTAMP — no nanos conversion here, unlike _stream()
    schema = spark.read.parquet(events_dir_two_files).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir_two_files)
    )
    errors = s.filter(F.col("event_type") == "error")
    clicks = s.filter(F.col("event_type") == "click")
    name = _run(
        interval_join_streams(errors, clicks, how="leftOuter"),
        mode="append",
    )
    rows = spark.sql(f"select * from {name}").collect()
    matched: dict = {}
    for r in rows:
        if r.click_id is not None:
            matched[r.error_id] = matched.get(r.error_id, 0) + 1
    nulls = {r.error_id for r in rows if r.click_id is None}
    oracle = {
        r.event_id: r.n_clicks_10m
        for r in range_join_error_clicks(spark, SF_SMALL).collect()
    }
    # matched side must agree exactly with the inner-join semantics
    assert matched == {k: v for k, v in oracle.items() if v > 0}
    # null rows: only zero-click errors, sealed ones flushed, no overlap
    assert nulls, "watermark from batch 2 should flush early unmatched errors"
    assert nulls <= {k for k, v in oracle.items() if v == 0}
    assert not (nulls & set(matched))
