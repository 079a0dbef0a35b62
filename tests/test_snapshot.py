"""Incremental snapshot maintenance: the foreachBatch merge must converge
to the same state as the SCD2 window over the full log, across arbitrary
batch boundaries, with tombstone retention blocking late resurrections."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdc_streamming___v2_spark.operators.scd2_queries import scd2_latest_state
from cdc_streamming___v2_spark.sources.tables import load_table
from cdc_streamming___v2_spark.streaming.snapshot import SnapshotMaintainer

from .conftest import SF_SMALL


def _maintainer(spark, tmp_path) -> SnapshotMaintainer:
    return SnapshotMaintainer(
        spark=spark,
        path=str(tmp_path / "snap"),
        keys=("user_id",),
        order_col="ts",
        action_col="event_type",
        delete_actions=("error",),
        tiebreakers=("event_id",),
    )


def _expected(spark):
    return {
        r.user_id: (r.event_id, r.event_type)
        for r in scd2_latest_state(spark, SF_SMALL).collect()
    }


def test_two_batch_merge_converges(spark, tmp_path):
    e = load_table(spark, SF_SMALL, "events")
    snap = _maintainer(spark, tmp_path)
    split = "2024-01-15 00:00:00"
    snap.merge_batch(e.filter(F.col("ts") <= F.lit(split)), 0)
    snap.merge_batch(e.filter(F.col("ts") > F.lit(split)), 1)
    got = {r.user_id: (r.event_id, r.event_type) for r in snap.current().collect()}
    assert got == _expected(spark)


def test_many_batches_same_result(spark, tmp_path):
    e = load_table(spark, SF_SMALL, "events")
    snap = _maintainer(spark, tmp_path)
    for batch_id, day in enumerate(range(1, 32, 7)):  # weekly chunks
        lo = f"2024-01-{day:02d} 00:00:00"
        hi = (
            f"2024-01-{day + 7:02d} 00:00:00" if day + 7 <= 31
            else "2024-02-01 00:00:00"
        )
        chunk = e.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        if chunk.count():
            snap.merge_batch(chunk, batch_id)
    got = {r.user_id: (r.event_id, r.event_type) for r in snap.current().collect()}
    assert got == _expected(spark)


def test_late_replay_does_not_regress(spark, tmp_path):
    e = load_table(spark, SF_SMALL, "events")
    snap = _maintainer(spark, tmp_path)
    snap.merge_batch(e, 0)  # full log
    before = {r.user_id: r.event_id for r in snap.current().collect()}
    # a later batch carrying an old prefix — nothing may change
    snap.merge_batch(e.filter(F.col("ts") <= F.lit("2024-01-10 00:00:00")), 1)
    after = {r.user_id: r.event_id for r in snap.current().collect()}
    assert after == before


def test_streaming_attach(spark, tmp_path):
    e = load_table(spark, SF_SMALL, "events")
    in_dir = str(tmp_path / "in")
    e.orderBy("ts").coalesce(4).write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(e.schema).parquet(in_dir)
    snap = _maintainer(spark, tmp_path)
    q = snap.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    got = {r.user_id: (r.event_id, r.event_type) for r in snap.current().collect()}
    assert got == _expected(spark)


def test_agg_view_maintainer_converges_and_streams(spark, tmp_path):
    """The streaming aggregate-MV twin: N arbitrary micro-batches must
    converge to the direct full-log aggregation, including via a real
    availableNow stream."""
    from cdc_streamming___v2_spark.streaming.snapshot import AggViewMaintainer

    e = load_table(spark, SF_SMALL, "events")
    mv = AggViewMaintainer(
        spark=spark,
        path=str(tmp_path / "aggview"),
        keys=("user_id", "event_type"),
    )
    bounds = [
        "2024-01-01 00:00:00",
        "2024-01-11 00:00:00",
        "2024-01-21 00:00:00",
        "2024-02-01 00:00:00",
    ]
    for batch_id, (lo_ts, hi_ts) in enumerate(zip(bounds, bounds[1:])):
        chunk = e.filter((F.col("ts") >= F.lit(lo_ts)) & (F.col("ts") < F.lit(hi_ts)))
        mv.merge_batch(chunk, batch_id)
    got = {
        (r.user_id, r.event_type): (r.n_events, r.sum_value, r.min_value, r.max_value)
        for r in mv.current().collect()
    }
    want = {
        (r.user_id, r.event_type): (r.n, round(r.s, 2), r.lo, r.hi)
        for r in e.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 0.02
        assert got[k][2] == want[k][2] and got[k][3] == want[k][3]


def test_agg_view_attaches_to_real_stream(spark, tmp_path):
    """End-to-end through Structured Streaming: a file-source stream
    drained with availableNow must produce the same view."""
    import json

    from cdc_streamming___v2_spark.streaming.snapshot import AggViewMaintainer

    e = load_table(spark, SF_SMALL, "events").select("user_id", "event_type", "value")
    src = str(tmp_path / "src")
    e.coalesce(2).write.mode("overwrite").json(src)
    schema = "user_id long, event_type string, value double"
    stream = spark.readStream.schema(schema).json(src)
    mv = AggViewMaintainer(
        spark=spark, path=str(tmp_path / "mv"), keys=("event_type",)
    )
    q = mv.attach(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    got = {r.event_type: r.n_events for r in mv.current().collect()}
    want = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_maintainers_reject_empty_keys(spark, tmp_path):
    """Construction without keys must raise, not degrade into a single
    all-rows group later (ADVICE r3: the _VersionedTable refactor forced a
    () default onto previously-required fields)."""
    import pytest

    from cdc_streamming___v2_spark.streaming.snapshot import (
        AggViewMaintainer, SnapshotMaintainer,
    )

    with pytest.raises(ValueError, match="non-empty"):
        SnapshotMaintainer(spark=spark, path=str(tmp_path / "a"))
    with pytest.raises(ValueError, match="non-empty"):
        AggViewMaintainer(spark=spark, path=str(tmp_path / "b"))


def test_agg_view_replayed_batch_counts_once(spark, tmp_path):
    """Spark re-delivers a micro-batch after a crash under the same batch
    id; the view must count it once, not twice."""
    from cdc_streamming___v2_spark.streaming.snapshot import AggViewMaintainer

    e = load_table(spark, SF_SMALL, "events").select("user_id", "value")
    mv = AggViewMaintainer(
        spark=spark, path=str(tmp_path / "mv"), keys=("user_id",)
    )
    apply = mv.foreach_batch()
    apply(e, 0)
    apply(e, 0)  # the re-delivery
    got = {r.user_id: (r.n_events, r.sum_value) for r in mv.current().collect()}
    want = {
        r.user_id: (r.n, round(r.s, 2))
        for r in e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for k, (n, s) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - s) < 0.02
