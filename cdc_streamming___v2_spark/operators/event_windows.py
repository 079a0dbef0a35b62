"""Event-time window operators over the ``events`` table (oracle-checkable).

The batch queries compute window semantics DuckDB can verify: tumbling
via F.window ≡ time_bucket, sliding via the 2-offset expansion,
sessionization via the lag/gaps-and-islands construction (identical
window-function SQL). The ``streaming_*_execution`` queries replay the
same table as real multi-micro-batch Structured Streaming runs
(watermark, session merge, dedup, stream-stream interval join), so the
rows the stateful operators emit are oracle-checked too.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

SESSION_GAP_MIN = 30

# State-store partition count for the real-streaming execution queries.
# Stateful operators keep one store (four for a stream-stream join) PER
# SHUFFLE PARTITION, and every micro-batch pays store init + commit per
# partition — for these bounded replays that fixed cost dwarfs the data.
# Measured solo at sf0.1, min-of-3 (r11 optimization round, guide §2):
#   streaming_interval_join_execution  32: 18-21 s   8: 6.4-7.0 s
#   streaming_watermark_execution      32: 5.36 s    8: 3.23 s   4: 3.00 s
#   streaming_session_merge_execution  32: 5.64 s    8: 4.09 s   4: 3.90 s
#   streaming_dedup_execution          32: 5.12 s    8: 3.78 s   4: 3.65 s
# 8 holds nearly all of the win with parallel headroom; identical results
# (watermark semantics are global per batch, not per partition).  This is
# exactly the knob a production deployment sizes UP as per-partition
# state grows.
STREAM_EXEC_SHUFFLE_PARTITIONS = "8"


@contextmanager
def _scoped_shuffle_partitions(spark: SparkSession, n: str):
    """Temporarily set spark.sql.shuffle.partitions (restored after)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour tumbling windows: counts + sums per event_type.

    Spark's window() aligns to the 1970 epoch; DuckDB's time_bucket to
    2000-01-01 — identical boundaries for divisors of 24h.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12h windows sliding every 6h (each event lands in exactly 2)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "12 hours", "6 hours"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 2).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "n_events",
            "avg_value",
        )
    )


def session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gaps-and-islands with a 30-minute idle gap.

    lag(ts) per user -> new-session flag -> running sum = session id ->
    per-session aggregates. Identical construction in the SQL oracle.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap_s = SESSION_GAP_MIN * 60
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
            > gap_s,
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return flagged.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


ORACLES = {
    "tumbling_window_agg": """
        SELECT CAST(time_bucket(INTERVAL '6 hours', ts) AS TIMESTAMP) AS win_start,
               event_type,
               count(*)              AS n_events,
               round(sum(value), 2)  AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "sliding_window_agg": """
        WITH expanded AS (
            SELECT CAST(time_bucket(INTERVAL '6 hours', ts) AS TIMESTAMP)
                       - k * INTERVAL '6 hours' AS win_start,
                   value
            FROM events, unnest([0, 1]) AS t(k)
        )
        SELECT win_start,
               win_start + INTERVAL '12 hours' AS win_end,
               count(*)             AS n_events,
               round(avg(value), 2) AS avg_value
        FROM expanded
        GROUP BY win_start
    """,
    "session_agg": f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w
                             > {SESSION_GAP_MIN * 60}
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   sum(new_sess) OVER (PARTITION BY user_id
                                       ORDER BY ts ASC, event_id ASC
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS sess_id
            FROM flagged
        )
        SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
               min(ts)              AS sess_start,
               max(ts)              AS sess_end,
               count(*)             AS n_events,
               round(sum(value), 2) AS sum_value
        FROM sess
        GROUP BY user_id, sess_id
    """,
}

QUERIES = {
    "tumbling_window_agg": tumbling_window_agg,
    "sliding_window_agg": sliding_window_agg,
    "session_agg": session_agg,
}


# --------------------------------------------------------------------------
# round-5 restarted-session: SLA latency percentile report
# --------------------------------------------------------------------------

SLA_P99_MS = 120_000.0  # flag types whose p99 interarrival exceeds 2 min


def latency_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type interarrival percentile report (p50 / p95 / p99 in
    milliseconds) with an SLA breach flag — the tail-latency dashboard
    row computed from exact interpolated percentiles.

    Both engines compute the same linear interpolation over identical
    integer microsecond gaps (Spark ``percentile`` == DuckDB
    ``quantile_cont``), so the report is reproducible bit-for-bit.

    Scale: the day-bucketed exact lag (functions/events.py — the raw
    per-type window was a 6-task corpus sort) builds gaps; the
    percentile aggregation is per type over its gap set — a single
    shuffle.
    """
    from ..functions.events import typed_interarrival_gaps

    e = load_table(spark, sf_dir, "events")
    gaps = typed_interarrival_gaps(e, gap_col="gap_us")
    p = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.percentile(F.col("gap_us"), F.lit(0.5)).alias("p50"),
        F.percentile(F.col("gap_us"), F.lit(0.95)).alias("p95"),
        F.percentile(F.col("gap_us"), F.lit(0.99)).alias("p99"),
    )
    return p.select(
        "event_type",
        "n_gaps",
        F.round(F.col("p50") / 1000.0, 2).alias("p50_ms"),
        F.round(F.col("p95") / 1000.0, 2).alias("p95_ms"),
        F.round(F.col("p99") / 1000.0, 2).alias("p99_ms"),
        (F.col("p99") / 1000.0 > SLA_P99_MS).alias("sla_breach"),
    )


ORACLES["latency_sla_report"] = f"""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
        FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_us, 0.5) / 1000.0, 2) AS p50_ms,
           round(quantile_cont(gap_us, 0.95) / 1000.0, 2) AS p95_ms,
           round(quantile_cont(gap_us, 0.99) / 1000.0, 2) AS p99_ms,
           quantile_cont(gap_us, 0.99) / 1000.0 > {SLA_P99_MS} AS sla_breach
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY 1
"""
QUERIES["latency_sla_report"] = latency_sla_report


def late_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-policy evidence: per event type, how much data arrives
    OUT OF event-time ORDER and by how long — the table an operator
    reads before choosing `withWatermark`'s delay (too short drops the
    late tail; too long bloats state).  Arrival order is the event_id
    sequence (the ingest log's append order); an event is late when its
    ts precedes the per-USER running event-time maximum at its arrival.

    Exactness: the running max is a per-user ordered window (keyed —
    scale-safe, never a global sort); lateness buckets to whole hours
    (bounded grid), so late share / mean lateness are exact integer
    folds and the p95 is an exact integer-div rank pick on the bounded
    hour-bucket frame (to-the-hour resolution, documented).

    Scale: ONE shuffle of events on user_id for the window, one reduce
    to (type, hour-bucket); everything after runs on the bounded grid.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = e.withColumn("prior_max", F.max("ts").over(w)).select(
        "event_type",
        F.when(
            F.col("prior_max").isNotNull() & (F.col("ts") < F.col("prior_max")),
            F.floor(
                (
                    F.col("prior_max").cast("long") - F.col("ts").cast("long")
                ) / 3600
            ).cast("long"),
        ).alias("late_hours"),  # null = on time (or first arrival)
    )
    buckets = staged.groupBy(
        "event_type", F.col("late_hours").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = buckets.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("h").isNotNull(), F.col("c")).otherwise(0)).alias(
            "n_late"
        ),
        F.sum(
            F.when(F.col("h").isNotNull(), F.col("h") * F.col("c")).otherwise(
                0
            )
        ).alias("late_hr_sum"),
        F.max("h").alias("max_late_hours"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late_cum = (
        buckets.filter(F.col("h").isNotNull())
        .withColumn("cum", F.sum("c").over(wcum))
        .join(tot.select("event_type", "n_late"), "event_type")
        # p95 of the LATE subset: smallest hour bucket with
        # 100*cum >= 95*n_late (exact integer test)
        .filter(100 * F.col("cum") >= 95 * F.col("n_late"))
        .groupBy("event_type")
        .agg(F.min("h").alias("p95_late_hours"))
    )
    out = tot.join(late_cum, "event_type", "left")
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.col("n_late").cast("long").alias("n_late"),
        F.round(F.col("n_late") / F.col("n").cast("double"), 6).alias(
            "late_share"
        ),
        F.round(
            F.col("late_hr_sum") / F.nullif(F.col("n_late"), F.lit(0)).cast(
                "double"
            ),
            4,
        ).alias("mean_late_hours"),
        F.col("p95_late_hours").cast("long").alias("p95_late_hours"),
        F.col("max_late_hours").cast("long").alias("max_late_hours"),
    ).orderBy("event_type")


ORACLES["late_data_profile"] = """
    WITH staged AS (
        SELECT event_type,
               CASE WHEN prior_max IS NOT NULL AND ts < prior_max
                    THEN CAST(floor(epoch(prior_max - ts) / 3600)
                              AS BIGINT) END AS h
        FROM (
            SELECT event_type, ts,
                   max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prior_max
            FROM events
        )
    ),
    buckets AS (
        SELECT event_type, h, CAST(count(*) AS BIGINT) AS c
        FROM staged GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, sum(c) AS n,
               sum(CASE WHEN h IS NOT NULL THEN c ELSE 0 END) AS n_late,
               sum(CASE WHEN h IS NOT NULL THEN h * c ELSE 0 END)
                   AS late_hr_sum,
               max(h) AS max_late_hours
        FROM buckets GROUP BY 1
    ),
    cum AS (
        SELECT b.event_type, b.h,
               sum(b.c) OVER (PARTITION BY b.event_type ORDER BY b.h
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
               t.n_late
        FROM buckets b JOIN tot t ON b.event_type = t.event_type
        WHERE b.h IS NOT NULL
    ),
    p95 AS (
        SELECT event_type, min(h) AS p95_late_hours
        FROM cum WHERE 100 * cum >= 95 * n_late
        GROUP BY 1
    )
    SELECT t.event_type AS event_type, CAST(n AS BIGINT) AS n_events,
           CAST(n_late AS BIGINT) AS n_late,
           round(n_late * 1.0 / n, 6) AS late_share,
           round(late_hr_sum / nullif(CAST(n_late AS DOUBLE), 0.0), 4)
               AS mean_late_hours,
           p95_late_hours,
           max_late_hours
    FROM tot t LEFT JOIN p95 p ON t.event_type = p.event_type
    ORDER BY t.event_type
"""
QUERIES["late_data_profile"] = late_data_profile


def streaming_watermark_execution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL streaming execution of the watermarked tumbling window — not
    the batch twin: events split chronologically into three parquet
    files at the epoch-micros terciles and replayed as THREE
    micro-batches through a genuine Structured Streaming query (file
    source, maxFilesPerTrigger=1, mtime-ordered, availableNow), with
    every ``event_id % 7 == 0`` row from the first two files
    re-delivered in the THIRD file as a LATE duplicate.
    ``withWatermark('ts', '1 hour')`` + 1-day tumbling windows in APPEND
    mode make the engine itself decide, and the DuckDB oracle recomputes
    the engine's measured semantics arithmetically from the events
    table:

    - a late duplicate delivered in batch 3 survives iff its day-window
      was still live when the batch ran — empirically (Spark 4.1.2, and
      pinned here): window end > max(file1.ts) - 1h, the watermark
      OPERATIVE DURING batch 2, which is the eviction boundary batch 3
      sees (state eviction trails the data by one batch: a window
      closes at the end of the first batch that RUNS under a watermark
      past its end);
    - duplicates for already-evicted windows are dropped — their
      emitted counts stay base-only;
    - append mode emits exactly the windows whose end is at or below
      the FINAL watermark (max(all ts) - 1h); the trailing day stays
      unemitted at stream end.

    This is the registry's only query that runs a real multi-batch
    stream over the SF corpus (the CDC lifecycle queries stream fixed
    golden corpora; tumbling/sliding/session aggs are batch twins).

    Scale: one pass to split + write, one streaming pass to aggregate;
    state is one count per live day-window — watermark eviction bounds
    it exactly as it would a 100 TB/day production stream.
    """
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="swe_")
    try:
        ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
        b = ev.agg(
            F.min(F.unix_micros("ts")).alias("mn"),
            F.max(F.unix_micros("ts")).alias("mx"),
        ).collect()[0]
        t1 = F.timestamp_micros(
            F.lit(b["mn"] + (b["mx"] - b["mn"]) // 3)
        )
        t2 = F.timestamp_micros(
            F.lit(b["mn"] + 2 * (b["mx"] - b["mn"]) // 3)
        )
        f1 = ev.filter(F.col("ts") <= t1)
        f2 = ev.filter((F.col("ts") > t1) & (F.col("ts") <= t2))
        late = ev.filter(
            (F.col("ts") <= t2) & (F.col("event_id") % 7 == 0)
        )
        f3 = ev.filter(F.col("ts") > t2).unionByName(late)
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        for i, part in enumerate([f1, f2, f3]):
            d = os.path.join(work, f"w{i}")
            part.coalesce(1).write.parquet(d)
            src = [
                n for n in os.listdir(d) if n.endswith(".parquet")
            ][0]
            dst = os.path.join(in_dir, f"{chr(97 + i)}.parquet")
            os.rename(os.path.join(d, src), dst)
            os.utime(dst, (1000 * (i + 1),) * 2)  # replay order

        qn = f"swe_{os.path.basename(work).split('_')[-1]}"
        stream = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.col("window.start").alias("win_start"), "n_rows")
        )
        with _scoped_shuffle_partitions(
            spark, STREAM_EXEC_SHUFFLE_PARTITIONS
        ):
            q = (
                stream.writeStream.outputMode("append")
                .format("memory")
                .queryName(qn)
                .option("checkpointLocation", os.path.join(work, "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        rows = [
            (r["win_start"], r["n_rows"])
            for r in spark.table(qn).collect()
        ]
        spark.catalog.dropTempView(qn)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "win_start timestamp, n_rows long"
    ).orderBy("win_start")


QUERIES["streaming_watermark_execution"] = streaming_watermark_execution
ORACLES["streaming_watermark_execution"] = """
    WITH e AS (SELECT event_id, ts FROM events),
    b AS (
        SELECT epoch_us(min(ts)) AS mn, epoch_us(max(ts)) AS mx FROM e
    ),
    s AS (
        SELECT make_timestamp(mn + (mx - mn) // 3) AS t1,
               make_timestamp(mn + 2 * (mx - mn) // 3) AS t2
        FROM b
    ),
    f1 AS (SELECT * FROM e WHERE ts <= (SELECT t1 FROM s)),
    wm1 AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM f1),
    wm3 AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
    late_ok AS (
        SELECT * FROM e
        WHERE ts <= (SELECT t2 FROM s)
          AND event_id % 7 = 0
          AND CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
              > (SELECT w FROM wm1)
    ),
    allr AS (
        SELECT ts FROM e UNION ALL SELECT ts FROM late_ok
    ),
    agg AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
               count(*) AS n_rows
        FROM allr GROUP BY 1
    )
    SELECT win_start, n_rows FROM agg
    WHERE win_start + INTERVAL 1 DAY <= (SELECT w FROM wm3)
    ORDER BY win_start
"""


def streaming_session_merge_execution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL streaming execution of watermarked SESSION windows with
    cross-batch state merging: events split chronologically at the
    epoch-micros midpoint into two mtime-ordered files replayed as two
    micro-batches (file source, maxFilesPerTrigger=1, availableNow);
    ``F.session_window('ts', '30 minutes')`` per user under
    ``withWatermark('ts', '1 hour')`` in APPEND mode. Sessions that
    STRADDLE the file boundary exist as open state after batch 1 and
    must MERGE with batch 2's rows — a per-key stateful merge no batch
    twin exercises (session_agg covers the same gap semantics
    batch-side).

    The DuckDB oracle recomputes the full emitted set with the
    gaps-and-islands construction plus the engine's measured emission
    rule (verified exactly at sf0.01 before pinning: 9525 of 9549
    sessions): a session emits iff last_event_ts + gap <= max(all ts) -
    1h (the final watermark); trailing still-open sessions never emit
    at stream end. Full-set hash parity — one wrong merge, count, or
    boundary breaks it.

    Scale: session state is per-open-session and bounded by watermark
    eviction; the memory sink here is the correctness harness's
    collection point (production writes a file sink), sized by the
    emitted-session count, not raw events.
    """
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="ssw_")
    try:
        ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
        b = ev.agg(
            F.min(F.unix_micros("ts")).alias("mn"),
            F.max(F.unix_micros("ts")).alias("mx"),
        ).collect()[0]
        split = F.timestamp_micros(F.lit((b["mn"] + b["mx"]) // 2))
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        parts = [
            ev.filter(F.col("ts") <= split),
            ev.filter(F.col("ts") > split),
        ]
        for i, part in enumerate(parts):
            d = os.path.join(work, f"w{i}")
            part.coalesce(1).write.parquet(d)
            src = [
                n for n in os.listdir(d) if n.endswith(".parquet")
            ][0]
            dst = os.path.join(in_dir, f"{chr(97 + i)}.parquet")
            os.rename(os.path.join(d, src), dst)
            os.utime(dst, (1000 * (i + 1),) * 2)  # replay order

        qn = f"ssw_{os.path.basename(work).split('_')[-1]}"
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("sess_start"),
                F.col("session_window.end").alias("sess_end"),
                "n_events",
            )
        )
        with _scoped_shuffle_partitions(
            spark, STREAM_EXEC_SHUFFLE_PARTITIONS
        ):
            q = (
                stream.writeStream.outputMode("append")
                .format("memory")
                .queryName(qn)
                .option("checkpointLocation", os.path.join(work, "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.table(qn).collect()
        spark.catalog.dropTempView(qn)
        rows = [
            (r["user_id"], r["sess_start"], r["sess_end"], r["n_events"])
            for r in out
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "user_id long, sess_start timestamp, sess_end timestamp, "
        "n_events long",
    ).orderBy("user_id", "sess_start")


QUERIES["streaming_session_merge_execution"] = (
    streaming_session_merge_execution
)
ORACLES["streaming_session_merge_execution"] = """
    WITH e AS (SELECT user_id, ts FROM events),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
    marks AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts
                    ) IS NULL
                    OR ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts
                    ) > INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS brk
        FROM e
    ),
    isl AS (
        SELECT user_id, ts,
               sum(brk) OVER (
                   PARTITION BY user_id ORDER BY ts
               ) AS sid
        FROM marks
    ),
    sess AS (
        SELECT user_id, sid,
               min(ts) AS sess_start,
               max(ts) + INTERVAL 30 MINUTE AS sess_end,
               count(*) AS n_events
        FROM isl GROUP BY 1, 2
    )
    SELECT user_id, sess_start, sess_end, n_events
    FROM sess
    WHERE sess_end <= (SELECT w FROM wm)
    ORDER BY user_id, sess_start
"""


def streaming_dedup_execution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL streaming execution of ``dropDuplicatesWithinWatermark``:
    events split at the epoch-micros terciles into three mtime-ordered
    files replayed as three micro-batches (file source,
    maxFilesPerTrigger=1, availableNow), with every ``event_id % 7 == 0``
    first-tercile row RE-DELIVERED in both later files and every
    ``event_id % 11 == 0`` second-tercile row re-delivered in the third —
    duplicates arriving one AND two batches after their original.

    Pinned semantics (measured here on Spark 4.1.2 before writing the
    oracle, at both one- and two-batch re-delivery delays): every
    duplicate is suppressed — the dedup state outlives the re-delivery
    horizon of this replay, so the output is EXACTLY one row per
    distinct event_id, proven by full-set hash parity against
    ``SELECT DISTINCT`` (10,000 rows at sf0.01). A future engine that
    evicted dedup state earlier (re-admitting a late duplicate — the
    documented best-effort edge of dropDuplicatesWithinWatermark) breaks
    the hash, which is exactly the kind of silent semantic shift this
    registry exists to catch.

    Scale: dedup state is per-key-within-watermark; the narrow
    pass-through plan shuffles once on the dedup key.
    """
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="sde_")
    try:
        ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
        b = ev.agg(
            F.min(F.unix_micros("ts")).alias("mn"),
            F.max(F.unix_micros("ts")).alias("mx"),
        ).collect()[0]
        t1 = F.timestamp_micros(F.lit(b["mn"] + (b["mx"] - b["mn"]) // 3))
        t2 = F.timestamp_micros(
            F.lit(b["mn"] + 2 * (b["mx"] - b["mn"]) // 3)
        )
        f1 = ev.filter(F.col("ts") <= t1)
        f2b = ev.filter((F.col("ts") > t1) & (F.col("ts") <= t2))
        d1 = f1.filter(F.col("event_id") % 7 == 0)
        d2 = f2b.filter(F.col("event_id") % 11 == 0)
        parts = [
            f1,
            f2b.unionByName(d1),
            ev.filter(F.col("ts") > t2).unionByName(d1).unionByName(d2),
        ]
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        for i, part in enumerate(parts):
            d = os.path.join(work, f"w{i}")
            part.coalesce(1).write.parquet(d)
            src = [
                n for n in os.listdir(d) if n.endswith(".parquet")
            ][0]
            dst = os.path.join(in_dir, f"{chr(97 + i)}.parquet")
            os.rename(os.path.join(d, src), dst)
            os.utime(dst, (1000 * (i + 1),) * 2)  # replay order

        qn = f"sde_{os.path.basename(work).split('_')[-1]}"
        stream = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        with _scoped_shuffle_partitions(
            spark, STREAM_EXEC_SHUFFLE_PARTITIONS
        ):
            q = (
                stream.writeStream.outputMode("append")
                .format("memory")
                .queryName(qn)
                .option("checkpointLocation", os.path.join(work, "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        rows = [
            (r["event_id"], r["ts"]) for r in spark.table(qn).collect()
        ]
        spark.catalog.dropTempView(qn)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp"
    ).orderBy("event_id")


QUERIES["streaming_dedup_execution"] = streaming_dedup_execution
ORACLES["streaming_dedup_execution"] = """
    SELECT DISTINCT event_id, ts FROM events ORDER BY event_id
"""


def interval_join_streams(
    errors: DataFrame,
    clicks: DataFrame,
    window_minutes: int = 10,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each error event paired with the same
    user's click events from the preceding ``window_minutes``.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so the state store can evict rows once the watermark passes
    — bounded state, the requirement for an unbounded 100 TB stream.
    Batch twin (oracle-checked): operators/temporal.range_join_error_clicks.

    ``how="leftOuter"`` keeps errors with NO click in the window: the
    engine can only emit the null-padded row once the click-side watermark
    passes the end of that error's interval (before that, a matching click
    might still arrive), so outer results trail the inner ones by up to
    the watermark delay — correctness over latency, resolved per event as
    soon as the stream itself proves no match can appear.
    """
    e = (
        errors.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("e_ts"),
        )
    )
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    cond = (
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (F.col("c_ts") < F.col("e_ts"))
    )
    return e.join(c, cond, how).select(
        F.col("e_user").alias("user_id"), "error_id", "e_ts", "click_id", "c_ts"
    )


def streaming_interval_join_execution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL streaming execution of the stream-stream INTERVAL JOIN
    (interval_join_streams above) — the fourth stateful
    class promoted from batch-twin-only to a genuine multi-micro-batch
    run (VERDICT r10 #4): errors and clicks are each split at the
    GLOBAL epoch-micros terciles into three mtime-ordered files and
    replayed as paired micro-batches (two file sources, each
    maxFilesPerTrigger=1, availableNow); leftOuter join with both sides
    watermarked 1h and the click bounded to the error's preceding
    10-minute interval ``[e_ts - 10m, e_ts)``.

    Pinned semantics (MEASURED here on Spark 4.1.2 before writing the
    oracle — sf0.01: 2,006 emitted rows = 6 matched + 2,000 nulls, 8
    tail errors withheld):

    - every batch-truth pair emits, none twice: chronological replay
      keeps a pair's two legs at most one file apart, and 1h watermark
      state eviction never outruns a 10-minute join interval — full
      inner-set parity;
    - a null-padded row for a matchless error emits iff
      ``e_ts <= least(max(error ts), max(click ts)) - 1h`` — the GLOBAL
      watermark is the MIN across both inputs
      (multipleWatermarkPolicy=min, the default pinned here), and only
      once it passes the error's interval end can the engine prove no
      matching click can still arrive; the availableNow final flush
      batch runs under this final watermark, so no one-batch trailing
      remains at stream end.  Errors above that line stay in state,
      unemitted — correctness over completeness at the stream tail.

    The oracle recomputes both rules arithmetically from the events
    table; a future engine that emitted tail nulls eagerly (the
    documented at-least-once temptation) or combined watermarks with
    max breaks the row count and the hash.

    Scale: join state is per-key rows within the watermark horizon on
    both sides — eviction bounds it exactly as it would an unbounded
    production stream; no collect beyond the memory-sink parity
    harness (the result set itself).  State partitioning is sized to
    the state (a stream-stream join keeps FOUR state stores per shuffle
    partition, so partition count multiplies store-init + commit cost
    per micro-batch): measured at sf0.1, 32 partitions ran 18-21 s vs
    6.4-7.0 s at 8 and ~5.1 s at 4 for identical results — the query
    scopes 8 for this corpus scale (restored after), exactly the knob a
    production deployment sizes UP as per-partition state grows.
    """
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="sij_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type"
        )
        b = ev.agg(
            F.min(F.unix_micros("ts")).alias("mn"),
            F.max(F.unix_micros("ts")).alias("mx"),
        ).collect()[0]
        t1 = F.timestamp_micros(F.lit(b["mn"] + (b["mx"] - b["mn"]) // 3))
        t2 = F.timestamp_micros(
            F.lit(b["mn"] + 2 * (b["mx"] - b["mn"]) // 3)
        )
        for side, etype in (("err", "error"), ("clk", "click")):
            sdf = ev.filter(F.col("event_type") == etype).select(
                "event_id", "user_id", "ts"
            )
            parts = [
                sdf.filter(F.col("ts") <= t1),
                sdf.filter((F.col("ts") > t1) & (F.col("ts") <= t2)),
                sdf.filter(F.col("ts") > t2),
            ]
            in_dir = os.path.join(work, side)
            os.makedirs(in_dir)
            for i, part in enumerate(parts):
                d = os.path.join(work, f"{side}_w{i}")
                part.coalesce(1).write.parquet(d)
                src = [
                    n for n in os.listdir(d) if n.endswith(".parquet")
                ][0]
                dst = os.path.join(in_dir, f"{chr(97 + i)}.parquet")
                os.rename(os.path.join(d, src), dst)
                os.utime(dst, (1000 * (i + 1),) * 2)  # replay order

        schema = "event_id long, user_id long, ts timestamp"
        errs = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, "err"))
        )
        clks = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, "clk"))
        )
        j = interval_join_streams(
            errs, clks, window_minutes=10, watermark="1 hour",
            how="leftOuter",
        )
        qn = f"sij_{os.path.basename(work).split('_')[-1]}"
        with _scoped_shuffle_partitions(
            spark, STREAM_EXEC_SHUFFLE_PARTITIONS
        ):
            q = (
                j.writeStream.outputMode("append")
                .format("memory")
                .queryName(qn)
                .option("checkpointLocation", os.path.join(work, "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        rows = [
            (r["user_id"], r["error_id"], r["e_ts"], r["click_id"],
             r["c_ts"])
            for r in spark.table(qn).collect()
        ]
        spark.catalog.dropTempView(qn)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "user_id long, error_id long, e_ts timestamp, "
        "click_id long, c_ts timestamp",
    ).orderBy("error_id", "click_id")


QUERIES["streaming_interval_join_execution"] = (
    streaming_interval_join_execution
)
ORACLES["streaming_interval_join_execution"] = """
    WITH e AS (
        SELECT user_id, event_id AS error_id, ts AS e_ts
        FROM events WHERE event_type = 'error'
    ),
    c AS (
        SELECT user_id, event_id AS click_id, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    wm AS (
        SELECT least((SELECT max(e_ts) FROM e),
                     (SELECT max(c_ts) FROM c))
               - INTERVAL 1 HOUR AS w
    ),
    pairs AS (
        SELECT e.user_id, e.error_id, e.e_ts, c.click_id, c.c_ts
        FROM e JOIN c
          ON e.user_id = c.user_id
         AND c.c_ts >= e.e_ts - INTERVAL 10 MINUTES
         AND c.c_ts < e.e_ts
    ),
    nulls AS (
        SELECT e.user_id, e.error_id, e.e_ts,
               CAST(NULL AS BIGINT) AS click_id,
               CAST(NULL AS TIMESTAMP) AS c_ts
        FROM e
        WHERE e.error_id NOT IN (SELECT error_id FROM pairs)
          AND e.e_ts <= (SELECT w FROM wm)
    )
    SELECT * FROM pairs
    UNION ALL
    SELECT * FROM nulls
    ORDER BY error_id, click_id
"""
