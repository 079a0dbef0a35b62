"""Behavioral sequence/affinity operators (markov transitions / basket).

Value correctness is the DuckDB oracle's job (tools/check_correctness.py);
these tests assert the semantics on small frames plus plan properties.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_streamming___v2_spark.operators import behavior

SF_DIR = "/root/testdata/sf0.001"


def test_markov_rows_sum_to_one(spark):
    out = behavior.markov_transitions(spark, SF_DIR)
    sums = out.groupBy("src").agg(F.round(F.sum("prob"), 4).alias("s")).collect()
    for r in sums:
        assert abs(r["s"] - 1.0) < 1e-3  # rounding at 6dp across <=5 cells
    # n consistency: total transitions = total events - one per user
    total_n = out.agg(F.sum("n")).collect()[0][0]
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert total_n == e.count() - e.select("user_id").distinct().count()


def test_market_basket_bounded_and_symmetric_free(spark):
    out = behavior.market_basket(spark, SF_DIR)
    rows = out.collect()
    assert 0 < len(rows) <= behavior.MARKET_BASKET_TOPN
    for r in rows:
        assert r["part_a"] < r["part_b"]  # canonical orientation, no dupes
        assert 0.0 < r["support"] <= 1.0
        assert r["lift"] > 0.0
    # deterministic top-N ordering
    counts = [r["pair_n"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_market_basket_broadcasts_dimensions(spark):
    plan = (
        behavior.market_basket(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_registry_rejects_duplicate_keys():
    # the guard that caught behavior.py's original funnel/retention collision:
    # a module re-defining an existing query/oracle key must raise, never
    # silently shadow the first implementation
    import types

    import pytest

    import __spark_entry__ as entry

    q = entry.queries()
    assert "markov_transitions" in q and "market_basket" in q

    base = types.SimpleNamespace(
        __name__="base", QUERIES={"dup": lambda s, d: None}, ORACLES={"dup": "SELECT 1"}
    )
    clash_q = types.SimpleNamespace(
        __name__="clash_q", QUERIES={"dup": lambda s, d: None}, ORACLES={}
    )
    with pytest.raises(ValueError, match="duplicate query keys"):
        entry._merge_registries([base, clash_q])
    clash_o = types.SimpleNamespace(
        __name__="clash_o", QUERIES={"other": lambda s, d: None},
        ORACLES={"dup": "SELECT 2"},
    )
    with pytest.raises(ValueError, match="duplicate oracle keys"):
        entry._merge_registries([base, clash_o])
    stray = types.SimpleNamespace(
        __name__="stray", QUERIES={}, ORACLES={"nosuch": "SELECT 3"}
    )
    with pytest.raises(ValueError, match="oracles without queries"):
        entry._merge_registries([base, stray])


def test_registry_gate_order_and_floor(tmp_path):
    """Registration order IS the driver's evaluation order, derived from
    the committed CORRECTNESS_r*.json proofs: never-proven queries lead,
    then the oldest proofs, and the just-proven window goes to the back.
    The registry must not silently shrink, and every query keeps an
    oracle twin."""
    import json
    import os

    import __spark_entry__ as entry

    q, o = entry._registry()
    names = list(q)
    # _MIN_QUERIES is the EXACT registry size (VERDICT r3: a lagging floor
    # could mask a module silently losing one query) — any add/remove must
    # bump the constant in lockstep
    assert len(names) == entry._MIN_QUERIES
    assert set(o) == set(names)  # zero rows-only checks

    # the policy on a synthetic registry (module order a..f)
    reg = dict.fromkeys(["a", "b", "c", "d", "e", "f"])
    proofs = {"a": 12, "b": 3, "d": 1, "e": 3, "gone": 1}
    order = entry._gate_order(reg, proofs)
    assert order[:2] == ["c", "f"]  # never proven lead, in module order
    assert order[2] == "d"  # then the oldest proof
    assert order[3:5] == ["b", "e"]  # a tie keeps module order
    assert order[-1] == "a"  # the just-proven go to the back
    assert "gone" not in order  # a proof of an unknown query is ignored
    assert entry._gate_order(reg, {}) == list(reg)

    # a failed record is not a proof
    def rec(ok=True, err=None):
        return {"rows_match": ok, "schema_match": ok, "err": err}

    assert entry._load_proofs(str(tmp_path)) == {}
    for rnd, records in (
        (1, {"a": rec(), "b": rec(), "c": rec(ok=None, err="boom")}),
        (2, {"a": rec(), "b": rec(ok=False)}),
    ):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(records))
    assert entry._load_proofs(str(tmp_path)) == {"a": 2, "b": 1}

    # on the real artifacts, the next window is not the last one again
    with open(os.path.join(entry._HERE, "CORRECTNESS_r12.json")) as f:
        last_window = set(json.load(f))
    assert not set(names[:50]) & last_window


def test_triangle_membership_consistency(spark):
    """Each triangle contributes exactly 3 memberships, so per-node counts
    must sum to 3x the global total."""
    from cdc_streamming___v2_spark.operators import graph as G

    rows = G.triangle_count(spark, SF_DIR).collect()
    assert rows
    total = rows[0].total_triangles
    assert all(r.total_triangles == total for r in rows)
    assert sum(r.n_triangles for r in rows) == 3 * total


def test_attribution_totals_match_purchase_count(spark):
    """Every purchase gets exactly one first-touch and one last-touch
    credit, so both channel columns must sum to the purchase count."""
    from cdc_streamming___v2_spark.sources.tables import load_table

    rows = behavior.attribution_credit(spark, SF_DIR).collect()
    n_purchases = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r.first_touch_purchases for r in rows) == n_purchases
    assert sum(r.last_touch_purchases for r in rows) == n_purchases
    channels = {r.channel for r in rows}
    assert channels <= set(behavior._TOUCH_TYPES) | {"(none)"}


def test_bfs_source_zero_and_bounded(spark):
    from cdc_streamming___v2_spark.operators import graph as G

    rows = {r.nationkey: r.hops for r in G.bfs_hops(spark, SF_DIR).collect()}
    assert rows[G.BFS_SOURCE] == 0
    assert all(-1 <= h <= G.BFS_ROUNDS for h in rows.values())
    # somebody besides the source must be reachable on the trade graph
    assert sum(1 for h in rows.values() if h > 0) > 0


def test_session_paths_cover_all_sessions(spark):
    """Top-path session counts can never exceed the total session count,
    and each path's shape matches the '>'-joined event-type alphabet."""
    from cdc_streamming___v2_spark.operators.event_windows import session_agg

    rows = behavior.session_path_analysis(spark, SF_DIR).collect()
    n_sessions = session_agg(spark, SF_DIR).count()
    assert sum(r.n_sessions for r in rows) <= n_sessions
    types = {"signup", "click", "view", "purchase", "error"}
    for r in rows:
        assert set(r.path.split(">")) <= types
        assert r.n_sessions >= 1


def test_slope_one_matches_pandas_bruteforce(spark):
    """Literal weighted-Slope-One loop over the pivoted rating matrix —
    the independent twin of the integer-collapsed engine formula."""
    import numpy as np
    import pandas as pd
    import pytest

    from cdc_streamming___v2_spark.operators.behavior import (
        SLOPE1_SAMPLE_MOD,
        slope_one_predict,
    )
    from cdc_streamming___v2_spark.sources.tables import load_table

    from .conftest import SF_SMALL

    rows = {r["custkey"]: r
            for r in slope_one_predict(spark, SF_SMALL).collect()}
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    ).toPandas()
    o = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey"
    ).toPandas()
    p = load_table(spark, SF_SMALL, "part").select(
        "p_partkey", "p_brand"
    ).toPandas()
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey").merge(
        p, left_on="l_partkey", right_on="p_partkey"
    )
    j["q"] = j["l_quantity"].astype("int64")
    r = j.groupby(["o_custkey", "p_brand"])["q"].sum()
    mat = r.unstack()  # users x brands, NaN = unrated
    brands = sorted(p["p_brand"].unique())
    mat = mat.reindex(columns=brands)
    checked = 0
    for u in mat.index:
        if u % SLOPE1_SAMPLE_MOD != 0:
            continue
        ru = mat.loc[u]
        best = None
        for tgt in brands:
            if not np.isnan(ru[tgt]):
                continue
            snum = sc = 0.0
            for src in brands:
                if src == tgt or np.isnan(ru[src]):
                    continue
                both = mat[[tgt, src]].dropna()
                c = len(both)
                if c == 0:
                    continue
                dev = (both[tgt] - both[src]).sum() / c
                snum += (dev + ru[src]) * c
                sc += c
            if sc > 0:
                pv = snum / sc
                if best is None or pv > best[0] + 1e-9 or (
                    abs(pv - best[0]) <= 1e-9 and tgt < best[1]
                ):
                    best = (pv, tgt)
        if best is None:
            assert u not in rows
            continue
        got = rows[int(u)]
        assert got["rec_brand"] == best[1], u
        assert got["pred_qty"] == pytest.approx(best[0], abs=1e-3)
        checked += 1
    assert checked == len(rows) and checked > 0
