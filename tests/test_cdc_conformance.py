"""CDC producer conformance corpus (VERDICT r7 #4b): the SAME canonical
change set, rendered into every supported producer's public wire format
(tests/golden/*.jsonl), replayed through the SINGLE-PASS streaming
ingest — the end-to-end path (file source -> parse -> registry route ->
enrich -> per-table sinks) — and required to land value-identical
canonical history rows for every dialect.  Previously each dialect was
unit-tested individually; this is the cross-dialect equivalence gate.

Canonicalization in the assertion: payload columns and action must be
IDENTICAL; update_date compares at timestamp value (the produtos
registry declares update_date STRING, so each dialect's documented
timestamp layout — second vs milli vs microsecond rendering of the same
whole-second instant — is preserved verbatim in the sink and coerced
here).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_streamming___v2_spark.sources.registry import SchemaRegistry
from cdc_streamming___v2_spark.streaming.ingest import CdcIngest

from . import golden_cdc
from .test_cdc_ingest import REGISTRY_DOC

DIALECTS = sorted(golden_cdc.RENDERERS)

EXPECT_PRODUTOS = {
    ("p1", "toys", 2, 100.0, "INSERT", 1704067200),
    ("p1", "games", 3, 120.0, "UPDATE-INSERT", 1704153600),
    ("p2", "books", 1, 80.0, "INSERT", 1704110400),
    ("p2", None, None, None, "DELETE", 1704240000),
}
EXPECT_USERS = {("ana", "a@x.com", "INSERT", 1704443400)}


def test_golden_files_match_renderers():
    """The committed corpus and the renderers cannot drift apart."""
    for d in DIALECTS:
        path = os.path.join(golden_cdc.GOLDEN_DIR, f"{d}.jsonl")
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln]
        assert lines == golden_cdc.render(d), f"{d} golden file drifted"
        for ln in lines:
            json.loads(ln)  # every golden line is valid JSON


def _ingest(spark, tmp_path, lines, envelope_format):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir, exist_ok=True)
    with open(os.path.join(in_dir, "changes.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    ing = CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_dict(REGISTRY_DOC),
        input_dir=in_dir,
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ck"),
        envelope_format=envelope_format,
    )
    ing.run_available_single_pass()
    return ing


def _canon_produtos(ing):
    return {
        (
            r.product_id,
            r.product_category_name,
            r.product_photos_qty,
            r.product_weight_g,
            r.action,
            r.ts,
        )
        for r in ing.history("olist_produtos")
        .select(
            "product_id", "product_category_name", "product_photos_qty",
            "product_weight_g", "action",
            F.unix_seconds(F.col("update_date").cast("timestamp")).alias("ts"),
        )
        .collect()
    }


def _canon_users(ing):
    return {
        (r.first_name, r.email, r.action, r.ts)
        for r in ing.history("olist_users")
        .select(
            "first_name", "email", "action",
            F.unix_seconds(F.col("update_date").cast("timestamp")).alias("ts"),
        )
        .collect()
    }


@pytest.mark.parametrize("dialect", DIALECTS)
def test_dialect_conformance_through_single_pass_ingest(
    spark, tmp_path, dialect
):
    ing = _ingest(spark, tmp_path, golden_cdc.render(dialect), dialect)
    assert _canon_produtos(ing) == EXPECT_PRODUTOS, dialect
    assert _canon_users(ing) == EXPECT_USERS, dialect
    # nothing dead-lettered: every golden line routed
    assert ing.dead_letter().count() == 0, dialect


def test_mixed_stream_auto_dispatch_conformance(spark, tmp_path):
    """All twelve dialects interleaved in ONE stream, parsed with the
    per-line auto dispatcher: each canonical row must appear exactly
    once per dialect, and nothing may dead-letter."""
    lines: list[str] = []
    for d in DIALECTS:
        lines.extend(golden_cdc.render(d))
    ing = _ingest(spark, tmp_path, lines, "auto")
    n = len(DIALECTS)
    prod = (
        ing.history("olist_produtos")
        .groupBy(
            "product_id", "product_category_name", "product_photos_qty",
            "product_weight_g", "action",
            F.unix_seconds(F.col("update_date").cast("timestamp")).alias("ts"),
        )
        .count()
        .collect()
    )
    got = {
        (
            r.product_id, r.product_category_name, r.product_photos_qty,
            r.product_weight_g, r.action, r.ts,
        ): r["count"]
        for r in prod
    }
    assert got == {k: n for k in EXPECT_PRODUTOS}
    users = (
        ing.history("olist_users")
        .groupBy(
            "first_name", "email", "action",
            F.unix_seconds(F.col("update_date").cast("timestamp")).alias("ts"),
        )
        .count()
        .collect()
    )
    assert {
        (r.first_name, r.email, r.action, r.ts): r["count"] for r in users
    } == {k: n for k in EXPECT_USERS}
    assert ing.dead_letter().count() == 0


def test_dialect_controls_dead_letter_under_own_parser(spark, tmp_path):
    """Every dialect's control/DDL/marker records must dead-letter under
    that dialect's OWN parser while the data rows land untouched."""
    for i, dialect in enumerate(DIALECTS):
        ctl = golden_cdc.controls_for(dialect)
        if not ctl:
            continue
        ing = _ingest(
            spark, tmp_path / f"own{i}", golden_cdc.render(dialect) + ctl,
            dialect,
        )
        assert _canon_produtos(ing) == EXPECT_PRODUTOS, dialect
        assert _canon_users(ing) == EXPECT_USERS, dialect
        assert ing.dead_letter().count() == len(ctl), dialect


def test_mixed_stream_controls_dead_letter_under_auto(spark, tmp_path):
    """All 12 dialects' data AND every control record interleaved in one
    auto-dispatched stream: the dispatcher's precedence chain must not
    misroute ANY control line into a valid row (a BEGIN marker applied
    as a row corrupts the table) — canonical rows stay exactly 12x each
    and the dead-letter sink holds exactly the control lines."""
    lines: list[str] = []
    for d in DIALECTS:
        lines.extend(golden_cdc.render(d))
    ctl = [ln for _, ln in golden_cdc.CONTROLS]
    ing = _ingest(spark, tmp_path, lines + ctl, "auto")
    n = len(DIALECTS)
    prod = (
        ing.history("olist_produtos")
        .groupBy(
            "product_id", "action",
            F.unix_seconds(F.col("update_date").cast("timestamp")).alias("ts"),
        )
        .count()
        .collect()
    )
    assert {(r.product_id, r.action, r.ts): r["count"] for r in prod} == {
        (pid, act, ts): n
        for (pid, _c, _q, _w, act, ts) in [
            (t[0], t[1], t[2], t[3], t[4], t[5]) for t in EXPECT_PRODUTOS
        ]
    }
    assert ing.history("olist_users").count() == n
    assert ing.dead_letter().count() == len(ctl)


def test_golden_controls_file_matches_corpus():
    with open(os.path.join(golden_cdc.GOLDEN_DIR, "controls.jsonl")) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    assert lines == [ln for _, ln in golden_cdc.CONTROLS]


def test_golden_evolution_file_matches_renderers():
    with open(os.path.join(golden_cdc.GOLDEN_DIR, "evolution.jsonl")) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    assert lines == golden_cdc.evolution_lines()
    for ln in lines:
        json.loads(ln)


@pytest.mark.parametrize(
    "mode",
    [{}, {"commit_log": True}],
    ids=["plain", "commit_log"]
)
def test_schema_evolution_mid_stream_all_dialects(spark, tmp_path, mode):
    """Golden schema-evolution replay (VERDICT r8 #6): the steady-state
    12-dialect corpus streams under registry v1; the registry file then
    gains product_length_cm (safe ADD COLUMN) WHILE THE STREAM RUNS and
    every dialect starts emitting the column (golden/evolution.jsonl).
    Pre-add history rows must project NULL for the column, post-add rows
    must carry the per-dialect values — all through the auto dispatcher
    with hot reload, no restart; under BOTH the plain parquet sink and
    the manifest commit-log sink (read-side NULL projection there comes
    from the explicit snapshot-read schema over old files)."""
    from cdc_streamming___v2_spark.sources.conformance import (
        CONFORMANCE_REGISTRY,
        evolved_registry,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    reg_path = str(tmp_path / "data-stream.json")
    with open(reg_path, "w") as f:
        json.dump(CONFORMANCE_REGISTRY, f)
    phase1 = [ln for d in DIALECTS for ln in golden_cdc.render(d)]
    with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
        f.write("\n".join(phase1) + "\n")

    ing = CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_file(reg_path),
        input_dir=in_dir,
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ck"),
        envelope_format="auto",
        registry_path=reg_path,
        **mode,
    )
    n = len(DIALECTS)
    q = ing.start_single_pass()
    try:
        q.processAllAvailable()
        assert ing.history("olist_produtos").count() == 4 * n

        # the upstream ALTER TABLE lands: registry file evolves, producers
        # start emitting the new column — while the stream is running
        with open(reg_path, "w") as f:
            json.dump(evolved_registry(), f)
        with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
            f.write("\n".join(golden_cdc.evolution_lines()) + "\n")
        q.processAllAvailable()
    finally:
        ing.stop()

    hist = ing.history("olist_produtos").withColumn(
        "ts", F.unix_seconds(F.col("update_date").cast("timestamp"))
    )
    # pre-add rows: NULL-padded on read, none rewritten
    pre = hist.filter(F.col("ts") < 1704499200)
    assert pre.count() == 4 * n
    assert pre.filter("product_length_cm IS NOT NULL").count() == 0
    # post-add rows: every dialect carries the column's typed value
    post = {
        (r.product_id, r.action, r.ts, r.product_length_cm): r["cnt"]
        for r in hist.filter(F.col("ts") >= 1704499200)
        .groupBy("product_id", "action", "ts", "product_length_cm")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert post == {
        ("p1", "UPDATE-INSERT", 1704499200, 30.0): n,
        ("p3", "INSERT", 1704585600, 45.0): n,
    }
    # users untouched by the produtos evolution
    assert ing.history("olist_users").count() == n


@pytest.mark.parametrize(
    "mode",
    [{}, {"commit_log": True}],
    ids=["plain", "commit_log"]
)
def test_schema_evolution_type_widening_mid_stream(spark, tmp_path, mode):
    """Golden type-widening replay (VERDICT r9 #6): the steady-state
    corpus streams under a registry declaring product_photos_qty INT32 /
    product_weight_g FLOAT32; the registry then widens both (INT64 /
    FLOAT64) WHILE THE STREAM RUNS and producers start emitting a value
    outside the 32-bit domain (golden/evolution_widening.jsonl).
    Pre-widening files keep their narrow physical types and must read
    back exactly under the widened schema (Spark 4 parquet up-convert,
    SAFE_WIDENINGS); the post-widening row must carry the 64-bit value —
    under both sink providers."""
    from cdc_streamming___v2_spark.sources.conformance import (
        CONFORMANCE_REGISTRY,
        narrow_registry,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    reg_path = str(tmp_path / "data-stream.json")
    with open(reg_path, "w") as f:
        json.dump(narrow_registry(), f)
    phase1 = [ln for d in DIALECTS for ln in golden_cdc.render(d)]
    with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
        f.write("\n".join(phase1) + "\n")

    ing = CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_file(reg_path),
        input_dir=in_dir,
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ck"),
        envelope_format="auto",
        registry_path=reg_path,
        **mode,
    )
    n = len(DIALECTS)
    q = ing.start_single_pass()
    try:
        q.processAllAvailable()
        hist1 = ing.history("olist_produtos")
        assert hist1.count() == 4 * n
        assert dict(hist1.dtypes)["product_photos_qty"] == "int"
        assert dict(hist1.dtypes)["product_weight_g"] == "float"

        # the upstream ALTER widens both columns; producers emit a
        # value > 2^31 — mid-stream, no restart
        with open(reg_path, "w") as f:
            json.dump(CONFORMANCE_REGISTRY, f)
        with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
            f.write("\n".join(golden_cdc.widening_lines()) + "\n")
        q.processAllAvailable()
    finally:
        ing.stop()

    hist = ing.history("olist_produtos")
    assert dict(hist.dtypes)["product_photos_qty"] == "bigint"
    assert dict(hist.dtypes)["product_weight_g"] == "double"
    assert hist.count() == 5 * n
    # pre-widening rows read exactly under the widened schema
    old = {
        (r.product_id, r.product_photos_qty, r.product_weight_g)
        for r in hist.filter("product_id <> 'p4'").collect()
    }
    assert old == {
        ("p1", 2, 100.0), ("p1", 3, 120.0), ("p2", 1, 80.0),
        ("p2", None, None),
    }
    # the 64-bit value landed in every dialect's rendering
    wide = hist.filter("product_id = 'p4'")
    assert wide.count() == n
    assert {r.product_photos_qty for r in wide.collect()} == {5000000000}


@pytest.mark.parametrize(
    "mode",
    [{}, {"commit_log": True}],
    ids=["plain", "commit_log"]
)
def test_schema_evolution_column_drop_and_tombstone(spark, tmp_path, mode):
    """Golden column-drop replay (VERDICT r9 #6): DROP COLUMN
    product_weight_g lands mid-stream under allow_column_drops — old
    files keep the data physically, reads project it away, the drop is
    tombstoned; a later re-add as STRING (unreadable over the buried
    DOUBLE files) must fail the stream loudly, while a re-add under the
    original type is admitted."""
    from cdc_streamming___v2_spark.sources.conformance import (
        CONFORMANCE_REGISTRY,
        dropped_registry,
        readded_registry,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    reg_path = str(tmp_path / "data-stream.json")
    with open(reg_path, "w") as f:
        json.dump(CONFORMANCE_REGISTRY, f)
    phase1 = [ln for d in DIALECTS for ln in golden_cdc.render(d)]
    with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
        f.write("\n".join(phase1) + "\n")

    out = str(tmp_path / "out")
    ing = CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_file(reg_path),
        input_dir=in_dir,
        output_dir=out,
        checkpoint_dir=str(tmp_path / "ck"),
        envelope_format="auto",
        registry_path=reg_path,
        allow_column_drops=True,
        **mode,
    )
    n = len(DIALECTS)
    q = ing.start_single_pass()
    try:
        q.processAllAvailable()
        assert ing.history("olist_produtos").count() == 4 * n

        with open(reg_path, "w") as f:
            json.dump(dropped_registry(), f)
        with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
            f.write("\n".join(golden_cdc.drop_lines()) + "\n")
        q.processAllAvailable()
    finally:
        ing.stop()

    hist = ing.history("olist_produtos")
    assert "product_weight_g" not in hist.columns
    assert hist.count() == 5 * n
    assert hist.filter("product_id = 'p5'").count() == n
    with open(os.path.join(out, "_schema_tombstones.json")) as f:
        assert json.load(f) == {
            "olist_produtos.product_weight_g": "double"
        }

    # re-add under an incompatible type: refused via the tombstone
    with open(reg_path, "w") as f:
        json.dump(readded_registry("STRING"), f)
    with open(os.path.join(in_dir, "b3.jsonl"), "w") as f:
        f.write("\n".join(golden_cdc.drop_lines()) + "\n")
    with pytest.raises(Exception, match="tombstoned"):
        try:
            q2 = ing.start_single_pass()
            q2.processAllAvailable()
        finally:
            ing.stop()

    # re-add under the buried physical type: admitted
    with open(reg_path, "w") as f:
        json.dump(readded_registry("FLOAT"), f)
    q3 = ing.start_single_pass()
    try:
        q3.processAllAvailable()
    finally:
        ing.stop()
    hist3 = ing.history("olist_produtos")
    assert dict(hist3.dtypes)["product_weight_g"] == "double"
    # pre-drop rows surface their buried values again after the re-add
    assert (
        hist3.filter("product_id = 'p1' AND product_weight_g = 100.0")
        .count() == n
    )


@pytest.mark.parametrize(
    "mode",
    [{}, {"commit_log": True}],
    ids=["plain", "commit_log"]
)
def test_schema_evolution_column_rename_mid_stream(spark, tmp_path, mode):
    """Golden column-rename replay (VERDICT r10 #3): RENAME COLUMN
    product_category_name TO category lands mid-stream, declared via
    ``renamed_from`` on the new registry field (the Avro-alias pattern —
    from the document diff alone a rename is indistinguishable from
    drop+add).  Old files keep the OLD name physically; reads coalesce
    the buried predecessor into the new column (continuity).  A lagging
    producer still emitting the old name lands via the parse fallback.
    DDL control records for the rename dead-letter.  Re-introducing the
    renamed-away name is refused loudly.  A SECOND rename then proves
    chain continuity (a→b→c reads the original buried values)."""
    from cdc_streamming___v2_spark.sources.conformance import (
        CONFORMANCE_REGISTRY,
        RENAME_CONTROLS,
        renamed_registry,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    reg_path = str(tmp_path / "data-stream.json")
    with open(reg_path, "w") as f:
        json.dump(CONFORMANCE_REGISTRY, f)
    phase1 = [ln for d in DIALECTS for ln in golden_cdc.render(d)]
    with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
        f.write("\n".join(phase1) + "\n")

    out = str(tmp_path / "out")
    ing = CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_file(reg_path),
        input_dir=in_dir,
        output_dir=out,
        checkpoint_dir=str(tmp_path / "ck"),
        envelope_format="auto",
        registry_path=reg_path,
        **mode,
    )
    n = len(DIALECTS)
    q = ing.start_single_pass()
    try:
        q.processAllAvailable()
        assert ing.history("olist_produtos").count() == 4 * n
        dl_before = ing.dead_letter().count()

        # the upstream RENAME lands: registry declares category with
        # renamed_from; producers flip names (p6) — except one lagging
        # producer still on the old name (p7); DDL controls ride along
        with open(reg_path, "w") as f:
            json.dump(renamed_registry(), f)
        with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
            f.write("\n".join(golden_cdc.rename_lines()) + "\n")
        q.processAllAvailable()
    finally:
        ing.stop()

    hist = ing.history("olist_produtos")
    assert "category" in hist.columns
    assert "product_category_name" not in hist.columns
    assert hist.count() == 6 * n
    # continuity: pre-rename rows read their buried old-name values
    # under the NEW column
    cat = {
        (r.product_id, r.action, r.category): r["cnt"]
        for r in hist.groupBy("product_id", "action", "category")
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert cat == {
        ("p1", "INSERT", "toys"): n,
        ("p1", "UPDATE-INSERT", "games"): n,
        ("p2", "INSERT", "books"): n,
        ("p2", "DELETE", None): n,       # key-only DELETE: blank row
        ("p6", "INSERT", "puzzles"): n,  # new-name producer
        ("p7", "INSERT", "garden"): n,   # lagging old-name producer
    }
    # the rename DDL control records dead-lettered, never applied
    assert ing.dead_letter().count() == dl_before + len(RENAME_CONTROLS)
    with open(os.path.join(out, "_schema_renames.json")) as f:
        assert json.load(f) == {
            "olist_produtos.category": "product_category_name"
        }
    with open(os.path.join(out, "_schema_tombstones.json")) as f:
        assert json.load(f) == {
            "olist_produtos.product_category_name": "string"
        }

    # re-introducing the renamed-away name: refused loudly (unlike a
    # dropped column, the data is LIVE under its successor)
    bad = renamed_registry()
    bad["olist_produtos"]["schema"]["fields"].insert(
        2, {"name": "product_category_name", "type": "STRING"}
    )
    with open(reg_path, "w") as f:
        json.dump(bad, f)
    # trigger line for the refused batch: a USERS record, so its later
    # legitimate replay (the refused batch never commits its offset)
    # leaves the produtos assertions below untouched
    with open(os.path.join(in_dir, "b3.jsonl"), "w") as f:
        f.write(golden_cdc.render("datastream")[4] + "\n")
    with pytest.raises(Exception, match="renamed away"):
        try:
            q2 = ing.start_single_pass()
            q2.processAllAvailable()
        finally:
            ing.stop()

    # SECOND rename (category -> product_category): chain continuity
    chained = renamed_registry()
    for fld in chained["olist_produtos"]["schema"]["fields"]:
        if fld["name"] == "category":
            fld["name"] = "product_category"
            fld["renamed_from"] = "category"
    with open(reg_path, "w") as f:
        json.dump(chained, f)
    from cdc_streamming___v2_spark.sources.conformance import RENDERERS
    p8 = RENDERERS["datastream"](
        "olist_produtos", "INSERT", 1705017600,
        {"product_id": "p8", "product_category": "decor",
         "product_photos_qty": 9, "product_weight_g": 50.0}, None,
    )
    with open(os.path.join(in_dir, "b4.jsonl"), "w") as f:
        f.write(p8 + "\n")
    q3 = ing.start_single_pass()
    try:
        q3.processAllAvailable()
    finally:
        ing.stop()
    hist3 = ing.history("olist_produtos")
    assert "product_category" in hist3.columns
    assert hist3.count() == 6 * n + 1
    chain_vals = {
        (r.product_id, r.product_category): r["cnt"]
        for r in hist3.filter("action = 'INSERT'")
        .groupBy("product_id", "product_category")
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert chain_vals == {
        ("p1", "toys"): n,      # buried two renames deep
        ("p2", "books"): n,
        ("p6", "puzzles"): n,   # buried one rename deep
        ("p7", "garden"): n,
        ("p8", "decor"): 1,     # current name
    }
    with open(os.path.join(out, "_schema_renames.json")) as f:
        assert json.load(f) == {
            "olist_produtos.category": "product_category_name",
            "olist_produtos.product_category": "category",
        }
