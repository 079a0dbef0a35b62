"""Dead-letter replay (VERDICT r8 #2): after a parser/config fix or a
registry fix, quarantined rows are re-driven through the dispatcher into
the canonical history tables idempotently — no hand-rolled one-off job.

The golden conformance corpus is the fixture: a misconfigured ingest
(wrong envelope format / missing registry table) quarantines rows the
clean run lands; the replay after the fix must produce canonical tables
VALUE-IDENTICAL to the never-misconfigured run, leave genuinely-dead
control records quarantined, and no-op on a second invocation.
"""

from __future__ import annotations

import os

import pytest

from cdc_streamming___v2_spark.sources.registry import SchemaRegistry
from cdc_streamming___v2_spark.streaming.ingest import CdcIngest

from . import golden_cdc
from .test_cdc_conformance import (
    EXPECT_PRODUTOS,
    EXPECT_USERS,
    _canon_produtos,
    _canon_users,
)
from .test_cdc_ingest import REGISTRY_DOC, streaming_file_sink


def _write_lines(tmp_path, lines):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir, exist_ok=True)
    with open(os.path.join(in_dir, "changes.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return in_dir


def _make_ingest(spark, tmp_path, in_dir, registry_doc, fmt, **mode):
    return CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_dict(registry_doc),
        input_dir=in_dir,
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ck"),
        envelope_format=fmt,
        **mode,
    )


MODES = [{}, {"commit_log": True}]


@pytest.mark.parametrize(
    "mode", MODES, ids=["plain", "commit_log"]
)
def test_wrong_envelope_then_replay_matches_clean_run(
    spark, tmp_path, mode
):
    """GoldenGate wire records ingested by a datastream-configured job
    all quarantine (no ``object`` field); replaying with the corrected
    dialect must land the exact canonical rows of a clean run, drain the
    quarantine, and a second replay must be a no-op."""
    lines = golden_cdc.render("goldengate")
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(
        spark, tmp_path, in_dir, REGISTRY_DOC, "datastream", **mode
    )
    ing.run_available_single_pass()

    # misconfigured: every line quarantined, nothing canonical
    assert ing.dead_letter().count() == len(lines)
    assert ing.history("olist_produtos").count() == 0

    stats = ing.replay_dead_letters(envelope_format="goldengate")
    assert stats["replayed"] == len(lines)
    assert stats["requarantined"] == 0
    assert stats["tables"] == {"produtos_cdc": 4, "users_cdc": 1}

    assert _canon_produtos(ing) == EXPECT_PRODUTOS
    assert _canon_users(ing) == EXPECT_USERS
    assert ing.dead_letter().count() == 0

    # idempotence: an immediate re-run finds nothing parseable
    again = ing.replay_dead_letters(envelope_format="goldengate")
    assert again["replayed"] == 0
    assert _canon_produtos(ing) == EXPECT_PRODUTOS
    assert ing.history("olist_users").count() == 1


def test_registry_fix_then_replay_lands_only_missing_table(
    spark, tmp_path
):
    """Rows for an unregistered table quarantine; after the registry
    gains the table, replay lands ONLY those rows — already-canonical
    tables gain nothing (no duplicates)."""
    partial = {"olist_produtos": REGISTRY_DOC["olist_produtos"]}
    lines = golden_cdc.render("datastream")
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(spark, tmp_path, in_dir, partial, "datastream")
    ing.run_available_single_pass()

    assert _canon_produtos(ing) == EXPECT_PRODUTOS
    assert ing.dead_letter().count() == 1  # the users INSERT
    produtos_before = ing.history("olist_produtos").count()

    # the fix: registry now knows olist_users
    ing.registry = SchemaRegistry.from_dict(REGISTRY_DOC)
    stats = ing.replay_dead_letters()
    assert stats["replayed"] == 1
    assert stats["tables"] == {"users_cdc": 1}

    assert _canon_users(ing) == EXPECT_USERS
    assert ing.history("olist_produtos").count() == produtos_before
    assert ing.dead_letter().count() == 0


def test_controls_stay_quarantined_through_replay(spark, tmp_path):
    """Negative-control records (truncates, heartbeats, DDL...) must
    survive a replay in quarantine — only now-parseable rows move."""
    lines = golden_cdc.render("goldengate") + golden_cdc.controls_for(
        "goldengate"
    )
    n_controls = len(golden_cdc.controls_for("goldengate"))
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(
        spark, tmp_path, in_dir, REGISTRY_DOC, "datastream"
    )
    ing.run_available_single_pass()
    assert ing.dead_letter().count() == len(lines)

    stats = ing.replay_dead_letters(envelope_format="goldengate")
    assert stats["replayed"] == len(lines) - n_controls
    assert stats["requarantined"] == n_controls
    assert _canon_produtos(ing) == EXPECT_PRODUTOS
    assert _canon_users(ing) == EXPECT_USERS
    # the survivors are exactly the control lines, raw preserved
    survivors = {r.raw for r in ing.dead_letter().collect()}
    assert survivors == set(golden_cdc.controls_for("goldengate"))

    # still-dead remainder no-ops forever after
    again = ing.replay_dead_letters(envelope_format="goldengate")
    assert again["replayed"] == 0
    assert ing.dead_letter().count() == n_controls


def test_replay_on_empty_or_missing_quarantine_is_noop(spark, tmp_path):
    lines = golden_cdc.render("datastream")
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(
        spark, tmp_path, in_dir, REGISTRY_DOC, "datastream"
    )
    # before any ingest: no dead-letter dir at all
    assert ing.replay_dead_letters() == {
        "replayed": 0, "requarantined": 0, "tables": {}
    }


def test_replay_refuses_streaming_file_sink_layout(spark, tmp_path):
    """A streaming file sink owns its dir via a _spark_metadata log;
    files appended outside it are invisible to readers and a dir swap
    would orphan the log. Replay must refuse loudly, not lose data
    silently."""
    lines = golden_cdc.render("datastream")
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(spark, tmp_path, in_dir, REGISTRY_DOC, "datastream")
    streaming_file_sink(
        spark, in_dir, os.path.join(ing.output_dir, "_dead_letter"),
        str(tmp_path / "old_ck"),
    )
    assert ing.dead_letter().count() == len(lines)
    with pytest.raises(ValueError, match="_spark_metadata"):
        ing.replay_dead_letters()


@pytest.mark.parametrize(
    "mode", MODES, ids=["plain", "commit_log"]
)
def test_identical_content_replayed_again_really_lands(
    spark, tmp_path, mode
):
    """The replay id is salted with the completed-swap generation: the
    SAME source lines re-ingested after a full drain must land AGAIN
    (a content-only id would collide with the first replay's txn/batch
    guards — skipping the writes while reporting success)."""
    lines = golden_cdc.render("goldengate")
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(
        spark, tmp_path, in_dir, REGISTRY_DOC, "datastream", **mode
    )
    ing.run_available_single_pass()
    first = ing.replay_dead_letters(envelope_format="goldengate")
    assert first["replayed"] == len(lines)

    # the SAME lines arrive again under the same misconfiguration
    with open(os.path.join(in_dir, "again.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    ing.run_available_single_pass()
    assert ing.dead_letter().count() == len(lines)

    second = ing.replay_dead_letters(envelope_format="goldengate")
    assert second["replayed"] == len(lines)
    assert second["replay_id"] != first["replay_id"]
    assert ing.history("olist_produtos").count() == 8
    assert ing.history("olist_users").count() == 2
    assert ing.dead_letter().count() == 0


def test_replay_preserves_original_dead_letter_at(spark, tmp_path):
    """Still-dead rows keep their FIRST-SEEN quarantine timestamp across
    replays — age-based triage must stay truthful."""
    lines = golden_cdc.render("goldengate") + golden_cdc.controls_for(
        "goldengate"
    )
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(
        spark, tmp_path, in_dir, REGISTRY_DOC, "datastream"
    )
    ing.run_available_single_pass()
    before = {
        r.raw: r.dead_letter_at for r in ing.dead_letter().collect()
    }
    ing.replay_dead_letters(envelope_format="goldengate")
    after = {
        r.raw: r.dead_letter_at for r in ing.dead_letter().collect()
    }
    assert set(after) == set(golden_cdc.controls_for("goldengate"))
    for raw, ts in after.items():
        assert ts == before[raw], "dead_letter_at was re-stamped"


def test_replay_completes_a_crashed_swap(spark, tmp_path):
    """A crash between the swap's two renames leaves the rows in the
    staging dir and NO _dead_letter; the next replay must complete the
    swap and proceed instead of misreporting an empty quarantine."""
    lines = golden_cdc.render("goldengate")
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(
        spark, tmp_path, in_dir, REGISTRY_DOC, "datastream"
    )
    ing.run_available_single_pass()
    # simulate the torn state: quarantine content sits in a staging dir
    out = str(tmp_path / "out")
    os.rename(
        os.path.join(out, "_dead_letter"),
        os.path.join(out, "_dead_letter_staging_99"),
    )
    stats = ing.replay_dead_letters(envelope_format="goldengate")
    assert stats["replayed"] == len(lines)
    assert _canon_produtos(ing) == EXPECT_PRODUTOS
    assert ing.dead_letter().count() == 0


@pytest.mark.parametrize(
    "mode", MODES, ids=["plain", "commit_log"]
)
def test_rows_quarantined_mid_replay_survive_the_swap(
    spark, tmp_path, mode
):
    """ADVICE r9: the replay set is pinned at FILE level when the
    quarantine is snapshotted — rows a concurrently running ingest
    quarantines AFTER the snapshot must survive the swap (pre-fix they
    were silently dropped: plain mode entombed the whole dir, commit-log
    write_replace removed every live file)."""
    from cdc_streamming___v2_spark.streaming import ingest as ing_mod

    lines = golden_cdc.render("goldengate")
    fresh_lines = golden_cdc.controls_for("goldengate")[:3]
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(
        spark, tmp_path, in_dir, REGISTRY_DOC, "datastream", **mode
    )
    ing.run_available_single_pass()
    assert ing.dead_letter().count() == len(lines)

    # inject the concurrent writer at the one point that is AFTER the
    # snapshot and BEFORE the swap: _replay_generation
    real_gen = CdcIngest._replay_generation
    fired = []

    def gen_and_append(self, dl_dir):
        if not fired:
            fired.append(True)
            with open(os.path.join(in_dir, "late.jsonl"), "w") as f:
                f.write("\n".join(fresh_lines) + "\n")
            self.run_available_single_pass()
        return real_gen(self, dl_dir)

    CdcIngest._replay_generation = gen_and_append
    try:
        stats = ing.replay_dead_letters(envelope_format="goldengate")
    finally:
        CdcIngest._replay_generation = real_gen

    # the pinned snapshot replayed; the late rows are still quarantined
    assert stats["replayed"] == len(lines)
    assert _canon_produtos(ing) == EXPECT_PRODUTOS
    left = sorted(r.raw for r in ing.dead_letter().collect())
    assert left == sorted(fresh_lines), "late-quarantined rows were lost"


def test_replay_tomb_is_sealed_empty(spark, tmp_path):
    """ADVICE r9: tombs are generation bookkeeping only — after a
    completed swap they hold no data files (unbounded disk growth
    otherwise), yet still advance the generation count."""
    lines = golden_cdc.render("goldengate")
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(
        spark, tmp_path, in_dir, REGISTRY_DOC, "datastream"
    )
    ing.run_available_single_pass()
    first = ing.replay_dead_letters(envelope_format="goldengate")
    out = str(tmp_path / "out")
    tombs = [
        d for d in os.listdir(out)
        if d.startswith("_dead_letter_replayed_")
    ]
    assert len(tombs) == 1
    assert os.listdir(os.path.join(out, tombs[0])) == []

    # generation still advances off the sealed tomb: identical content
    # re-ingested gets a FRESH id (the test_identical_content guarantee)
    with open(os.path.join(in_dir, "again.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    ing.run_available_single_pass()
    second = ing.replay_dead_letters(envelope_format="goldengate")
    assert second["replay_id"] != first["replay_id"]
    assert ing.history("olist_produtos").count() == 8


def test_sidecar_recovery_completes_crashed_swap(spark, tmp_path):
    """A crash between the sidecar write and the tomb seal is completed
    by the next replay call from the sidecar alone — including carrying
    a concurrent writer's post-snapshot file out of the tomb."""
    import json as _json

    lines = golden_cdc.render("goldengate")
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(
        spark, tmp_path, in_dir, REGISTRY_DOC, "datastream"
    )
    ing.run_available_single_pass()
    out = str(tmp_path / "out")
    dl = os.path.join(out, "_dead_letter")
    inventory = sorted(
        os.path.relpath(os.path.join(dp, n), dl)
        for dp, _, ns in os.walk(dl) for n in ns if n.endswith(".parquet")
    )
    # fabricate the torn state: snapshot renamed to tomb (with one EXTRA
    # post-snapshot file inside), remainder in staging, sidecar present
    staging = os.path.join(out, "_dead_letter_staging_77")
    spark.createDataFrame(
        [], "object string, raw string, dead_letter_at timestamp"
    ).repartition(1).write.parquet(staging)
    tomb = os.path.join(out, "_dead_letter_replayed_77")
    os.rename(dl, tomb)
    with open(os.path.join(out, "_dead_letter_replay_inflight.json"), "w") as f:
        _json.dump({"replay_id": 77, "inventory": inventory}, f)

    stats = ing.replay_dead_letters(envelope_format="goldengate")
    # recovery: staging (empty remainder) became the quarantine, the
    # inventoried files were entombed and sealed, so nothing replays
    assert stats["replayed"] == 0
    assert os.listdir(tomb) == []
    assert not os.path.exists(
        os.path.join(out, "_dead_letter_replay_inflight.json")
    )


def test_plain_mode_crash_retry_does_not_duplicate(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: a crash AFTER plain-mode step-2 delivery but BEFORE
    the quarantine swap must not double-append on retry.  The retry
    recomputes the same replay_id; the per-table ``.done`` markers make
    its delivery a no-op, and the orphaned remainder staging dir left by
    the crash is swept by recovery instead of living forever."""
    lines = golden_cdc.render("goldengate")
    in_dir = _write_lines(tmp_path, lines)
    ing = _make_ingest(
        spark, tmp_path, in_dir, REGISTRY_DOC, "datastream"
    )
    ing.run_available_single_pass()
    assert ing.dead_letter().count() == len(lines)
    out = str(tmp_path / "out")

    # crash injection: deliveries + staging + sidecar all land, then the
    # process dies at the swap's FIRST rename (dl_dir -> tomb)
    real_rename = os.rename

    def dying_rename(src, dst):
        if os.path.basename(src) == "_dead_letter":
            raise RuntimeError("injected crash before first swap rename")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        ing.replay_dead_letters(envelope_format="goldengate")
    monkeypatch.undo()

    # torn state: canonical rows delivered, markers present, sidecar +
    # remainder staging orphaned, quarantine untouched
    assert _canon_produtos(ing) == EXPECT_PRODUTOS
    assert os.path.exists(
        os.path.join(out, "_dead_letter_replay_inflight.json")
    )
    assert any(
        d.startswith("_dead_letter_staging_") for d in os.listdir(out)
    )
    assert any(
        n.startswith("_replay_") and n.endswith(".done")
        for n in os.listdir(os.path.join(out, "produtos_cdc"))
    )

    # retry: must complete WITHOUT duplicating the delivered rows
    stats = ing.replay_dead_letters(envelope_format="goldengate")
    assert stats["replayed"] == len(lines)
    assert _canon_produtos(ing) == EXPECT_PRODUTOS
    assert _canon_users(ing) == EXPECT_USERS
    assert ing.history("olist_produtos").count() == 4
    assert ing.history("olist_users").count() == 1
    assert ing.dead_letter().count() == 0
    # housekeeping: no orphan staging dirs, markers retired with the id
    assert not any(
        d.startswith(("_dead_letter_staging_", "_replay_staging_"))
        for d in os.listdir(out)
    )
    assert not any(
        n.endswith(".done")
        for n in os.listdir(os.path.join(out, "produtos_cdc"))
    )


def test_plain_append_sweeps_half_finished_move(spark, tmp_path):
    """Marker absent + ``replay-<id>-*`` files already in the sink =
    a move that died halfway; a re-delivery must sweep them (file
    boundaries differ between runs) and land exactly one copy."""
    ing = _make_ingest(
        spark, tmp_path, _write_lines(tmp_path, ["{}"]),
        REGISTRY_DOC, "datastream",
    )
    sink = str(tmp_path / "out" / "t")
    df = spark.range(10).withColumnRenamed("id", "v")
    ing._plain_replay_append(df, sink, [], 42)
    assert spark.read.parquet(sink).count() == 10
    # simulate the crash: marker lost, files remain
    os.remove(os.path.join(sink, "_replay_42.done"))
    ing._plain_replay_append(df, sink, [], 42)
    assert spark.read.parquet(sink).count() == 10
    # marker present -> true no-op
    ing._plain_replay_append(df, sink, [], 42)
    assert spark.read.parquet(sink).count() == 10
