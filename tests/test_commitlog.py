"""Manifest commit-log tests: invisibility of uncommitted data, txn
idempotence across crash windows, compaction + time travel, and the
CdcIngest commit-log mode landing the expected history rows."""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import Row

from cdc_streamming___v2_spark.sources.registry import SchemaRegistry
from cdc_streamming___v2_spark.streaming.commitlog import (
    DATA_DIR,
    LOG_DIR,
    CommitLogTable,
)
from cdc_streamming___v2_spark.streaming.ingest import CdcIngest

from .test_cdc_ingest import LINES, REGISTRY_DOC


def _frame(spark, lo, hi):
    return spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(lo, hi)])


def _files_scanned(t, where):
    """(files a pruned read hands to Spark, files a full read hands it)."""
    full = t.read()
    pruned = t.read(full.schema, where=where)
    return len(pruned.inputFiles()), len(full.inputFiles())


def test_append_read_and_uncommitted_invisible(spark, tmp_path):
    t = CommitLogTable(spark, str(tmp_path / "t"))
    assert t.write_append(_frame(spark, 0, 5), txn="b0")
    assert t.read().count() == 5
    # data written WITHOUT a commit must be invisible to readers
    _frame(spark, 100, 200).write.parquet(
        os.path.join(t.path, DATA_DIR, "orphan")
    )
    assert t.read().count() == 5
    assert t.version() == 0


def test_txn_replay_is_noop(spark, tmp_path):
    t = CommitLogTable(spark, str(tmp_path / "t"))
    assert t.write_append(_frame(spark, 0, 5), txn="b0")
    # crash-replay: same txn id again — no new rows, no new version
    assert not t.write_append(_frame(spark, 0, 5), txn="b0")
    assert t.read().count() == 5
    assert t.version() == 0


def test_torn_write_then_replay_exactly_once(spark, tmp_path):
    t = CommitLogTable(spark, str(tmp_path / "t"))
    # simulate a crash AFTER data files landed but BEFORE the commit:
    _frame(spark, 0, 5).write.parquet(os.path.join(t.path, DATA_DIR, "b0"))
    with pytest.raises(ValueError):
        t.read()  # nothing committed, schema unknown
    # replay of the same transaction overwrites its scratch dir + commits
    assert t.write_append(_frame(spark, 0, 5), txn="b0")
    assert t.read().count() == 5


def test_compaction_and_time_travel(spark, tmp_path):
    t = CommitLogTable(spark, str(tmp_path / "t"))
    t.write_append(_frame(spark, 0, 5).repartition(4), txn="b0")
    t.write_append(_frame(spark, 5, 9).repartition(4), txn="b1")
    files_before = t.snapshot_files()
    assert len(files_before) > 2
    assert t.compact(txn="opt-1")
    assert len(t.snapshot_files()) == 1
    # same rows after the swap
    assert sorted(r.k for r in t.read().collect()) == list(range(9))
    # time travel: version 0 = first append only; version 1 = pre-compaction
    assert t.read(version=0).count() == 5
    assert sorted(f for f in t.snapshot_files(version=1)) == sorted(files_before)
    # compaction replay is a no-op too
    assert not t.compact(txn="opt-1")


def test_data_skipping_prunes_files_and_matches_full_scan(spark, tmp_path):
    """Zone-map pruning: disjoint key ranges per commit → a selective
    predicate reads a strict subset of files, same rows as a full scan."""
    t = CommitLogTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.write_append(
            _frame(spark, i * 100, i * 100 + 100).coalesce(1), txn=f"b{i}"
        )
    where = [("k", "between", (120, 180))]
    kept, total = _files_scanned(t, where)
    assert total == 4 and kept == 1
    got = sorted(r.k for r in t.read(where=where).collect())
    want = sorted(
        r.k for r in t.read().filter("k between 120 and 180").collect()
    )
    assert got == want and got[0] == 120 and got[-1] == 180
    # equality / inequality ops prune too
    assert _files_scanned(t, [("k", "=", 250)]) == (1, 4)
    assert _files_scanned(t, [("k", "<", 100)]) == (1, 4)
    assert _files_scanned(t, [("k", ">=", 300)]) == (1, 4)
    # conjunction with an unsatisfiable combination prunes everything
    assert _files_scanned(t, [("k", ">", 150), ("k", "<", 40)])[0] <= 2
    # string column stats prune as well
    assert _files_scanned(t, [("v", "=", "v0")])[0] == 1


def test_data_skipping_is_advisory_not_semantic(spark, tmp_path):
    """A commit written WITHOUT stats (older log format) still reads and
    filters correctly — pruning just degrades to scanning everything."""
    import json

    t = CommitLogTable(spark, str(tmp_path / "t"))
    t.write_append(_frame(spark, 0, 50).coalesce(1), txn="b0")
    # strip the stats from the commit file, simulating a legacy writer
    log = os.path.join(t.path, LOG_DIR)
    name = sorted(os.listdir(log))[0]
    with open(os.path.join(log, name)) as f:
        d = json.load(f)
    d.pop("stats")
    with open(os.path.join(log, name), "w") as f:
        json.dump(d, f)
    where = [("k", "between", (10, 19))]
    assert _files_scanned(t, where) == (1, 1)  # nothing prunable
    assert t.read(where=where).count() == 10  # ...but the filter still runs


def test_zorder_compaction_skips_on_every_clustered_column(spark, tmp_path):
    """Append order correlates with x only, so y predicates can't skip.
    After a Z-ordered rewrite on (x, y), BOTH columns prune files."""
    rows = [Row(x=i, y=(i * striped) % 1000) for striped in (7,) for i in range(1000)]
    t = CommitLogTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.write_append(
            spark.createDataFrame(rows[i * 250 : (i + 1) * 250]).coalesce(1),
            txn=f"b{i}",
        )
    assert _files_scanned(t, [("y", "between", (0, 99))]) == (4, 4)  # no luck
    before = {(r.x, r.y) for r in t.read().collect()}
    assert t.compact(txn="z1", target_partitions=8, zorder_by=["x", "y"])
    kept_x, total = _files_scanned(t, [("x", "between", (0, 99))])
    kept_y, _ = _files_scanned(t, [("y", "between", (0, 99))])
    assert total == 8
    assert kept_x < total and kept_y < total  # both dimensions skip now
    # the rewrite is a pure layout change
    assert {(r.x, r.y) for r in t.read().collect()} == before
    got = {
        (r.x, r.y) for r in t.read(where=[("y", "<=", 99)]).collect()
    }
    assert got == {p for p in before if p[1] <= 99}


def test_concurrent_commit_race_detected(spark, tmp_path):
    t1 = CommitLogTable(spark, str(tmp_path / "t"))
    t2 = CommitLogTable(spark, str(tmp_path / "t"))
    t1.write_append(_frame(spark, 0, 3), txn="a")
    t2.write_append(_frame(spark, 3, 6), txn="b")  # sees v0, claims v1
    assert t1.version() == 1
    assert t1.read().count() == 6
    assert {c.txn for c in t1.commits()} == {"a", "b"}


@pytest.fixture(scope="module")
def ingested_commit_log(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cdc_cl")
    in_dir = str(root / "in")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "batch1.jsonl"), "w") as f:
        f.write("\n".join(LINES[:4]) + "\n")
    with gzip.open(os.path.join(in_dir, "batch2.jsonl.gz"), "wt") as f:
        f.write("\n".join(LINES[4:]) + "\n")
    ing = CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_dict(REGISTRY_DOC),
        input_dir=in_dir,
        output_dir=str(root / "out"),
        checkpoint_dir=str(root / "ck"),
        commit_log=True,
    )
    ing.run_available_single_pass()
    return ing


def test_commit_log_ingest_matches_per_table_history(ingested_commit_log):
    hist = ingested_commit_log.history("olist_produtos")
    assert hist.count() == 4
    by_key = {
        (r.product_id, r.action): r for r in hist.collect()
    }
    assert by_key[("p2", "DELETE")].product_category_name is None
    assert ingested_commit_log.history("olist_users").count() == 1
    dl = ingested_commit_log.dead_letter()
    assert dl.count() == 2  # unmapped object + corrupt line


def test_commit_log_ingest_layout(ingested_commit_log):
    table_dir = os.path.join(ingested_commit_log.output_dir, "produtos_cdc")
    assert os.path.isdir(os.path.join(table_dir, LOG_DIR))
    t = CommitLogTable(ingested_commit_log.spark, table_dir)
    assert {c.txn for c in t.commits()} <= {"batch-0", "batch-1"}
    # every live file is under data/ and actually exists
    for f in t.snapshot_files():
        assert f.startswith(DATA_DIR)
        assert os.path.exists(os.path.join(table_dir, f))


def test_checkpoint_folds_log_and_survives_vacuum(spark, tmp_path):
    """Every Nth commit writes a full-snapshot checkpoint; vacuuming the
    folded commit files keeps reads, stats pruning, txn idempotence, and
    post-checkpoint time travel intact."""
    t = CommitLogTable(spark, str(tmp_path / "t"), checkpoint_every=3)
    for i in range(7):  # versions 0..6 -> checkpoints at v2 and v5
        t.write_append(_frame(spark, i * 10, i * 10 + 10).coalesce(1), txn=f"b{i}")
    log = os.path.join(t.path, LOG_DIR)
    ckpts = [n for n in os.listdir(log) if n.endswith(".checkpoint.json")]
    assert len(ckpts) == 2
    before = sorted(r.k for r in t.read().collect())

    removed = t.vacuum_log()
    assert removed == 6  # commits 0..5 folded into the v5 checkpoint
    # snapshot, pruning, and version() all still work from checkpoint + tail
    assert sorted(r.k for r in t.read().collect()) == before
    assert t.version() == 6
    kept, total = _files_scanned(t, [("k", "between", (0, 9))])
    assert (kept, total) == (1, 7)
    # replayed txn from the vacuumed range is still a no-op
    assert not t.write_append(_frame(spark, 0, 10), txn="b3")
    assert t.version() == 6
    # time travel: >= newest checkpoint works, older is explicitly refused
    assert t.read(version=5).count() == 60
    assert t.read(version=6).count() == 70
    with pytest.raises(ValueError, match="unreachable"):
        t.read(version=1)


def test_read_between_checkpoints_after_vacuum_is_refused(spark, tmp_path):
    """A version between an older checkpoint and the newest one needs the
    commits ``vacuum_log`` deleted: reading it must raise, not return the
    older checkpoint's snapshot as if it were that version."""
    t = CommitLogTable(spark, str(tmp_path / "t"), checkpoint_every=3)
    for i in range(7):  # versions 0..6 -> checkpoints at v2 and v5
        t.write_append(_frame(spark, i, i + 1), txn=f"b{i}")
    assert t.read(version=4).count() == 5
    t.vacuum_log()
    for v in (3, 4):
        with pytest.raises(ValueError, match="unreachable"):
            t.read(version=v)
    assert t.read(version=5).count() == 6
    assert t.read().count() == 7


def test_checkpoint_read_matches_raw_replay(spark, tmp_path):
    """With all commit files still present, checkpointed and raw replay
    agree at every version (the checkpoint is a pure accelerator)."""
    t = CommitLogTable(spark, str(tmp_path / "t"), checkpoint_every=2)
    for i in range(5):
        t.write_append(_frame(spark, i * 5, i * 5 + 5).coalesce(1), txn=f"b{i}")
    t.compact(txn="opt", target_partitions=1)  # version 5 rewrites the table
    raw = CommitLogTable(spark, str(tmp_path / "t"), checkpoint_every=10**9)
    for v in range(6):
        assert sorted(t.snapshot_files(v)) == sorted(raw.snapshot_files(v))
    assert t.read(version=5).count() == 25


def test_read_changes_feed_replays_to_latest_snapshot(spark, tmp_path):
    """CDF (VERDICT r3 #8): the feed between two versions, applied to the
    older snapshot (union inserts, exceptAll deletes), must reconstruct
    the newer snapshot exactly — across appends AND a compaction, whose
    file churn must net to zero changes."""
    t = CommitLogTable(spark, str(tmp_path / "t"))
    assert t.write_append(_frame(spark, 0, 5), txn="b0")       # v0
    assert t.write_append(_frame(spark, 5, 12), txn="b1")      # v1
    assert t.compact(txn="opt", target_partitions=2)           # v2
    assert t.write_append(_frame(spark, 12, 15), txn="b2")     # v3
    assert t.version() == 3

    # compaction alone: empty feed (identical rows cancel in the bag diff)
    assert t.read_changes(1, 2).count() == 0

    # full feed v0 -> latest = exactly the rows appended after v0
    feed = t.read_changes(0)
    ins = feed.filter(feed._change_type == "insert").select("k", "v")
    dels = feed.filter(feed._change_type == "delete").select("k", "v")
    assert dels.count() == 0
    assert sorted(r.k for r in ins.collect()) == list(range(5, 15))
    assert set(r._commit_version for r in feed.select("_commit_version")
               .distinct().collect()) == {3}

    # replay: snapshot(v0) + feed == snapshot(latest), bag-exact
    base = t.read(version=0).select("k", "v")
    replayed = base.unionByName(ins).exceptAll(dels)
    latest = t.read().select("k", "v")
    assert replayed.exceptAll(latest).count() == 0
    assert latest.exceptAll(replayed).count() == 0

    # deletes appear when a compaction is not value-neutral: simulate a
    # shrink by compacting a FILTERED snapshot through the public API?
    # (compact preserves rows by design) — instead diff in reverse
    # direction guard: from > to raises
    with pytest.raises(ValueError, match="from_version"):
        t.read_changes(3, 1)


def test_read_changes_reports_deletes_on_remove_commit(spark, tmp_path):
    """A commit that removes rows (here: a compaction after which we diff
    FROM a version whose rows were later dropped via an explicit remove
    commit) must surface delete rows."""
    t = CommitLogTable(spark, str(tmp_path / "t"))
    assert t.write_append(_frame(spark, 0, 6), txn="b0")       # v0
    assert t.write_append(_frame(spark, 6, 9), txn="b1")       # v1
    # drop b1's files via the commit primitive (a retention/GDPR-style
    # file-level delete)
    # match the txn DIRECTORY only — a bare "b1" substring can land
    # inside another file's random uuid and silently widen the remove
    # set (observed once as a suite-level flake)
    live_b1 = [f for f in t.snapshot_files() if "/b1/" in f]
    assert live_b1
    assert t._commit("drop_b1", add=[], remove=live_b1)        # v2
    feed = t.read_changes(1, 2)
    assert feed.filter(feed._change_type == "insert").count() == 0
    assert sorted(
        r.k for r in feed.filter(feed._change_type == "delete").collect()
    ) == [6, 7, 8]


def test_commit_log_ingest_restart_with_new_files_exactly_once(
    spark, tmp_path
):
    """Durability across a FORCED INGEST RESTART in commit-log mode
    (round-8 twin of the state-store restart test): run the single-pass
    commit-log ingest, throw the object away, drop new files, build a
    FRESH CdcIngest on the same dirs, run again.  The restarted instance
    must resume from the stream checkpoint (phase-1 files never re-read,
    no duplicate rows through the manifest), append exactly the new
    rows, and the log must show both transactions."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "batch1.jsonl"), "w") as f:
        f.write("\n".join(LINES[:4]) + "\n")

    def mk():
        return CdcIngest(
            spark=spark,
            registry=SchemaRegistry.from_dict(REGISTRY_DOC),
            input_dir=in_dir,
            output_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ck"),
            commit_log=True,
        )

    ing1 = mk()
    ing1.run_available_single_pass()
    assert ing1.history("olist_produtos").count() == 4
    del ing1

    with open(os.path.join(in_dir, "batch2.jsonl"), "w") as f:
        f.write("\n".join(LINES[4:5]) + "\n")  # the olist_users INSERT

    ing2 = mk()  # a brand-new object: nothing carried over in memory
    ing2.run_available_single_pass()

    # phase-1 rows exactly once (no re-read, no manifest duplicates)
    prod = ing2.history("olist_produtos")
    assert prod.count() == 4
    assert prod.select("product_id", "action").distinct().count() == 4
    users = ing2.history("olist_users").collect()
    assert [(r.first_name, r.email) for r in users] == [("ana", "a@x.com")]

    # the users table's manifest records its (single) commit; produtos'
    # log shows one txn from phase 1 and nothing new in phase 2
    tbl = CommitLogTable(spark, os.path.join(str(tmp_path / "out"),
                                             "produtos_cdc"))
    log_files = os.listdir(os.path.join(tbl.path, LOG_DIR))
    assert len([f for f in log_files if f.endswith(".json")]) >= 1
    assert tbl.read().count() == 4


def test_vacuum_data_files_after_compaction(spark, tmp_path):
    """VACUUM sweeps data files no retained snapshot references: after a
    compaction, keep_last=1 deletes the pre-compaction files (and any
    uncommitted orphan), the current read is intact, and time travel to
    the vacuumed version fails loudly at read()."""
    t = CommitLogTable(spark, str(tmp_path / "t"))
    t.write_append(_frame(spark, 0, 5).repartition(4), txn="b0")
    t.write_append(_frame(spark, 5, 9).repartition(4), txn="b1")
    old_files = t.snapshot_files()
    # an orphan from a crashed writer whose txn never replayed
    _frame(spark, 100, 105).write.parquet(
        os.path.join(t.path, DATA_DIR, "orphan")
    )
    assert t.compact(txn="opt-1")
    removed = t.vacuum(keep_last=1, min_age_seconds=0)
    assert removed >= len(old_files) + 1  # old snapshot + orphan parquet
    for rel in old_files:
        assert not os.path.exists(os.path.join(t.path, rel))
    assert not os.path.exists(os.path.join(t.path, DATA_DIR, "orphan"))
    # current snapshot intact, values identical
    assert sorted(r.k for r in t.read().collect()) == list(range(9))
    # idempotence bookkeeping untouched (txn set lives in the LOG)
    assert not t.write_append(_frame(spark, 0, 5), txn="b0")
    # vacuumed-away version: loud failure, not silent empties
    with pytest.raises(Exception):
        t.read(version=1).count()
    # a second vacuum is a no-op
    assert t.vacuum(keep_last=1, min_age_seconds=0) == 0


def test_vacuum_keep_last_retains_time_travel_window(spark, tmp_path):
    t = CommitLogTable(spark, str(tmp_path / "t"))
    t.write_append(_frame(spark, 0, 5), txn="b0")     # v0
    t.write_append(_frame(spark, 5, 9), txn="b1")     # v1
    assert t.compact(txn="opt-1")                     # v2
    # keep the last TWO versions: v1's files are still referenced
    removed_2 = t.vacuum(keep_last=2, min_age_seconds=0)
    assert t.read(version=1).count() == 9
    assert t.read(version=2).count() == 9
    # shrinking the window afterwards sweeps v1's files too
    removed_1 = t.vacuum(keep_last=1, min_age_seconds=0)
    assert removed_1 > 0 and removed_2 >= 0
    assert t.read().count() == 9
    with pytest.raises(Exception):
        t.read(version=1).count()


def test_ingest_maintain_compacts_and_vacuums_commit_log_sinks(
    spark, tmp_path
):
    """CdcIngest.maintain(): after several micro-batches each table holds
    one file set per batch; maintain compacts tables over the threshold
    into one file, vacuums the old files, keeps values identical, and a
    re-run is a no-op (txn derived from the table version)."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    ing = CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_dict(REGISTRY_DOC),
        input_dir=in_dir,
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ck"),
        commit_log=True,
    )
    # 3 micro-batches (one run per file drop: availableNow drains all
    # current input, so drop files between runs)
    for i in range(3):
        with open(os.path.join(in_dir, f"b{i}.jsonl"), "w") as f:
            f.write("\n".join(LINES) + "\n")
        ing.run_available_single_pass()
    before = ing.history("olist_produtos").count()
    t = CommitLogTable(
        spark, os.path.join(str(tmp_path / "out"), "produtos_cdc")
    )
    assert len(t.snapshot_files()) >= 3

    report = ing.maintain(max_files=1, min_age_seconds=0)
    assert "produtos_cdc" in report
    assert report["produtos_cdc"]["files_after"] == 1
    assert report["produtos_cdc"]["vacuumed"] > 0
    assert ing.history("olist_produtos").count() == before
    # value identity through the rewrite
    assert (
        ing.history("olist_produtos")
        .groupBy("product_id").count().collect()
    )
    # already-compacted tables skip on re-run (below threshold now)
    assert ing.maintain(max_files=1, min_age_seconds=0) == {}


def test_ingest_maintain_requires_commit_log(spark, tmp_path):
    ing = CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_dict(REGISTRY_DOC),
        input_dir=str(tmp_path / "in"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    with pytest.raises(ValueError, match="commit_log"):
        ing.maintain()


def test_cli_maintain_mode(spark, tmp_path, capsys):
    """--maintain: the CLI twin of CdcIngest.maintain for scheduled ops."""
    import json as _json

    from cdc_streamming___v2_spark.streaming.ingest import main

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(in_dir)
    reg_path = str(tmp_path / "data-stream.json")
    import json

    with open(reg_path, "w") as f:
        json.dump(REGISTRY_DOC, f)
    base = [
        "--input-dir", in_dir, "--registry", reg_path,
        "--output-dir", out_dir, "--commit-log",
    ]
    for i in range(3):
        with open(os.path.join(in_dir, f"b{i}.jsonl"), "w") as f:
            f.write("\n".join(LINES) + "\n")
        assert main(base + ["--trigger", "available-now"]) == 0
    assert main(base + ["--maintain", "--maintain-max-files", "1", "--maintain-min-age", "0"]) == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["produtos_cdc"]["files_after"] == 1


def test_read_changes_over_write_replace_commit(spark, tmp_path):
    """write_replace is one add+remove commit (the dead-letter replay's
    quarantine swap): the change feed across it must be the NET row
    delta — rows present in both snapshots cancel (bag semantics), so
    applying the feed to the old snapshot reconstructs the new one."""
    t = CommitLogTable(spark, str(tmp_path / "t"))
    assert t.write_append(_frame(spark, 0, 6), txn="b0")     # v0
    assert t.write_replace(_frame(spark, 3, 5), txn="swap")  # v1
    assert sorted(r.k for r in t.read().collect()) == [3, 4]
    feed = t.read_changes(0, 1)
    # {0..5} -> {3,4}: net deletes are the dropped rows, 3/4 cancel
    assert sorted(
        r.k for r in feed.filter(feed._change_type == "delete").collect()
    ) == [0, 1, 2, 5]
    assert feed.filter(feed._change_type == "insert").count() == 0
    # reconstruction: v0 snapshot + feed == v1 snapshot
    v0 = t.read(version=0)
    deletes = feed.filter(feed._change_type == "delete").select("k", "v")
    rebuilt = v0.exceptAll(deletes)
    assert sorted(r.k for r in rebuilt.collect()) == [3, 4]
    # replace replay is a no-op, snapshot unchanged
    assert not t.write_replace(_frame(spark, 0, 1), txn="swap")
    assert sorted(r.k for r in t.read().collect()) == [3, 4]


def test_write_replace_with_pinned_remove_preserves_concurrent_append(
    spark, tmp_path
):
    """ADVICE r9 (replay concurrency): an explicit remove list replaces
    exactly the caller's snapshot — a row appended between the snapshot
    and the replace commit survives."""
    t = CommitLogTable(spark, str(tmp_path / "t"))
    t.write_append(spark.createDataFrame([Row(k=1)]), txn="a")
    pinned = t.snapshot_files()
    # concurrent writer lands after the snapshot
    t.write_append(spark.createDataFrame([Row(k=2)]), txn="b")
    t.write_replace(
        spark.createDataFrame([Row(k=9)]), txn="swap", remove=pinned
    )
    assert sorted(r.k for r in t.read().collect()) == [2, 9]


def test_write_replace_superseded_snapshot_raises(spark, tmp_path):
    """Remove entries no longer live mean the snapshot was already
    replaced — committing would double-remove, so it must raise."""
    t = CommitLogTable(spark, str(tmp_path / "t"))
    t.write_append(spark.createDataFrame([Row(k=1)]), txn="a")
    pinned = t.snapshot_files()
    t.compact(txn="c")  # rewrites the snapshot: pinned files now dead
    with pytest.raises(ValueError, match="no longer live"):
        t.write_replace(
            spark.createDataFrame([Row(k=9)]), txn="swap", remove=pinned
        )


def test_vacuum_survives_concurrently_deleted_file(spark, tmp_path):
    """ADVICE r9: two maintain runs racing — a candidate deleted between
    os.walk and getmtime/remove is skipped, not a FileNotFoundError
    abort."""
    import os as _os

    t = CommitLogTable(spark, str(tmp_path / "t"))
    t.write_append(spark.createDataFrame([Row(k=1)]), txn="a")
    t.compact(txn="c")  # old file now unreferenced
    real_getmtime = _os.path.getmtime
    live = set(t.snapshot_files())

    def racy_getmtime(path):
        rel = _os.path.relpath(path, str(tmp_path / "t"))
        if rel not in live and _os.path.exists(path):
            _os.remove(path)  # the sibling vacuum wins the race
        return real_getmtime(path)

    _os.path.getmtime = racy_getmtime
    try:
        removed = t.vacuum(keep_last=1, min_age_seconds=0)
    finally:
        _os.path.getmtime = real_getmtime
    assert removed == 0  # sibling swept it; this run skipped cleanly
    assert [r.k for r in t.read().collect()] == [1]
