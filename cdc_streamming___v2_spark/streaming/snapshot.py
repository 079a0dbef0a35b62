"""Incremental latest-state snapshot maintenance over a CDC stream.

The history sink (streaming/ingest.py) is the system of record; this is the
serving-side complement: a materialized "current state" table kept fresh by
MERGE-ing each micro-batch, so readers get latest-state without running the
SCD2 window over the whole history on every query.

Mechanics: ``foreachBatch`` + the same full-outer-join merge proven
equivalent to the full-log window in operators/merge_ops.cdc_merge_apply.
Each batch is first reduced to one row per key (newest wins), then merged
with the previous snapshot version. Tombstone rows are RETAINED in storage
(so late replays of older versions cannot resurrect deleted keys) and
hidden by the ``current()`` serving view. Each merged version is published
through the manifest commit log (streaming/commitlog.py) as one replace
commit under the txn id ``batch-<id>``, so a micro-batch Spark re-delivers
after a crash is a no-op instead of a second merge.

Scale: per batch the work is (delta shuffle on key) + (join against the
snapshot). The delta is micro-batch-sized; the snapshot side is
key-cardinality-sized and re-shuffled on the key for the join. Compare:
recomputing latest-state from history re-windows the ENTIRE log every
refresh.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.history import _latest_version
from .commitlog import CommitLogTable


@dataclass
class _VersionedTable:
    """A table replaced wholesale once per micro-batch through the commit
    log; the current and previous versions stay on disk."""

    spark: SparkSession
    path: str

    def _write_version(self, df: DataFrame, batch_id: int) -> None:
        t = CommitLogTable(self.spark, self.path)
        t.write_replace(df, txn=f"batch-{batch_id}")
        t.vacuum(keep_last=2, min_age_seconds=0)

    def read(self) -> DataFrame | None:
        t = CommitLogTable(self.spark, self.path)
        if t.version() < 0:
            return None
        return t.read()

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch``."""

        def apply(batch: DataFrame, batch_id: int) -> None:
            if batch.isEmpty():
                return
            self.merge_batch(batch, batch_id)

        return apply

    def attach(
        self, stream: DataFrame, checkpoint_dir: str, available_now: bool = False
    ):
        """Wire a streaming DataFrame of change rows into this view."""
        writer = (
            stream.writeStream.foreachBatch(self.foreach_batch())
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


@dataclass
class SnapshotMaintainer(_VersionedTable):
    """Maintains a latest-state snapshot for one keyed change stream."""

    keys: tuple[str, ...] = ()
    order_col: str = "ts"
    action_col: str = "action"
    delete_actions: tuple[str, ...] = ("DELETE",)
    tiebreakers: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        # keys defaults to () only because dataclass inheritance forces a
        # default once the base has one — an empty key set would merge every
        # row into one group and degrade silently, so fail at construction
        # (ADVICE r3)
        if not self.keys:
            raise ValueError(
                f"{type(self).__name__} requires a non-empty `keys` tuple"
            )

    # read() note: the raw snapshot INCLUDES tombstone rows (the merge
    # input). Tombstones are retained so a late replay of an older version
    # cannot resurrect a deleted key.

    def current(self) -> DataFrame | None:
        """Visible latest-state (tombstoned keys hidden) — the serving view."""
        raw = self.read()
        if raw is None:
            return None
        return raw.filter(~F.col(self.action_col).isin(*self.delete_actions))

    def merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Apply one micro-batch of change rows to the snapshot; a batch id
        that already landed is a no-op."""
        delta = _latest_version(
            batch, self.keys, self.order_col, self.tiebreakers
        )
        prev = self.read()
        if prev is None:
            merged = delta
        else:
            cols = prev.columns
            non_keys = [c for c in cols if c not in self.keys]
            b = prev.select(
                *self.keys, *[F.col(c).alias(f"b_{c}") for c in non_keys]
            )
            c_ = delta.select(
                *self.keys, *[F.col(c).alias(f"c_{c}") for c in non_keys]
            )
            # a change wins only if it is NEWER than the snapshot row
            # (lexicographic on order_col + tiebreakers) — late replays of
            # old versions must not regress the snapshot
            ver = [self.order_col, *self.tiebreakers]
            c_ver = F.struct(*[F.col(f"c_{v}") for v in ver])
            b_ver = F.struct(*[F.col(f"b_{v}") for v in ver])
            take_change = F.col(f"c_{self.order_col}").isNotNull() & (
                F.col(f"b_{self.order_col}").isNull() | (c_ver >= b_ver)
            )
            merged = b.join(c_, list(self.keys), "full").select(
                *self.keys,
                *[
                    F.when(take_change, F.col(f"c_{c}"))
                    .otherwise(F.col(f"b_{c}"))
                    .alias(c)
                    for c in non_keys
                ],
            )
        self._write_version(merged, batch_id)


@dataclass
class AggViewMaintainer(_VersionedTable):
    """Maintains a per-group AGGREGATE materialized view over an
    append-only stream — the streaming twin of
    operators/maintenance.incremental_agg_maintain: each micro-batch is
    reduced to its group aggregates and merged into the stored view with
    the mergeable combine rules (count/sum add, min/max fold), so the view
    stays fresh at O(batch) cost and the raw stream is never re-read.

    Storage rows are (keys…, n, s, lo, hi); ``current()`` derives avg.
    Scale: the stored view is group-cardinality-sized; each batch shuffles
    batch-group-cardinality rows and joins at touched-group size.
    """

    keys: tuple[str, ...] = ()
    value_col: str = "value"

    def __post_init__(self) -> None:
        if not self.keys:  # see SnapshotMaintainer.__post_init__
            raise ValueError(
                f"{type(self).__name__} requires a non-empty `keys` tuple"
            )

    def _agg(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.keys).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(self.value_col).alias("s"),
            F.min(self.value_col).alias("lo"),
            F.max(self.value_col).alias("hi"),
        )

    def merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        delta = self._agg(batch)
        prev = self.read()
        if prev is None:
            self._write_version(delta, batch_id)
            return
        z = F.lit(0).cast("bigint")
        b = prev.select(
            *self.keys, *[F.col(c).alias(f"b_{c}") for c in ("n", "s", "lo", "hi")]
        )
        d = delta.select(
            *self.keys, *[F.col(c).alias(f"d_{c}") for c in ("n", "s", "lo", "hi")]
        )
        merged = b.join(d, list(self.keys), "full").select(
            *self.keys,
            (F.coalesce("b_n", z) + F.coalesce("d_n", z)).alias("n"),
            (
                F.coalesce("b_s", F.lit(0.0)) + F.coalesce("d_s", F.lit(0.0))
            ).alias("s"),
            F.least("b_lo", "d_lo").alias("lo"),
            F.greatest("b_hi", "d_hi").alias("hi"),
        )
        self._write_version(merged, batch_id)

    def current(self) -> DataFrame | None:
        """The serving view: (keys…, n_events, sum/avg/min/max_value)."""
        raw = self.read()
        if raw is None:
            return None
        return raw.select(
            *self.keys,
            F.col("n").alias("n_events"),
            F.round("s", 2).alias("sum_value"),
            F.round(F.col("s") / F.col("n"), 6).alias("avg_value"),
            F.col("lo").alias("min_value"),
            F.col("hi").alias("max_value"),
        )
