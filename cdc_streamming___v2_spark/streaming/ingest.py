"""CDC ingest: Structured Streaming re-expression of the reference pipeline.

Reference graph (src/dataflow-cdc-stream.py:135-150):
    Pub/Sub notification -> decode -> json.loads -> build gs:// path ->
    ReadAllFromText -> per-record: parse envelope, enrich action/update_date,
    registry lookup (GCS download per record!), nested single-row Beam
    pipeline -> BigQuery WRITE_APPEND; unmapped objects -> console print.

Spark-first replacement (SURVEY.md §2.A ops 1-12):
    Structured Streaming FILE SOURCE on the log directory (subsumes the
    Pub/Sub notification hop — the file source's listing loop IS "notice new
    object, read it"; GZIP NDJSON decodes transparently) ->
    parse envelope JVM-side (one json_tuple for the top-level fields plus
    one get_json_object for change_type; payload kept as raw JSON) ->
    one foreachBatch query: each micro-batch is parsed and cached once, then
    every registered table filters on object, decodes the payload with one
    from_json per row against its registry schema (fields projected from
    the decoded struct) and enriches action/update_date ->
    parquet history table (append-only = the reference's WRITE_APPEND) ->
    plus one dead-letter sink for unmapped/corrupt lines (strictly better
    than the reference's print/raise, py:96-100).

Delivery: two sink modes. Commit-log sinks (streaming/commitlog.py) are
exactly-once per (table, micro-batch) through ``batch-<id>`` txn ids,
an upgrade on the reference's at-least-once (SURVEY.md §4); plain sinks
may duplicate a prefix of the sink list after a crash.

Scale: the pipeline is narrow — it scales linearly with executors, and a
micro-batch scans and parses the log once however many tables the
registry holds. Plain history tables are written hive-style partitioned by
``update_day`` (one co-location shuffle per table, so a day lands in one
file per trigger) and point-in-time reads prune partitions before the
SCD2 window shuffle (operators/history.py); commit-log tables carry the
day as a plain column and are written without a shuffle.
maxFilesPerTrigger bounds micro-batch size for backpressure at high log
rates.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..sources.cdc_schema import (
    parse_envelope,
    parse_envelope_auto,
    parse_envelope_goldengate,
    parse_envelope_mongo,
    parse_envelope_sqlserver,
    parse_envelope_wal2json,
    parse_envelope_airbyte,
    parse_envelope_aws_dms,
    parse_envelope_debezium_flat,
    parse_envelope_dynamodb,
    parse_envelope_canal,
    parse_envelope_debezium,
    parse_envelope_maxwell,
    update_date_expr,
)
from ..sources.registry import ENGINE_COLUMNS, SchemaRegistry, TableSpec
from .commitlog import CommitLogTable

DEAD_LETTER_SCHEMA = T.StructType([
    T.StructField("object", T.StringType(), True),
    T.StructField("raw", T.StringType(), True),
    T.StructField("dead_letter_at", T.TimestampType(), True),
])

# dead-letter replay swap-in-flight marker (plain mode):
# written before the two-rename swap, removed after the tomb is sealed —
# _recover_replay_swap completes a crashed swap from it
_REPLAY_SIDECAR = "_dead_letter_replay_inflight.json"


def _parquet_relpaths(root: str) -> list[str]:
    """Sorted relpaths of every .parquet under ``root`` (the file-level
    quarantine snapshot the replay pins; [] for a missing dir)."""
    out = []
    if os.path.isdir(root):
        for dirpath, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    out.append(
                        os.path.relpath(os.path.join(dirpath, n), root)
                    )
    return sorted(out)


def _move_fresh_parquet(tomb: str, staging: str, inventory: set) -> int:
    """Move parquet files under ``tomb`` that are NOT in the pinned
    ``inventory`` (rows a concurrent ingest quarantined after the replay
    snapshot) into ``staging``, preserving relative layout. Spark part
    file names embed task UUIDs, so collisions cannot occur."""
    moved = 0
    for rel in _parquet_relpaths(tomb):
        if rel in inventory:
            continue
        dst = os.path.join(staging, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(os.path.join(tomb, rel), dst)
        moved += 1
    return moved


def _truncate_tomb(tomb: str) -> None:
    """Seal a replay tomb down to an empty directory: only its NAME is
    load-bearing (generation counting), so keeping the pre-swap parquet
    copy forever is unbounded disk growth (ADVICE r9)."""
    for n in os.listdir(tomb):
        p = os.path.join(tomb, n)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except FileNotFoundError:
                pass

# ONE mapping drives both the _parse_lines dispatch and the CLI choices —
# a hand-maintained second list is how 8 dialects went CLI-invisible
# through round 8
_ENVELOPE_PARSERS = {
    "datastream": parse_envelope,
    "debezium": parse_envelope_debezium,
    "debezium_flat": parse_envelope_debezium_flat,
    "maxwell": parse_envelope_maxwell,
    "canal": parse_envelope_canal,
    "sqlserver": parse_envelope_sqlserver,
    "aws_dms": parse_envelope_aws_dms,
    "goldengate": parse_envelope_goldengate,
    "mongo": parse_envelope_mongo,
    "wal2json": parse_envelope_wal2json,
    "airbyte": parse_envelope_airbyte,
    "dynamodb": parse_envelope_dynamodb,
    "auto": parse_envelope_auto,
}
_ENVELOPE_FORMATS = tuple(_ENVELOPE_PARSERS)


@dataclass
class CdcIngest:
    """One CDC ingest job: log directory (or Kafka topic) -> per-table
    history sinks.

    ``source_format="file"`` (default) tails ``input_dir`` with the file
    source. ``source_format="kafka"`` reads the same NDJSON envelope lines
    from a broker (``kafka_options`` must carry at least
    ``kafka.bootstrap.servers`` and ``subscribe``); the Kafka record value
    is decoded bytes->string exactly like the reference's Pub/Sub decode
    hop (src/dataflow-cdc-stream.py:139), and everything downstream —
    parse, route, enrich, sinks — is the identical plan. Requires the
    spark-sql-kafka connector on the classpath at ``start_single_pass()``
    time.
    """

    spark: SparkSession
    registry: SchemaRegistry
    input_dir: str
    output_dir: str
    checkpoint_dir: str
    source_format: str = "file"
    # any key of _ENVELOPE_PARSERS: one of the twelve CDC dialects
    # ("datastream", the reference's envelope, by default) or "auto"
    # (per-line dispatch for mixed streams). Everything downstream of the
    # parse — registry route, payload decode, enrich, sinks, dead-letter —
    # is envelope-agnostic (sources/cdc_schema.py).
    envelope_format: str = "datastream"
    kafka_options: dict[str, str] = field(default_factory=dict)
    # exactly-once via the manifest commit log (streaming/commitlog.py);
    # readers resolve files through the log, uncommitted data is
    # invisible, replays are txn-id no-ops.
    commit_log: bool = False
    # when set: re-stat this registry file once per micro-batch and
    # hot-swap the registry when it changes, after validating the
    # evolution is safe (SchemaRegistry.check_evolution). This reproduces
    # the reference's observable behavior — registry edits take effect
    # mid-stream (it re-downloads data-stream.json per RECORD,
    # src/dataflow-cdc-stream.py:71-76) — at one stat() per micro-batch
    # instead of one GCS download per record. New tables begin routing from
    # the next micro-batch; rows for them that arrived earlier are already
    # in the dead-letter sink (append-only semantics, nothing re-routes).
    registry_path: str | None = None
    # opt-in: admit registry evolutions that DROP a column (old history
    # files keep the data physically; reads project it away). The drop is
    # tombstoned in ``output_dir/_schema_tombstones.json`` so a later
    # re-add under a type the buried files can't be read as is refused
    # (SchemaRegistry.check_evolution). Off by default: an accidental
    # drop must fail the stream loudly.
    allow_column_drops: bool = False
    max_files_per_trigger: int | None = None
    # "day" | "month" | None (unpartitioned): pick so a partition holds
    # file-sized row counts. Day is right when a day's changes fill >= one
    # good parquet file (any real CDC volume); month keeps backfills of
    # long/sparse history from exploding into thousands of tiny files (a
    # 6-year backfill at bench scale = ~2400 day dirs of ~60 rows —
    # measured 14x slower than month partitioning for identical data).
    partition_granularity: str | None = "day"
    _queries: list[StreamingQuery] = field(default_factory=list)
    _registry_mtime: int | None = field(default=None, repr=False)

    def __post_init__(self) -> None:
        if self.partition_granularity not in ("day", "month", None):
            raise ValueError(
                "partition_granularity must be 'day', 'month' or None, "
                f"got {self.partition_granularity!r}"
            )

    @property
    def _partition_col(self) -> str | None:
        if self.partition_granularity is None:
            return None
        return "update_day" if self.partition_granularity == "day" else "update_month"

    # -- plan construction (shared by batch and streaming) -------------------

    @staticmethod
    def _parse_lines(raw: DataFrame, envelope_format: str) -> DataFrame:
        """Envelope dispatch over a ``value: string`` frame — batch or
        streaming; the parsers are pure column expressions either way."""
        parser = _ENVELOPE_PARSERS.get(envelope_format)
        if parser is None:
            raise ValueError(
                f"unknown envelope_format: {envelope_format!r}"
            )
        return parser(raw)

    def _raw_lines(self) -> DataFrame:
        """One NDJSON envelope line per row, column ``value: string``.

        Both sources land on the same shape, so the entire downstream plan
        (parse -> route -> enrich -> sinks) is source-agnostic.
        """
        if self.source_format == "kafka":
            reader = self.spark.readStream.format("kafka")
            for k, v in self.kafka_options.items():
                reader = reader.option(k, v)
            if self.max_files_per_trigger:
                # the Kafka analogue of maxFilesPerTrigger: bound each
                # micro-batch for backpressure (records, not files)
                reader = reader.option(
                    "maxOffsetsPerTrigger", str(self.max_files_per_trigger)
                )
            # bytes -> UTF-8 string: the reference's decode hop (py:139)
            return reader.load().select(F.col("value").cast("string").alias("value"))
        if self.source_format != "file":
            raise ValueError(f"unknown source_format: {self.source_format!r}")
        reader = self.spark.readStream.format("text")
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.load(self.input_dir)

    def _route_table(self, env: DataFrame, spec: TableSpec) -> DataFrame:
        """Envelope rows for one object -> typed history rows.

        Null-stripping (reference py:68) needs no operator here: absent/null
        payload fields simply parse to NULL against the fixed schema — the
        same "blank row" the reference produces for DELETEs (README.md:57).
        """
        # action IS NULL = unparseable change type (e.g. an unknown Debezium
        # op code) — those rows belong to the dead-letter sink, not history
        routed = env.filter(
            (F.col("object") == spec.object_name) & F.col("action").isNotNull()
        )
        # rename transition window: after a column rename lands in the
        # registry, in-flight envelopes may still carry the OLD field
        # name (the producer's DDL and the registry edit are not atomic).
        # The ``renamed_from`` declaration on the new field (Avro-alias
        # pattern) tells us the fallback: parse BOTH names and coalesce —
        # the new name wins, the predecessor fills the tail.
        names = {f.name for f in spec.payload_schema}
        aliases = {
            b: a
            for b, a in (spec.renames or {}).items()
            if b in names and a not in names
        }
        parse_schema = spec.payload_schema
        if aliases:
            parse_schema = T.StructType([
                *parse_schema.fields,
                *[
                    T.StructField(a, spec.payload_schema[b].dataType, True)
                    for b, a in aliases.items()
                ],
            ])
        # decode the payload ONCE into a struct column and project fields
        # from it: ``from_json(..).getField(f)`` per field lets Catalyst's
        # JSON-expression pruning split the decode into one full parse per
        # field (20 parses per row on a 20-field table); Catalyst does not
        # inline a projected from_json that the projection above reads
        # more than once, so the plan keeps a single decode
        payload = F.col("_payload")
        parsed = routed.select(
            F.from_json(F.col("payload_json"), parse_schema).alias("_payload"),
            "action",
            "update_date_raw",
        )
        cols = []
        for f in spec.payload_schema:
            v = payload.getField(f.name)
            if f.name in aliases:
                v = F.coalesce(v, payload.getField(aliases[f.name]))
            cols.append(v.alias(f.name))
        for name in ENGINE_COLUMNS:
            sink_field = spec.schema[name]
            if name == "action":
                cols.append(F.col("action").cast(sink_field.dataType).alias("action"))
            else:
                cols.append(update_date_expr(sink_field.dataType).alias(name))
        out = parsed.select(*cols)
        if self._partition_col:
            out = out.withColumn(
                self._partition_col,
                _partition_bucket(
                    F.col("update_date"),
                    spec.schema["update_date"].dataType,
                    self.partition_granularity,
                ),
            )
            if not self.commit_log:
                # co-locate each partition value before the hive-style
                # partitionBy write: without this, every write task emits
                # a file into every day dir it sees (tasks x days tiny
                # files — a backfill spanning years grinds on file
                # creation); with it, a day's rows land in one task = one
                # file per day per trigger.  Commit-log sinks carry the
                # day as a plain column, so there the shuffle would only
                # add a job per table and a one-task write tail.
                out = out.repartition(F.col(self._partition_col))
        return out

    def _is_dead_letter(self):
        """Rows no history table takes: unmapped objects, corrupt lines
        and unparseable change types."""
        known = list(self.registry.object_names)
        return (
            F.col("object").isNull()
            | ~F.col("object").isin(known)
            | F.col("action").isNull()
        )

    def _dead_letters(self, env: DataFrame) -> DataFrame:
        """Unmapped objects + corrupt lines, with the raw line preserved."""
        return env.filter(self._is_dead_letter()).select(
            F.col("object"),
            F.col("raw"),
            F.current_timestamp().alias("dead_letter_at"),
        )

    # -- streaming execution -------------------------------------------------

    def _refuse_streaming_file_sinks(self) -> None:
        """Raise if a sink directory holds a ``_spark_metadata`` log (a
        Structured Streaming file-sink table). Spark reads such a
        directory through that log alone, so files a plain append adds
        never show up in reads, and a commit-log table over it would hide
        the old rows instead — refuse loudly rather than lose data
        silently."""
        for name in [s.table_name for s in self.registry] + ["_dead_letter"]:
            d = os.path.join(self.output_dir, name)
            if os.path.exists(os.path.join(d, "_spark_metadata")):
                raise ValueError(
                    f"{d} is a streaming file-sink table (_spark_metadata "
                    "log), which this ingest cannot append to or replay "
                    "into; rewrite it to a fresh directory first"
                )

    def start_single_pass(self, available_now: bool = False) -> StreamingQuery:
        """One readStream + foreachBatch writing every table per micro-batch.

        The envelope batch is parsed once, persisted, and each registered
        table + the dead-letter sink filters from it — one scan of the log
        per micro-batch regardless of registry size. With
        ``available_now`` the query drains the current input, then stops.

        Delivery: a batch-id marker commits each micro-batch after all
        sinks are written, so replays after a crash skip completed batches.
        Plain sinks append in registry order, so a crash between the first
        table write and the marker duplicates at most a prefix of the sink
        list on replay. Commit-log sinks publish each (table, batch) under
        the txn id ``batch-<id>``: a replayed batch finds its txn already
        committed and skips that table, so every (table, batch) lands
        exactly once no matter where a crash falls, and readers never see
        uncommitted files.
        """
        self._refuse_streaming_file_sinks()
        env = self._parse_lines(self._raw_lines(), self.envelope_format)

        def _publish_one(routed: DataFrame, spec: TableSpec | None,
                         batch_id: int) -> None:
            table = spec.table_name if spec is not None else "_dead_letter"
            sink = os.path.join(self.output_dir, table)
            if self.commit_log:
                # partition column rides as a normal column here:
                # commit-log tables skip hive-style dirs (file pruning
                # would come from per-file stats in the manifest, the
                # Delta/Iceberg approach), so _route_table adds no
                # co-location shuffle and the publish is one narrow job
                CommitLogTable(self.spark, sink).write_append(
                    routed, txn=f"batch-{batch_id}"
                )
                return
            parts = (
                [self._partition_col]
                if self._partition_col and spec is not None
                else []
            )
            routed.write.mode("append").partitionBy(*parts).parquet(sink)

        def _write_batch(batch: DataFrame, batch_id: int) -> None:
            self._maybe_reload_registry()
            marker = os.path.join(self.checkpoint_dir, "_batches", str(batch_id))
            if os.path.exists(marker):
                return
            specs = [*self.registry, None]  # None = dead-letter sink
            # only the dead-letter sink reads the raw line, the widest
            # cached column: keep it for dead-letter rows alone
            batch = batch.withColumn(
                "raw", F.when(self._is_dead_letter(), F.col("raw"))
            )
            batch.persist()
            try:
                with ThreadPoolExecutor(
                    max_workers=min(4, len(specs))
                ) as pool:
                    # materialize the cache ONCE before fanning out so
                    # concurrent sink jobs don't race to compute (and
                    # double-parse) the envelope batch.  A noop write
                    # fills it in one narrow job (count() under AQE runs
                    # as three jobs around a shuffle); the driver builds
                    # the sink plans meanwhile, a few hundred py4j calls
                    # per table.  Inside the try so a failed
                    # materialization job (e.g. a parse error) still
                    # unpersists (ADVICE r11).
                    fill = pool.submit(
                        batch.write.format("noop").mode("overwrite").save
                    )
                    sinks = [
                        (
                            self._dead_letters(batch)
                            if spec is None
                            else self._route_table(batch, spec),
                            spec,
                        )
                        for spec in specs
                    ]
                    fill.result()
                    if self.commit_log:
                        # per-sink publishes are independent Spark jobs
                        # over the cached batch (disjoint table/dead-letter
                        # dirs; commit-log tables are single-writer PER
                        # TABLE): overlap them from a small driver pool so
                        # each tiny write's job+commit overhead back-fills
                        # the others' idle tail (guide-§2.6 shape;
                        # measured r11 — see OPTIMIZATION_r11.md).
                        # Failures propagate via future.result(), so a
                        # failed sink still fails the batch BEFORE the
                        # marker is written — the crash-replay contract is
                        # unchanged.  Each publish is per-(table, batch)
                        # idempotent, so a replayed batch re-publishing an
                        # arbitrary SUBSET of sinks is safe.
                        futs = [
                            pool.submit(_publish_one, routed, spec, batch_id)
                            for routed, spec in sinks
                        ]
                        for f in futs:
                            f.result()
                    else:
                        # plain append mode: sequential, in registry order
                        # — a sink failure stops LATER sinks, so a
                        # crash-replay duplicates at most a PREFIX of the
                        # sink list (the documented at-least-once window).
                        # Pooling here widened that window to an arbitrary
                        # subset for a mode with no per-sink idempotence
                        # guard (ADVICE r11); the overlap win belongs to
                        # the exactly-once commit-log mode above.
                        for routed, spec in sinks:
                            _publish_one(routed, spec, batch_id)
            finally:
                batch.unpersist()
            os.makedirs(os.path.dirname(marker), exist_ok=True)
            with open(marker, "w") as f:
                f.write("done")

        writer = env.writeStream.foreachBatch(_write_batch).option(
            "checkpointLocation", os.path.join(self.checkpoint_dir, "_single_pass")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        self._queries.append(q)
        return q

    def run_available_single_pass(self) -> None:
        """Process everything currently in input_dir, then stop (for tests
        and batch-style backfills; the reference's backfill_all analogue)."""
        q = self.start_single_pass(available_now=True)
        q.awaitTermination()
        self._queries.clear()

    # -- dead-letter replay ---------------------------------------------------

    def replay_dead_letters(
        self, envelope_format: str | None = None
    ) -> dict:
        """Re-drive quarantined rows through the dispatcher after a fix.

        The ingest dead-letters corrupt/unmapped lines (strictly better
        than the reference's ``print``, src/dataflow-cdc-stream.py:97) —
        but a quarantine is only useful if, after the parser bug is fixed
        or the registry gains the missing table, the rows can be re-driven
        into the canonical history tables WITHOUT hand-rolling a one-off
        job (VERDICT r8 #2). This does that, idempotently:

        1. snapshot the quarantine and re-parse every raw line with the
           CURRENT dispatcher (``envelope_format`` overrides, default the
           ingest's own; registry hot-reload is honored first);
        2. rows that now parse AND route to a registered table append to
           their history sinks through the exact ``_route_table`` plan the
           live stream uses — commit-log mode appends under a
           content-derived txn id (replays are no-ops), plain mode moves
           staged files in behind a per-replay ``.done`` marker
           (``_plain_replay_append``);
        3. rows that STILL fail re-quarantine: the dead-letter sink is
           atomically replaced with only the still-dead remainder (rename
           swap; ``write_replace`` single-commit swap in commit-log mode),
           so a second replay finds zero parseable rows and no-ops.

        The replay id derives from the quarantine CONTENT (an
        order-independent sum over per-line hashes — one scalar agg, no
        driver-side row collection) SALTED with the replay GENERATION —
        the count of completed quarantine swaps (tomb directories /
        ``replay-dl-*`` txns), which only advances when a swap lands.  A
        crash-and-rerun therefore recomputes the SAME id (same content,
        same generation: per-table idempotence guards hold), while a
        LATER replay of byte-identical content — the same source file
        re-ingested after a full drain — gets a FRESH id and really
        lands (the generation advanced with the first drain's swap).
        The tombs/txns are idempotence bookkeeping: do not delete them.

        Still-dead rows keep their ORIGINAL quarantine rows (including
        the first-seen ``dead_letter_at``) — age-based triage stays
        truthful across replays.

        Concurrency (ADVICE r9): the replay set is pinned at FILE level
        when the quarantine is snapshotted — the swap removes exactly
        those files, so rows quarantined by a concurrently running
        ingest AFTER the snapshot survive it (commit-log mode: the
        replace commit lists the pinned files and raises if they were
        superseded; plain mode: files that appeared after
        the snapshot are carried over into the swapped-in quarantine
        before the tomb is sealed). The recommended operating mode is
        still SINGLE-WRITER — drain or stop the ingest stream first —
        because a writer that recreates ``_dead_letter`` in the
        microseconds between the swap's two renames fails the replay
        loudly (rename onto an existing dir); nothing is ever silently
        lost either way.

        Scale: one narrow parse pass over the quarantine + the same
        per-table narrow routing as live ingest; the only join is the
        broadcast-sized semi-join that carries the original rows of the
        still-dead remainder. Returns per-table appended counts + the
        remainder.
        """
        dl_dir = os.path.join(self.output_dir, "_dead_letter")
        self._recover_replay_swap(dl_dir)
        if not os.path.exists(dl_dir):
            # a crash between the swap's two renames (from a pre-sidecar
            # tree) leaves the remainder in the staging dir and NO
            # _dead_letter — complete the swap instead of misreporting an
            # empty quarantine
            stagings = [
                d for d in os.listdir(self.output_dir)
                if d.startswith("_dead_letter_staging_")
            ] if os.path.isdir(self.output_dir) else []
            if len(stagings) == 1 and not self.commit_log:
                os.rename(
                    os.path.join(self.output_dir, stagings[0]), dl_dir
                )
            elif stagings:
                raise ValueError(
                    f"quarantine missing but {len(stagings)} staging dirs "
                    f"exist under {self.output_dir} — manual recovery "
                    f"needed: rename the correct one to _dead_letter"
                )
            else:
                return {"replayed": 0, "requarantined": 0, "tables": {}}
        # swapping a _spark_metadata quarantine would also orphan its log
        self._refuse_streaming_file_sinks()
        self._maybe_reload_registry()

        # snapshot pinned at FILE level: the swap in step 3 removes exactly
        # these files, so a concurrent ingest's post-snapshot quarantine
        # appends (new files) are never part of the replay set and never
        # removed by the swap (ADVICE r9)
        if self.commit_log:
            dl_snapshot_files = CommitLogTable(
                self.spark, dl_dir
            ).snapshot_files()
        else:
            dl_snapshot_files = _parquet_relpaths(dl_dir)
        if dl_snapshot_files:
            dl = self.spark.read.schema(DEAD_LETTER_SCHEMA).parquet(
                *[os.path.join(dl_dir, f) for f in dl_snapshot_files]
            ).localCheckpoint(eager=True)
        else:
            dl = self.spark.createDataFrame([], DEAD_LETTER_SCHEMA)
        fmt = envelope_format or self.envelope_format
        # materialize the re-parse ONCE: env feeds the good-row routing,
        # the still-dead remainder, AND per-table counts — without this
        # the dispatcher's expression tree (12-dialect union in auto mode)
        # re-evaluates and re-compiles per consumer (the multi-consumer
        # recompute shape, SURVEY §20.8); a quarantine is small by
        # construction (the corrupt fraction of the stream), so the
        # checkpoint is cheap
        env = self._parse_lines(
            dl.select(F.col("raw").alias("value")), fmt
        ).localCheckpoint(eager=True)
        known = list(self.registry.object_names)
        good = env.filter(
            F.col("object").isin(known) & F.col("action").isNotNull()
        )
        n_good = good.count()
        if n_good == 0:
            return {
                "replayed": 0,
                "requarantined": dl.count(),
                "tables": {},
            }
        # still-dead remainder = the ORIGINAL quarantine rows whose raw
        # line still fails (parse is deterministic per raw value, so the
        # good/still partition is by value); semi-join keeps first-seen
        # dead_letter_at and the original object column intact
        still_raws = self._dead_letters(env).select("raw").distinct()
        remainder = dl.join(F.broadcast(still_raws), "raw", "left_semi").select(
            "object", "raw", "dead_letter_at"
        )

        # content-derived replay id: order-independent additive hash over
        # the quarantined lines (bounded scalar agg, deterministic across
        # crash/re-run while the quarantine is unchanged), salted with the
        # completed-swap generation so byte-identical content replayed
        # AGAIN later gets a fresh id (see docstring)
        rid_row = dl.agg(
            F.sum(
                F.conv(F.substring(F.sha2(F.col("raw"), 256), 1, 15), 16, 10)
                .cast("decimal(38,0)")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        generation = self._replay_generation(dl_dir)
        replay_id = (
            (int(rid_row["s"] or 0) ^ int(rid_row["n"]))
            + generation * 0x9E3779B97F4A7C15
        ) % (1 << 62)

        tables: dict[str, int] = {}
        for spec in self.registry:
            routed = self._route_table(good, spec)
            n = routed.count()
            if n == 0:
                continue
            tables[spec.table_name] = n
            sink = os.path.join(self.output_dir, spec.table_name)
            part_cols = [self._partition_col] if self._partition_col else []
            if self.commit_log:
                CommitLogTable(self.spark, sink).write_append(
                    routed, txn=f"replay-{replay_id}"
                )
            else:
                self._plain_replay_append(
                    routed, sink, part_cols, replay_id
                )

        # step 3: swap the quarantine down to the still-dead remainder —
        # removing exactly the pinned snapshot files, so concurrent
        # appends survive
        if self.commit_log:
            CommitLogTable(self.spark, dl_dir).write_replace(
                remainder.repartition(1),
                txn=f"replay-dl-{replay_id}",
                remove=dl_snapshot_files,
            )
        else:
            staging = os.path.join(
                self.output_dir, f"_dead_letter_staging_{replay_id}"
            )
            # repartition(1): a zero-row frame still emits one
            # schema-bearing file, keeping the swapped sink readable
            remainder.repartition(1).write.mode("overwrite").parquet(
                staging
            )
            tomb = os.path.join(
                self.output_dir, f"_dead_letter_replayed_{replay_id}"
            )
            # sidecar written BEFORE the swap: a crash at any point below
            # is completed by _recover_replay_swap on the next call
            sidecar = os.path.join(self.output_dir, _REPLAY_SIDECAR)
            with open(sidecar, "w") as f:
                json.dump(
                    {
                        "replay_id": replay_id,
                        "inventory": list(dl_snapshot_files),
                    },
                    f,
                )
            os.rename(dl_dir, tomb)
            # files a concurrent ingest quarantined AFTER the snapshot are
            # not in the inventory — carry them into the new quarantine
            # instead of entombing them (ADVICE r9)
            _move_fresh_parquet(tomb, staging, set(dl_snapshot_files))
            os.rename(staging, dl_dir)
            # the tomb is generation bookkeeping only — its NAME counts;
            # keeping the full pre-swap parquet copy forever is unbounded
            # disk growth (ADVICE r9), so seal it empty
            _truncate_tomb(tomb)
            os.remove(sidecar)
            # the swap landed -> generation advanced -> this replay_id is
            # retired; its plain-mode delivery markers are dead weight now
            self._sweep_replay_markers(replay_id)

        return {
            "replayed": n_good,
            "requarantined": self.dead_letter().count(),
            "replay_id": replay_id,
            "tables": tables,
        }

    def _recover_replay_swap(self, dl_dir: str) -> None:
        """Complete a replay swap that crashed mid-flight (sidecar
        present). The sidecar is written before the two-rename swap and
        removed after the tomb is sealed, so its presence pins exactly
        which files were the replay's snapshot:

        - quarantine missing + staging present: finish the swap (carry
          any post-snapshot files out of the tomb, rename staging in);
        - quarantine present: the swap finished (or never started) —
          housekeeping only (seal the tomb, drop the sidecar).
        """
        sidecar = os.path.join(self.output_dir, _REPLAY_SIDECAR)
        if not os.path.exists(sidecar):
            return
        with open(sidecar) as f:
            doc = json.load(f)
        rid = doc["replay_id"]
        inventory = set(doc["inventory"])
        tomb = os.path.join(self.output_dir, f"_dead_letter_replayed_{rid}")
        staging = os.path.join(
            self.output_dir, f"_dead_letter_staging_{rid}"
        )
        if not os.path.exists(dl_dir):
            if not os.path.isdir(staging):
                raise ValueError(
                    f"replay sidecar {sidecar} present, quarantine and "
                    f"staging both missing — manual recovery needed"
                )
            if os.path.isdir(tomb):
                _move_fresh_parquet(tomb, staging, inventory)
            os.rename(staging, dl_dir)
        if os.path.isdir(tomb):
            _truncate_tomb(tomb)
        if os.path.exists(dl_dir) and not os.path.isdir(tomb):
            # crash AFTER the sidecar write but BEFORE the first rename:
            # the swap never started (no tomb, quarantine intact).  The
            # remainder staging dir written just before the sidecar is an
            # orphan — a retry rebuilds it in overwrite mode, but without
            # a retry it would live forever (ADVICE r10).  Same for the
            # plain-mode per-table delivery stagings.  The per-table
            # ``.done`` markers MUST survive this branch: the retry
            # recomputes the same replay_id (content + generation both
            # unchanged) and the markers are exactly what makes its
            # step-2 delivery idempotent.
            if os.path.isdir(staging):
                shutil.rmtree(staging)
            self._sweep_replay_stagings(rid)
        if os.path.isdir(tomb):
            # the swap COMPLETED (crash was between seal and sidecar
            # removal) — this replay_id is retired; finish the tail
            # housekeeping the crashed run never reached
            self._sweep_replay_stagings(rid)
            self._sweep_replay_markers(rid)
        os.remove(sidecar)

    def _plain_replay_append(
        self,
        routed: DataFrame,
        sink: str,
        part_cols: list,
        replay_id: int,
    ) -> None:
        """Idempotent replay delivery for PLAIN-mode sinks (ADVICE r10).

        ``mode('append')`` has no txn/batch guard, so a crash between a
        completed delivery and the quarantine swap would re-append the
        same routed rows on retry (the retry recomputes the SAME
        replay_id while the swap hasn't landed).  Instead: write to a
        staging dir (``overwrite`` — idempotent), move the parquet files
        into the sink under ``replay-<id>-``-prefixed names, then drop a
        per-replay ``.done`` marker inside the sink.  Retry semantics:

        - marker present: this table's delivery landed — skip entirely;
        - marker absent: sweep any ``replay-<id>-*`` leftovers of a
          half-finished move (file boundaries can differ between runs,
          so a partial old move must not mix with a new one), then
          re-stage and re-move.

        The marker leads with ``_`` so parquet readers ignore it; it is
        swept once the quarantine swap lands and the id retires.
        """
        marker = os.path.join(sink, f"_replay_{replay_id}.done")
        if os.path.exists(marker):
            return
        prefix = f"replay-{replay_id}-"
        if os.path.isdir(sink):
            for dirpath, _dirs, names in os.walk(sink):
                for nm in names:
                    if nm.startswith(prefix):
                        try:
                            os.remove(os.path.join(dirpath, nm))
                        except FileNotFoundError:
                            pass
        staging = os.path.join(
            self.output_dir,
            f"_replay_staging_{replay_id}_{os.path.basename(sink)}",
        )
        routed.write.mode("overwrite").partitionBy(*part_cols).parquet(
            staging
        )
        os.makedirs(sink, exist_ok=True)
        for dirpath, _dirs, names in os.walk(staging):
            rel = os.path.relpath(dirpath, staging)
            for nm in names:
                if not nm.endswith(".parquet"):
                    continue
                tgt_dir = sink if rel == "." else os.path.join(sink, rel)
                os.makedirs(tgt_dir, exist_ok=True)
                os.rename(
                    os.path.join(dirpath, nm),
                    os.path.join(tgt_dir, prefix + nm),
                )
        shutil.rmtree(staging)
        with open(marker, "w") as f:
            f.write("")

    def _sweep_replay_markers(self, replay_id: int) -> None:
        """Drop the plain-mode per-table ``.done`` markers for a RETIRED
        replay id (the swap landed; generation advanced; a future replay
        of even byte-identical content gets a fresh id)."""
        nm = f"_replay_{replay_id}.done"
        for spec in self.registry:
            p = os.path.join(self.output_dir, spec.table_name, nm)
            if os.path.exists(p):
                os.remove(p)

    def _sweep_replay_stagings(self, replay_id: int) -> None:
        """Remove per-table plain-mode delivery staging dirs for
        ``replay_id`` — overwrite-mode rebuilds make them safe to drop at
        any crash point."""
        if not os.path.isdir(self.output_dir):
            return
        pref = f"_replay_staging_{replay_id}_"
        for d in os.listdir(self.output_dir):
            if d.startswith(pref):
                shutil.rmtree(
                    os.path.join(self.output_dir, d), ignore_errors=True
                )

    def _replay_generation(self, dl_dir: str) -> int:
        """How many quarantine swaps have COMPLETED — the tomb count in
        plain mode, the ``replay-dl-*`` txn count in commit-log mode.
        Advances exactly when a swap lands, so it is stable across a
        crash-and-rerun of an in-flight replay and fresh for a genuinely
        new one."""
        if self.commit_log:
            return sum(
                1
                for t in CommitLogTable(self.spark, dl_dir).committed_txns()
                if t.startswith("replay-dl-")
            )
        return sum(
            1
            for d in os.listdir(self.output_dir)
            if d.startswith("_dead_letter_replayed_")
        )

    def maintain(
        self, max_files: int = 16, keep_last: int = 1,
        zorder_by: dict[str, list[str]] | None = None,
        min_age_seconds: float = 3600,
    ) -> dict:
        """Small-file maintenance for commit-log sinks: every history
        table (and the dead-letter table) whose live snapshot exceeds
        ``max_files`` is compacted in one atomic add+remove commit, then
        vacuumed down to ``keep_last`` time-travelable versions.  A
        streaming ingest appends one file set per micro-batch, so file
        count grows with uptime — this is the OPTIMIZE+VACUUM companion
        the Delta/Iceberg world runs on a schedule.  ``zorder_by`` maps
        table_name -> cluster columns for multi-column data skipping on
        the rewrite.  The compaction txn id derives from the table's
        current version, so a crashed-and-rerun maintain() is a no-op on
        tables it already compacted (txn replay) and simply resumes the
        rest.  Commit-log mode only: plain sinks have no manifest, so an
        in-place rewrite could never be atomic — callers get a loud error
        instead of a torn table."""
        if not self.commit_log:
            raise ValueError("maintain() requires commit_log=True sinks")
        report: dict[str, dict] = {}
        tables = [s.table_name for s in self.registry] + ["_dead_letter"]
        for name in tables:
            path = os.path.join(self.output_dir, name)
            t = CommitLogTable(self.spark, path)
            n_live = len(t.snapshot_files())
            if n_live <= max_files:
                continue
            v = t.version()
            t.compact(
                txn=f"maint-{v}",
                zorder_by=(zorder_by or {}).get(name),
            )
            # min_age_seconds guards files of a CONCURRENT in-flight
            # append (written before their commit) from a scheduled
            # maintain run racing the live stream
            swept = t.vacuum(
                keep_last=keep_last, min_age_seconds=min_age_seconds
            )
            report[name] = {
                "files_before": n_live,
                "files_after": len(t.snapshot_files()),
                "vacuumed": swept,
            }
        return report

    def _maybe_reload_registry(self) -> None:
        """Hot-swap the registry when its backing file changed (driver-side,
        once per micro-batch). Unsafe evolutions raise — failing the stream
        beats silently corrupting history tables mid-flight."""
        if not self.registry_path:
            return
        mtime = os.stat(self.registry_path).st_mtime_ns
        if mtime == self._registry_mtime:
            return
        new = SchemaRegistry.from_file(self.registry_path)
        # raises on unsafe change
        dropped, renamed = self.registry.check_evolution_full(
            new,
            allow_column_drops=self.allow_column_drops,
            tombstones=self._load_tombstones(),
            renames=self._load_renames(),
        )
        if dropped:
            self._persist_tombstones(dropped)
        if renamed:
            self._persist_renames(renamed)
        self.registry = new
        self._registry_mtime = mtime

    # -- drop tombstones -------------------------------------------------

    @property
    def _tombstone_path(self) -> str:
        return os.path.join(self.output_dir, "_schema_tombstones.json")

    def _load_tombstones(self) -> dict[str, str]:
        try:
            with open(self._tombstone_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _persist_tombstones(self, dropped: dict[str, str]) -> None:
        """Merge newly dropped columns into the sink-side tombstone file
        (``{"object.column": original_simple_type}``): the record of what
        the buried parquet files still physically hold, consulted when a
        later evolution re-adds one of these names."""
        merged = {**self._load_tombstones(), **dropped}
        os.makedirs(self.output_dir, exist_ok=True)
        tmp = self._tombstone_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f, indent=0, sort_keys=True)
        os.replace(tmp, self._tombstone_path)

    # -- rename continuity ------------------------------------------------

    @property
    def _renames_path(self) -> str:
        return os.path.join(self.output_dir, "_schema_renames.json")

    def _load_renames(self) -> dict[str, str]:
        try:
            with open(self._renames_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _persist_renames(self, renamed: dict[str, str]) -> None:
        """Merge admitted renames into the sink-side rename map
        (``{"object.new_name": old_name}``): the read-continuity record —
        history files written before the rename physically hold the OLD
        name (at the tombstoned type), and ``history()`` coalesces the
        chain of buried predecessors into the current column."""
        merged = {**self._load_renames(), **renamed}
        os.makedirs(self.output_dir, exist_ok=True)
        tmp = self._renames_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f, indent=0, sort_keys=True)
        os.replace(tmp, self._renames_path)

    def _rename_chain(self, obj: str, name: str,
                      renames: dict[str, str]) -> list[str]:
        """Buried predecessor names of ``obj.name``, most recent first
        (rename a→b→c yields ``["b", "a"]`` for c)."""
        chain: list[str] = []
        cur = name
        while f"{obj}.{cur}" in renames and len(chain) < 64:
            cur = renames[f"{obj}.{cur}"]
            chain.append(cur)
        return chain

    def stop(self) -> None:
        for q in self._queries:
            q.stop()
        self._queries.clear()

    # -- reads ---------------------------------------------------------------

    def history(self, object_name: str) -> DataFrame:
        spec = self.registry.get(object_name)
        if spec is None:
            raise KeyError(object_name)
        # rename continuity: files written before a column rename
        # physically hold the buried PREDECESSOR name(s) at their
        # tombstoned type — extend the explicit read schema with them and
        # coalesce each chain into the current column (old file: current
        # name reads NULL, predecessor carries the value; new file: the
        # reverse — exactly one leg is ever non-null because admission
        # retires the old name and forbids its re-add)
        chains, extra = self._continuity_fields(spec)
        part = (
            [T.StructField(self._partition_col, T.DateType(), True)]
            if self._partition_col else []
        )
        schema = T.StructType([*spec.schema.fields, *part, *extra])
        path = os.path.join(self.output_dir, spec.table_name)
        if self.commit_log:
            df = CommitLogTable(self.spark, path).read(schema)
        else:
            df = self.spark.read.schema(schema).parquet(path)
        return self._apply_continuity(df, spec, chains, extra)

    def _continuity_fields(
        self, spec: TableSpec
    ) -> tuple[dict[str, list[str]], list]:
        """Per current-column buried-predecessor chains + the extra
        StructFields (predecessor name at its tombstoned physical type)
        a continuity read must request."""
        renames = self._load_renames()
        if not renames:
            return {}, []
        from ..sources.registry import _SIMPLE_TO_SPARK

        ts = self._load_tombstones()
        chains: dict[str, list[str]] = {}
        extra = []
        for f in spec.schema.fields:
            chain = self._rename_chain(spec.object_name, f.name, renames)
            if not chain:
                continue
            chains[f.name] = chain
            for pred in chain:
                buried = _SIMPLE_TO_SPARK.get(
                    ts.get(f"{spec.object_name}.{pred}", ""), f.dataType
                )
                extra.append(T.StructField(pred, buried, True))
        return chains, extra

    @staticmethod
    def _apply_continuity(
        df: DataFrame, spec: TableSpec,
        chains: dict[str, list[str]], extra: list,
    ) -> DataFrame:
        if not chains:
            return df
        buried = {f.name for f in extra}
        cols = []
        for name in df.columns:
            if name in buried:
                continue
            f_chain = chains.get(name)
            if f_chain:
                tgt = spec.schema[name].dataType
                cols.append(
                    F.coalesce(
                        F.col(name),
                        *[F.col(p).cast(tgt) for p in f_chain],
                    ).alias(name)
                )
            else:
                cols.append(F.col(name))
        return df.select(*cols)

    def dead_letter(self) -> DataFrame:
        path = os.path.join(self.output_dir, "_dead_letter")
        if self.commit_log:
            # explicit schema so a fully-replayed (empty) quarantine still
            # reads as an empty typed frame instead of raising
            return CommitLogTable(self.spark, path).read(
                schema=DEAD_LETTER_SCHEMA
            )
        return self.spark.read.schema(DEAD_LETTER_SCHEMA).parquet(path)


def main(argv: list[str] | None = None) -> int:
    """CLI entry point for the ingest job — the engine's analogue of the
    reference's argparse surface (src/dataflow-cdc-stream.py:152-177,
    src/metadata.json:4-61), with local/cluster paths standing in for the
    GCP resources (pubsub topic -> --input-dir, schema bucket/path ->
    --registry, BigQuery dataset -> --output-dir, staging/temp locations ->
    --checkpoint-dir):

        python -m cdc_streamming___v2_spark.streaming.ingest \\
            --input-dir /logs --registry data-stream.json \\
            --output-dir /history [--trigger available-now] ...
    """
    import argparse

    from ..session import get_spark

    p = argparse.ArgumentParser(
        prog="python -m cdc_streamming___v2_spark.streaming.ingest",
        description="CDC log ingest: NDJSON envelope stream -> per-table "
        "append-only history tables + dead-letter sink.",
    )
    p.add_argument("--input-dir", required=True,
                   help="directory of (optionally gzipped) NDJSON CDC logs")
    p.add_argument("--registry", required=True,
                   help="path to a data-stream.json-style schema registry")
    p.add_argument("--output-dir", required=True,
                   help="root directory for history tables + dead letter")
    p.add_argument("--checkpoint-dir", default=None,
                   help="stream checkpoint root (default: OUTPUT/_checkpoints)")
    p.add_argument("--trigger", choices=["stream", "available-now"],
                   default="stream",
                   help="stream: run until interrupted; available-now: "
                   "drain current input, then exit (backfill_all analogue)")
    p.add_argument("--source-format", choices=["file", "kafka"],
                   default="file")
    p.add_argument("--envelope-format",
                   choices=_ENVELOPE_FORMATS,
                   default="datastream",
                   help="CDC record envelope: datastream (reference style), "
                   "one of the other producer dialects, or auto (per-line "
                   "dispatch for mixed streams)")
    p.add_argument("--kafka-option", action="append", default=[],
                   metavar="KEY=VALUE",
                   help="repeatable; e.g. kafka.bootstrap.servers=..., "
                   "subscribe=topic (kafka source only)")
    p.add_argument("--max-files-per-trigger", type=int, default=None,
                   help="micro-batch backpressure bound (files, or records "
                   "for kafka)")
    p.add_argument("--partition-granularity", choices=["day", "month"],
                   default="day")
    p.add_argument("--no-partition", action="store_true",
                   help="write history tables unpartitioned")
    p.add_argument("--commit-log", action="store_true",
                   help="manifest commit-log sinks (exactly-once)")
    p.add_argument("--hot-reload", action="store_true",
                   help="pick up registry file edits (new "
                   "tables / added columns / safe type widenings) "
                   "mid-stream")
    p.add_argument("--allow-column-drops", action="store_true",
                   help="admit hot-reload evolutions that DROP a column "
                   "(tombstoned in _schema_tombstones.json; re-adds under "
                   "an incompatible type are refused). Off by default: "
                   "an accidental drop fails the stream loudly")
    p.add_argument("--replay-dead-letters", action="store_true",
                   help="instead of ingesting: re-drive the quarantined "
                   "dead-letter rows through the (fixed) dispatcher into "
                   "the canonical tables, idempotently, then exit. "
                   "Run single-writer (drain/stop the ingest stream "
                   "first); rows quarantined by a concurrent writer "
                   "survive the replay's swap, but the swap itself can "
                   "fail loudly if it races the writer")
    p.add_argument("--maintain", action="store_true",
                   help="instead of ingesting: OPTIMIZE+VACUUM every "
                   "commit-log sink over --maintain-max-files live files, "
                   "then exit (requires --commit-log)")
    p.add_argument("--maintain-max-files", type=int, default=16)
    p.add_argument("--maintain-min-age", type=float, default=3600,
                   help="VACUUM age floor in seconds: unreferenced files "
                   "younger than this survive (protects a concurrent "
                   "in-flight append's not-yet-committed files)")
    p.add_argument("--cpus", default=None,
                   help="local[N] cores (default: SPARK_GRAFT_CPUS or all)")
    args = p.parse_args(argv)

    kafka_options = {}
    for kv in args.kafka_option:
        k, sep, v = kv.partition("=")
        if not sep:
            p.error(f"--kafka-option needs KEY=VALUE, got {kv!r}")
        kafka_options[k] = v
    if args.maintain and not args.commit_log:
        p.error("--maintain needs --commit-log")

    spark = get_spark("cdc-ingest", cpus=args.cpus)
    ingest = CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_file(args.registry),
        input_dir=args.input_dir,
        output_dir=args.output_dir,
        checkpoint_dir=args.checkpoint_dir
        or os.path.join(args.output_dir, "_checkpoints"),
        source_format=args.source_format,
        envelope_format=args.envelope_format,
        kafka_options=kafka_options,
        commit_log=args.commit_log,
        max_files_per_trigger=args.max_files_per_trigger,
        partition_granularity=(
            None if args.no_partition else args.partition_granularity
        ),
        registry_path=args.registry if args.hot_reload else None,
        allow_column_drops=args.allow_column_drops,
    )
    if args.replay_dead_letters:
        stats = ingest.replay_dead_letters()
        print(json.dumps(stats), flush=True)
        return 0
    if args.maintain:
        report = ingest.maintain(
            max_files=args.maintain_max_files,
            min_age_seconds=args.maintain_min_age,
        )
        print(json.dumps(report), flush=True)
        return 0
    if args.trigger == "available-now":
        ingest.run_available_single_pass()
    else:
        ingest.start_single_pass().awaitTermination()
    return 0


def _partition_bucket(update_date, dtype, granularity: str):
    """The partition value (a DATE) of a history row's ``update_date``.

    A TIMESTAMP column is bucketed directly, with no per-row format and
    re-parse; a STRING one is parsed to a timestamp first (the reference
    registry declares one table's ``update_date`` as STRING,
    data-stream.json:17)."""
    if isinstance(dtype, T.TimestampType):
        ts = update_date
    else:
        ts = F.to_timestamp(update_date.cast("string"))
    if granularity == "day":
        return F.to_date(ts)
    return F.to_date(F.date_trunc("month", ts))


if __name__ == "__main__":
    raise SystemExit(main())
