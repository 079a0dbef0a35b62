"""Datastream-style CDC envelope handling.

Envelope shape (FIXTURES.md §2; consumed fields exactly as the reference
reads them, src/dataflow-cdc-stream.py:64-69):

    {"object": "...", "source_timestamp": "...",
     "source_metadata": {"change_type": "INSERT|UPDATE-INSERT|DELETE"},
     "payload": {...full row image...}}

Parsing strategy (Spark-first): read each NDJSON line as raw text and pull
the top-level envelope fields with one ``json_tuple`` (plus one
``get_json_object`` for ``change_type`` inside ``source_metadata``) —
crucially ``payload`` comes out as the RAW JSON STRING, which lets ONE
stream with ONE fixed schema carry rows destined for tables with DIFFERENT
schemas. Each route then applies its own ``from_json(payload_json,
table_schema)``. All JVM-side, no Python UDFs.

This solves the "per-table dynamic schemas in one stream" problem flagged in
SURVEY.md §7 without custom Catalyst machinery.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Canonical envelope columns extracted from the raw line.
ENVELOPE_COLS = ("object", "action", "update_date_raw", "payload_json", "raw")

# Column-expression memo (r12): every parser's projection is an UNBOUND
# expression tree parameterized only by (line_col, default_table) — but
# building it costs hundreds-to-thousands of py4j round-trips (measured
# 3-6 s for the 12-dialect auto dispatcher, paid at EVERY stream start /
# replay / conformance probe: the dominant cost of the CDC lifecycle
# queries).  Column objects are immutable and reusable across DataFrames
# within a JVM, so each parser builds its column lists ONCE per process
# and every later call is two .select()s over cached expressions.  The
# cache is keyed per-parser+args; a worst-case concurrent double-build
# is harmless (last write wins, both values equivalent).  Each entry
# remembers the JVM view its Columns were built on and is rebuilt when
# the process has since started a new gateway: a Column is a handle into
# one JVM, and using it after that JVM is gone fails the query.
_COL_MEMO: dict = {}


def _memo_cols(key, build):
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    entry = _COL_MEMO.get(key)
    if entry is None or entry[0] is not jvm:
        entry = _COL_MEMO[key] = (jvm, build())
    return entry[1]


def parse_envelope(raw_lines: DataFrame, line_col: str = "value") -> DataFrame:
    """Raw text lines -> envelope columns. Malformed lines yield nulls
    (routed to dead-letter downstream) instead of failing the stream — the
    reference instead re-raises and retries the bundle forever
    (src/dataflow-cdc-stream.py:99-100); dead-lettering is strictly better.
    """
    # json_tuple parses the line ONCE for all four top-level fields (vs one
    # full re-parse per get_json_object call); nested objects come out as
    # their raw JSON text, which is exactly what the routing design needs
    # for payload. Only source_metadata (a tiny string) needs a second
    # parse for change_type. Malformed lines yield nulls all the way.
    def build():
        line = F.col(line_col)
        s1 = [
            F.json_tuple(
                line, "object", "source_timestamp", "source_metadata",
                "payload",
            ).alias("object", "update_date_raw", "meta_json", "payload_json"),
            line.alias("raw"),
        ]
        s2 = [
            "object",
            F.get_json_object(F.col("meta_json"), "$.change_type").alias(
                "action"
            ),
            "update_date_raw",
            "payload_json",
            "raw",
        ]
        return s1, s2

    s1, s2 = _memo_cols(("ds", line_col), build)
    return raw_lines.select(*s1).select(*s2)


# Debezium op codes -> the engine's canonical action vocabulary (the one
# the reference's registry/sink path speaks, src/dataflow-cdc-stream.py:64-69).
# 'r' is a snapshot read — semantically an initial-load INSERT.
DEBEZIUM_ACTIONS = (
    ("c", "INSERT"),
    ("u", "UPDATE-INSERT"),
    ("d", "DELETE"),
    ("r", "INSERT"),
)


def parse_envelope_debezium(
    raw_lines: DataFrame, line_col: str = "value"
) -> DataFrame:
    """Debezium change records -> the SAME canonical envelope columns as
    ``parse_envelope``, so the entire downstream pipeline (registry route,
    from_json payload decode, enrich, sinks, dead-letter) is shared
    verbatim between the two producer ecosystems (VERDICT r4 #1: the
    north-star "Debezium/Kafka integration" was an envelope-adapter gap,
    not a source gap).

    Field mapping (Debezium's public envelope: ``op`` in c/u/d/r,
    ``before``/``after`` row images, ``ts_ms`` epoch millis,
    ``source.table``):

    - ``op`` c/u/d/r -> action INSERT / UPDATE-INSERT / DELETE / INSERT
      ('r' = snapshot read = initial-load insert); unknown/absent op
      yields a NULL action row that dead-letters downstream.
    - payload = ``after`` image; for deletes (``after`` is null by the
      Debezium contract) the ``before`` image — richer than the
      reference's blank-row DELETE (README.md:57): consumers get the full
      last-known row, and key columns are present either way.
    - ``ts_ms`` -> ``update_date_raw`` as a UTC
      ``yyyy-MM-dd HH:mm:ss.SSS`` string, so the registry's STRING and
      TIMESTAMP update_date declarations both coerce through
      ``update_date_expr`` exactly as with the Datastream envelope.
    - ``source.table`` -> object (the registry routing key).

    Both wire forms are accepted: the schema-wrapped Kafka Connect shape
    ``{"schema": ..., "payload": {op, ...}}`` and the bare record (the
    common ExtractNewRecordState-less payload after schemas are disabled)
    — ``coalesce($.payload, line)`` normalizes to the record body first.
    All JVM-side json expressions; malformed lines yield nulls (routed to
    dead-letter), never a stream failure.
    """
    def build():
        line = F.col(line_col)
        body = F.coalesce(F.get_json_object(line, "$.payload"), line)
        s1 = [
            F.json_tuple(body, "op", "ts_ms", "before", "after").alias(
                "op", "ts_ms", "before", "after"
            ),
            F.get_json_object(body, "$.source.table").alias("object"),
            line.alias("raw"),
        ]
        action: Column = F.lit(None).cast("string")
        for code, act in DEBEZIUM_ACTIONS:
            action = F.when(F.col("op") == code, F.lit(act)).otherwise(action)
        update_raw = F.date_format(
            F.timestamp_millis(F.col("ts_ms").cast("long")),
            "yyyy-MM-dd HH:mm:ss.SSS",
        )
        payload = F.when(
            F.col("op") == "d", F.coalesce(F.col("after"), F.col("before"))
        ).otherwise(F.col("after"))
        s2 = [
            "object",
            action.alias("action"),
            update_raw.alias("update_date_raw"),
            payload.alias("payload_json"),
            "raw",
        ]
        return s1, s2

    s1, s2 = _memo_cols(("dbz", line_col), build)
    return raw_lines.select(*s1).select(*s2)


# Maxwell type values -> canonical actions.  bootstrap-insert is the
# initial-load insert; bootstrap-start/complete markers carry no data and
# fall through to a NULL action (dead-letter), as do DDL rows.
MAXWELL_ACTIONS = (
    ("insert", "INSERT"),
    ("update", "UPDATE-INSERT"),
    ("delete", "DELETE"),
    ("bootstrap-insert", "INSERT"),
)


def parse_envelope_maxwell(
    raw_lines: DataFrame, line_col: str = "value"
) -> DataFrame:
    """Maxwell's daemon change records (the third major OSS CDC producer)
    -> the SAME canonical envelope columns as ``parse_envelope``.

    Field mapping (Maxwell's public JSON format: ``type`` in
    insert/update/delete/bootstrap-*, ``data`` full row image, ``old``
    changed-column before image, ``ts`` epoch SECONDS, ``table``):

    - ``type`` insert/update/delete/bootstrap-insert -> INSERT /
      UPDATE-INSERT / DELETE / INSERT; anything else (bootstrap-start,
      DDL) yields NULL action -> dead-letter.
    - payload = ``data`` — Maxwell puts the FULL row image there for
      deletes too, so no before-image fallback is needed.
    - ``ts`` -> update_date_raw as a UTC ``yyyy-MM-dd HH:mm:ss`` string
      (second precision is Maxwell's contract).
    - ``table`` -> object (registry routing key).
    """
    def build():
        line = F.col(line_col)
        s1 = [
            F.json_tuple(line, "table", "type", "ts", "data").alias(
                "object", "mtype", "ts_s", "payload_json"
            ),
            line.alias("raw"),
        ]
        action: Column = F.lit(None).cast("string")
        for code, act in MAXWELL_ACTIONS:
            action = F.when(F.col("mtype") == code, F.lit(act)).otherwise(
                action
            )
        update_raw = F.date_format(
            F.timestamp_seconds(F.col("ts_s").cast("long")),
            "yyyy-MM-dd HH:mm:ss",
        )
        s2 = [
            "object",
            action.alias("action"),
            update_raw.alias("update_date_raw"),
            "payload_json",
            "raw",
        ]
        return s1, s2

    s1, s2 = _memo_cols(("maxwell", line_col), build)
    return raw_lines.select(*s1).select(*s2)


CANAL_ACTIONS = (
    ("INSERT", "INSERT"),
    ("UPDATE", "UPDATE-INSERT"),
    ("DELETE", "DELETE"),
)


def parse_envelope_canal(
    raw_lines: DataFrame, line_col: str = "value"
) -> DataFrame:
    """Alibaba Canal flat-JSON change records -> the canonical envelope.

    Canal BATCHES row images: ``data`` is an ARRAY of row objects sharing
    one ``type``/``es``/``table`` header, so one wire message fans out to
    one canonical-envelope row per element.  ``from_json(.., array<string>)``
    keeps each element as its RAW JSON text (the routing design's payload
    contract) and ``explode_outer`` preserves malformed/DDL lines (null or
    empty ``data``) as null-payload rows that dead-letter downstream
    instead of vanishing.

    Field mapping (Canal's public flat-message format): ``type``
    INSERT/UPDATE/DELETE (DDL types like CREATE/ALTER -> NULL action ->
    dead-letter), ``data[i]`` -> payload, ``es`` epoch millis (the source
    db execute time; ``ts`` is only Canal's processing time) ->
    update_date_raw, ``table`` -> object.
    """
    def build():
        line = F.col(line_col)
        s1 = [
            F.json_tuple(line, "table", "type", "es", "data").alias(
                "object", "ctype", "es_ms", "data_raw"
            ),
            line.alias("raw"),
        ]
        action: Column = F.lit(None).cast("string")
        for code, act in CANAL_ACTIONS:
            action = F.when(F.col("ctype") == code, F.lit(act)).otherwise(
                action
            )
        update_raw = F.date_format(
            F.timestamp_millis(F.col("es_ms").cast("long")),
            "yyyy-MM-dd HH:mm:ss.SSS",
        )
        s2 = [
            "object",
            action.alias("action"),
            update_raw.alias("update_date_raw"),
            F.explode_outer(
                F.from_json(F.col("data_raw"), "array<string>")
            ).alias("payload_json"),
            "raw",
        ]
        return s1, s2

    s1, s2 = _memo_cols(("canal", line_col), build)
    return raw_lines.select(*s1).select(*s2)


# SQL Server CDC __$operation codes -> canonical actions.  1 = delete,
# 2 = insert, 4 = update AFTER image; 3 is the update BEFORE image — a
# companion row that must NOT apply (the op-4 row carries the new state),
# so it falls through to NULL action -> dead-letter, like OGG truncates.
MSSQL_ACTIONS = (
    ("1", "DELETE"),
    ("2", "INSERT"),
    ("4", "UPDATE-INSERT"),
)


def parse_envelope_sqlserver(
    raw_lines: DataFrame,
    line_col: str = "value",
    default_table: str | None = None,
) -> DataFrame:
    """SQL Server CDC change-table records — the seventh producer — ->
    the canonical envelope columns.

    SQL Server's CDC contract (``cdc.fn_cdc_get_all_changes_*``) is FLAT:
    the captured columns sit beside ``__$``-prefixed metadata
    (``__$operation`` 1/2/3/4, ``__$start_lsn``, ``__$seqval``,
    ``__$update_mask``); there is no nested row image.  Exporters add the
    capture instance and the commit time (``sys.fn_cdc_map_lsn_to_time``
    over ``__$start_lsn``) as ``__$capture_instance`` /
    ``__$commit_time`` when shipping multi-table JSON streams.

    - ``__$operation`` 1/2/4 -> DELETE / INSERT / UPDATE-INSERT; 3 (the
      update BEFORE image) and anything else -> NULL action ->
      dead-letter.  Flat deletes carry the full last-known row — richer
      than the reference's blank-row DELETE, same as the Debezium path.
    - payload = the WHOLE line: the envelope is flat, and the routed
      ``from_json(payload_json, table_schema)`` decode drops the ``__$``
      metadata keys for free because they are not in any table schema —
      no JSON rewriting needed.
    - ``__$commit_time`` (fallback ``tran_end_time``, the
      lsn_time_mapping column name) -> update_date_raw verbatim (already
      ``yyyy-MM-dd HH:mm:ss[.SSS...]``).
    - object = ``__$capture_instance`` with the ``dbo_`` schema prefix
      stripped (capture instances default to ``schema_table``), falling
      back to ``default_table`` for single-table exports.
    """
    def build():
        line = F.col(line_col)
        s1 = [
            F.json_tuple(
                line,
                "__$operation",
                "__$capture_instance",
                "__$commit_time",
                "tran_end_time",
            ).alias("op", "capture", "commit_ts", "tran_ts"),
            line.alias("raw"),
        ]
        action: Column = F.lit(None).cast("string")
        for code, act in MSSQL_ACTIONS:
            action = F.when(F.col("op") == code, F.lit(act)).otherwise(action)
        obj = F.coalesce(
            F.regexp_replace(F.col("capture"), "^dbo_", ""),
            F.lit(default_table).cast("string"),
        )
        s2 = [
            obj.alias("object"),
            action.alias("action"),
            F.coalesce(F.col("commit_ts"), F.col("tran_ts")).alias(
                "update_date_raw"
            ),
            F.col("raw").alias("payload_json"),
            "raw",
        ]
        return s1, s2

    s1, s2 = _memo_cols(("mssql", line_col, default_table), build)
    return raw_lines.select(*s1).select(*s2)


def parse_envelope_auto(
    raw_lines: DataFrame, line_col: str = "value"
) -> DataFrame:
    """Per-LINE envelope dispatch for mixed streams: a topic/directory
    carrying any mix of Datastream, Debezium, GoldenGate, Maxwell, and
    Canal records parses into one canonical envelope frame.  Detection
    probes, in precedence order:

    - Debezium iff the line has an ``op`` field (bare or under
      ``$.payload``);
    - GoldenGate iff it has an ``op_type`` field;
    - AWS DMS iff it has ``$.metadata.operation``;
    - SQL Server CDC iff it has a ``__$operation`` field (the flat
      change-table contract);
    - MongoDB change stream iff it has an ``operationType`` field;
    - wal2json v2 iff it has an ``action`` field (the single-letter
      logical-decoding verb);
    - Airbyte iff it has ``$.record.stream`` (the protocol RECORD shape;
      probed before the ``type`` checks because Airbyte messages also
      carry a top-level ``type``);
    - DynamoDB Streams iff it has ``eventName`` + a ``dynamodb`` body
      (typed-AttributeValue images);
    - flattened Debezium (ExtractNewRecordState SMT) iff it has a
      ``__op`` or ``__deleted`` field (plain SMT rows WITHOUT added
      metadata are indistinguishable from generic JSON and fall to the
      Datastream path — documented);
    - Canal iff it has a ``type`` field AND ``$.data[0]`` resolves (data
      is an ARRAY — get_json_object's [0] path is null on objects);
    - Maxwell iff it has ``type`` + object-shaped ``data``;
    - everything else takes the Datastream path (whose unknown-field
      lines null out and dead-letter).

    Plan shape: filtered narrow projections of the same source,
    unioned — no shuffle, no join; each row is json-parsed by exactly one
    branch plus the cheap probes.  In single-pass ingest the downstream
    per-table routing persists the unioned envelope batch, so the source
    is still scanned once per micro-batch.

    First-match-wins is expressed as ``probe_k AND NOT probe_1 ... AND
    NOT probe_{k-1}`` over the RAW probes (r12): algebraically identical
    to the previous nested-flag form (each old flag was
    ``~flag_prev & probe``, and De Morgan reduces the negation chain to
    raw-probe negations), but the expression tree is O(n^2) small instead
    of doubling per dialect — the old form embedded a COPY of every
    earlier flag, ~2^12 probe duplicates by the last branch, which
    dominated plan build/analysis time for every stream start."""

    def build_flags():
        line = F.col(line_col)

        def has(path: str) -> Column:
            return F.get_json_object(line, path).isNotNull()

        probes = [
            ("dbz", has("$.op") | has("$.payload.op")),
            ("ogg", has("$.op_type")),
            ("dms", has("$.metadata.operation")),
            ("mssql", has("$.__$operation")),
            ("mongo", has("$.operationType")),
            ("w2j", has("$.action")),
            ("aby", has("$.record.stream")),
            ("ddb", has("$.eventName") & has("$.dynamodb")),
            ("dbzf", has("$.__op") | has("$.__deleted")),
            ("canal", has("$.type") & has("$.data[0]")),
            ("maxwell", has("$.type") & has("$.data")),
        ]
        flags = {}
        none_before = None
        for tag, probe in probes:
            flags[tag] = probe if none_before is None else (
                none_before & probe
            )
            none_before = (
                ~probe if none_before is None else (none_before & ~probe)
            )
        flags["ds"] = none_before
        return flags

    flags = _memo_cols(("auto-flags", line_col), build_flags)
    ds = parse_envelope(raw_lines.filter(flags["ds"]), line_col)
    dz = parse_envelope_debezium(raw_lines.filter(flags["dbz"]), line_col)
    og = parse_envelope_goldengate(raw_lines.filter(flags["ogg"]), line_col)
    dm = parse_envelope_aws_dms(raw_lines.filter(flags["dms"]), line_col)
    ms = parse_envelope_sqlserver(raw_lines.filter(flags["mssql"]), line_col)
    mg = parse_envelope_mongo(raw_lines.filter(flags["mongo"]), line_col)
    w2 = parse_envelope_wal2json(raw_lines.filter(flags["w2j"]), line_col)
    ab = parse_envelope_airbyte(raw_lines.filter(flags["aby"]), line_col)
    dd = parse_envelope_dynamodb(raw_lines.filter(flags["ddb"]), line_col)
    df_ = parse_envelope_debezium_flat(
        raw_lines.filter(flags["dbzf"]), line_col
    )
    mx = parse_envelope_maxwell(raw_lines.filter(flags["maxwell"]), line_col)
    cn = parse_envelope_canal(raw_lines.filter(flags["canal"]), line_col)
    return (
        ds.unionByName(dz)
        .unionByName(og)
        .unionByName(dm)
        .unionByName(ms)
        .unionByName(mg)
        .unionByName(w2)
        .unionByName(ab)
        .unionByName(dd)
        .unionByName(df_)
        .unionByName(mx)
        .unionByName(cn)
    )


def update_date_expr(spark_type) -> Column:
    """Coerce the raw source_timestamp per the registry-declared type.

    Preserves the reference registry's quirk: update_date is STRING for one
    table and TIMESTAMP for another (data-stream.json:17 vs :31).
    """
    from pyspark.sql import types as T

    raw = F.col("update_date_raw")
    if isinstance(spark_type, T.TimestampType):
        return F.to_timestamp(raw)
    return raw.cast(spark_type)


AWS_DMS_ACTIONS = (
    ("insert", "INSERT"),
    ("update", "UPDATE-INSERT"),
    ("delete", "DELETE"),
    ("load", "INSERT"),  # full-load rows are inserts
)


def parse_envelope_aws_dms(
    raw_lines: DataFrame, line_col: str = "value"
) -> DataFrame:
    """AWS DMS (Database Migration Service) JSON change records — the
    fifth major CDC producer — -> the canonical envelope columns.

    Field mapping (DMS's public Kinesis/S3 JSON format: top-level
    ``data`` row image + ``metadata`` with ``record-type``,
    ``operation`` in insert/update/delete/load, ISO-8601 microsecond
    ``timestamp``, ``table-name``):

    - data-record operations map via AWS_DMS_ACTIONS (``load`` = the
      full-load phase -> INSERT); ``record-type`` != 'data' (control
      records: DDL, checkpoints) -> NULL action -> dead-letter.
    - payload = ``data`` (full row image on every operation — DMS's
      contract, like Maxwell's).
    - ``metadata.timestamp`` (ISO-8601 ...Z, microseconds) ->
      update_date_raw as ``yyyy-MM-dd HH:mm:ss.SSSSSS``.
    - ``metadata.table-name`` -> object (registry routing key).
    """
    def build():
        line = F.col(line_col)
        s1 = [
            F.json_tuple(line, "data", "metadata").alias(
                "payload_json", "meta"
            ),
            line.alias("raw"),
        ]
        s2 = [
            "payload_json",
            "raw",
            F.json_tuple(
                F.col("meta"), "record-type", "operation", "timestamp",
                "table-name",
            ).alias("rtype", "op", "ts_iso", "object"),
        ]
        action: Column = F.lit(None).cast("string")
        for code, act in AWS_DMS_ACTIONS:
            action = F.when(
                (F.col("rtype") == "data") & (F.col("op") == code), F.lit(act)
            ).otherwise(action)
        update_raw = F.date_format(
            F.to_timestamp(
                F.col("ts_iso"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
            ),
            "yyyy-MM-dd HH:mm:ss.SSSSSS",
        )
        s3 = [
            "object",
            action.alias("action"),
            update_raw.alias("update_date_raw"),
            "payload_json",
            "raw",
        ]
        return s1, s2, s3

    s1, s2, s3 = _memo_cols(("dms", line_col), build)
    return raw_lines.select(*s1).select(*s2).select(*s3)


OGG_ACTIONS = (
    ("I", "INSERT"),
    ("U", "UPDATE-INSERT"),
    ("D", "DELETE"),
)


def parse_envelope_goldengate(
    raw_lines: DataFrame, line_col: str = "value"
) -> DataFrame:
    """Oracle GoldenGate (Big Data JSON handler) change records — the
    sixth major CDC producer — -> the canonical envelope columns.

    Field mapping (OGG's public JSON format: ``op_type`` I/U/D,
    ``before``/``after`` row images, ``op_ts`` already in
    ``yyyy-MM-dd HH:mm:ss.SSSSSS``, ``table`` as ``SCHEMA.TABLE``):

    - op_type via OGG_ACTIONS; anything else (e.g. a truncate 'T')
      -> NULL action -> dead-letter;
    - payload = ``after`` with ``before`` fallback (deletes carry only
      the before image in OGG's default config);
    - ``op_ts`` needs no reformatting — it IS the canonical layout;
    - object = ``table`` with the schema prefix stripped
      (``substring_index(table, '.', -1)``), the registry routing key.
    """
    def build():
        line = F.col(line_col)
        s1 = [
            F.json_tuple(
                line, "table", "op_type", "op_ts", "before", "after"
            ).alias("tbl", "op", "ts", "before", "after"),
            line.alias("raw"),
        ]
        action: Column = F.lit(None).cast("string")
        for code, act in OGG_ACTIONS:
            action = F.when(F.col("op") == code, F.lit(act)).otherwise(action)
        s2 = [
            F.substring_index(F.col("tbl"), ".", -1).alias("object"),
            action.alias("action"),
            F.col("ts").alias("update_date_raw"),
            F.coalesce(F.col("after"), F.col("before")).alias("payload_json"),
            "raw",
        ]
        return s1, s2

    s1, s2 = _memo_cols(("ogg", line_col), build)
    return raw_lines.select(*s1).select(*s2)


MONGO_ACTIONS = (
    ("insert", "INSERT"),
    ("update", "UPDATE-INSERT"),
    ("replace", "UPDATE-INSERT"),
    ("delete", "DELETE"),
)


def parse_envelope_mongo(
    raw_lines: DataFrame,
    line_col: str = "value",
    default_table: str | None = None,
) -> DataFrame:
    """MongoDB change-stream events — the eighth producer — -> the
    canonical envelope columns.

    Field mapping (the public change-stream document shape:
    ``operationType``, ``ns.db``/``ns.coll``, ``fullDocument``,
    ``updateDescription.updatedFields``, ``documentKey``, ``wallTime``,
    ``clusterTime``):

    - ``operationType`` via MONGO_ACTIONS (``replace`` is a full-image
      upsert -> UPDATE-INSERT); DDL-ish events (``drop``, ``rename``,
      ``invalidate``, ``dropDatabase``) -> NULL action -> dead-letter.
    - payload = ``fullDocument`` (always present on insert/replace, and
      on update when the exporter runs with ``fullDocument:
      'updateLookup'``), falling back for non-lookup updates to
      ``documentKey`` MERGED with ``updateDescription.updatedFields``
      (what every change-stream consumer does — the key is never inside
      the partial image, so an unmerged fallback would decode keyless
      update rows), and finally ``documentKey`` alone (deletes carry
      only the key — the reference's blank-row DELETE made
      key-recoverable).
    - timestamp: ``wallTime`` as either relaxed ISO-8601 or extended-JSON
      ``{"$date": ...}``, with canonical-layout and bare-ISO parses
      coalesced; fallback ``clusterTime.$timestamp.t`` epoch seconds.
    - object = ``ns.coll`` (fallback ``default_table``).
    """
    def build():
        line = F.col(line_col)
        s1 = [
            F.json_tuple(
                line,
                "operationType",
                "ns",
                "fullDocument",
                "updateDescription",
                "documentKey",
                "wallTime",
                "clusterTime",
            ).alias("op", "ns", "full", "upd", "key", "wall", "cluster"),
            line.alias("raw"),
        ]
        action: Column = F.lit(None).cast("string")
        for code, act in MONGO_ACTIONS:
            action = F.when(F.col("op") == code, F.lit(act)).otherwise(action)
        wall_iso = F.coalesce(
            F.get_json_object(F.col("wall"), "$['$date']"), F.col("wall")
        )
        wall_ts = F.coalesce(
            F.to_timestamp(wall_iso, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
            F.to_timestamp(wall_iso),
        )
        cluster_ts = F.from_unixtime(
            F.get_json_object(F.col("cluster"), "$['$timestamp'].t").cast(
                "long"
            )
        )
        update_raw = F.coalesce(
            F.date_format(wall_ts, "yyyy-MM-dd HH:mm:ss.SSS"), cluster_ts
        )
        s2 = [
            F.coalesce(
                F.get_json_object(F.col("ns"), "$.coll"),
                F.lit(default_table).cast("string"),
            ).alias("object"),
            action.alias("action"),
            update_raw.alias("update_date_raw"),
            F.coalesce(
                F.col("full"),
                F.when(
                    F.get_json_object(F.col("upd"), "$.updatedFields").isNull()
                    | (
                        F.get_json_object(F.col("upd"), "$.updatedFields")
                        == "{}"
                    ),
                    F.col("key"),
                ).otherwise(
                    F.concat(
                        F.regexp_replace(F.col("key"), "\\}\\s*$", ""),
                        F.lit(","),
                        F.regexp_replace(
                            F.get_json_object(
                                F.col("upd"), "$.updatedFields"
                            ),
                            "^\\s*\\{",
                            "",
                        ),
                    )
                ),
                F.col("key"),
            ).alias("payload_json"),
            "raw",
        ]
        return s1, s2

    s1, s2 = _memo_cols(("mongo", line_col, default_table), build)
    return raw_lines.select(*s1).select(*s2)


def _esc_json_string(col: Column) -> Column:
    """Escape a decoded string value for re-embedding in rebuilt JSON.

    Backslash and double-quote re-escape, and (ADVICE r6) every raw
    control character U+0000-U+001F re-emits as \\u00XX: ``from_json``
    decodes ``\\n``/``\\t``/... in the source envelope to REAL control
    chars, and re-emitting them raw would make the rebuilt payload_json
    invalid JSON that silently nulls at the routed permissive decode.
    Backslash-escape runs first, so the control escapes never
    double-escape.  Shared by the wal2json and DynamoDB rebuilders.
    """
    out = F.regexp_replace(
        F.regexp_replace(col, "\\\\", "\\\\\\\\"), '"', '\\\\"'
    )
    for i in range(0x20):
        out = F.regexp_replace(out, chr(i), "\\\\u%04x" % i)
    return out



WAL2JSON_ACTIONS = (
    ("I", "INSERT"),
    ("U", "UPDATE-INSERT"),
    ("D", "DELETE"),
)

_W2J_COLS = "array<struct<name:string,type:string,value:string>>"

# wal2json column types whose values are raw JSON tokens (numerics,
# booleans, json) — everything else re-quotes with escaping
_W2J_RAW_TYPES = (
    "^(integer|bigint|smallint|real|oid|boolean|json|jsonb"
    "|numeric|decimal|double)"
)


def parse_envelope_wal2json(
    raw_lines: DataFrame,
    line_col: str = "value",
    default_table: str | None = None,
) -> DataFrame:
    """PostgreSQL wal2json (format-version 2) logical-decoding records —
    the ninth producer — -> the canonical envelope columns.

    Field mapping (the public v2 contract: one JSON object per change,
    ``action`` I/U/D plus transaction markers B/C, truncates T and
    messages M; ``columns`` = the new row image as an array of
    {name, type, value}; ``identity`` = the replica-identity (key)
    columns; ``schema``/``table``; ``timestamp`` with a numeric UTC
    offset):

    - ``action`` via WAL2JSON_ACTIONS; B/C/T/M (and anything else) ->
      NULL action -> dead-letter — applying a BEGIN marker as a row
      would corrupt the table.
    - payload: the {name, type, value} array pivots to a JSON object by
      TYPE-AWARE reconstruction — numeric/boolean/json-typed values are
      emitted as raw tokens, everything else re-quotes with escaping —
      because Spark's ``from_json`` does NOT coerce quoted numerics (a
      map_from_entries string pivot nulls every numeric column at the
      routed decode; caught before shipping).  I/U use ``columns``
      (wal2json's full new image); D falls back to ``identity``
      (deletes carry only the replica identity — key-recoverable, the
      Mongo documentKey analog).
    - ``timestamp`` parses with its numeric offset and reformats to the
      canonical layout.
    - object = ``table`` (v2 keeps ``schema`` in its own field — no
      prefix stripping needed), falling back to ``default_table``.
    """
    def build():
        line = F.col(line_col)
        s1 = [
            F.json_tuple(
                line, "action", "table", "timestamp", "columns", "identity"
            ).alias("op", "tbl", "ts", "cols", "ident"),
            line.alias("raw"),
        ]
        action: Column = F.lit(None).cast("string")
        for code, act in WAL2JSON_ACTIONS:
            action = F.when(F.col("op") == code, F.lit(act)).otherwise(action)

        _esc = _esc_json_string

        def obj_of(arr_json: Column) -> Column:
            entries = F.from_json(arr_json, _W2J_COLS)

            def pair(c):
                raw_ok = F.lower(c["type"]).rlike(_W2J_RAW_TYPES)
                val = (
                    F.when(c["value"].isNull(), F.lit("null"))
                    .when(raw_ok, c["value"])
                    .otherwise(
                        F.concat(F.lit('"'), _esc(c["value"]), F.lit('"'))
                    )
                )
                return F.concat(F.lit('"'), _esc(c["name"]), F.lit('":'), val)

            return F.when(
                entries.isNotNull(),
                F.concat(
                    F.lit("{"),
                    F.concat_ws(",", F.transform(entries, pair)),
                    F.lit("}"),
                ),
            )

        ts = F.coalesce(
            F.to_timestamp(F.col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSSX"),
            F.to_timestamp(F.col("ts"), "yyyy-MM-dd HH:mm:ss.SSSX"),
            F.to_timestamp(F.col("ts")),
        )
        s2 = [
            F.coalesce(
                F.col("tbl"), F.lit(default_table).cast("string")
            ).alias("object"),
            action.alias("action"),
            F.date_format(ts, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "update_date_raw"
            ),
            F.coalesce(obj_of(F.col("cols")), obj_of(F.col("ident"))).alias(
                "payload_json"
            ),
            "raw",
        ]
        return s1, s2

    s1, s2 = _memo_cols(("w2j", line_col, default_table), build)
    return raw_lines.select(*s1).select(*s2)


def parse_envelope_airbyte(
    raw_lines: DataFrame,
    line_col: str = "value",
    default_table: str | None = None,
) -> DataFrame:
    """Airbyte protocol RECORD messages (the tenth producer) -> the
    canonical envelope columns.  Airbyte is the dominant OSS ELT tool;
    its CDC sources (Postgres/MySQL/MSSQL, Debezium underneath) ship
    rows as protocol messages with documented CDC metadata columns.

    Field mapping (the public Airbyte protocol:
    ``{"type":"RECORD","record":{"stream","namespace","emitted_at",
    "data":{...,"_ab_cdc_updated_at","_ab_cdc_deleted_at"}}}``):

    - only ``type = "RECORD"`` lines with a ``record.data`` object carry
      rows; STATE / LOG / TRACE / CATALOG messages -> NULL action ->
      dead-letter (applying a STATE checkpoint as a row would corrupt
      the table).
    - action: ``_ab_cdc_deleted_at`` non-null -> DELETE;
      ``_ab_cdc_updated_at`` present -> UPDATE-INSERT (Airbyte's CDC
      dedup does not distinguish insert from update — the Datastream
      UPDATE-INSERT semantic exactly); neither (full-refresh / non-CDC
      incremental record) -> INSERT.
    - payload = ``record.data`` verbatim; the ``_ab_cdc_*`` metadata
      keys drop at the routed from_json decode because no table schema
      declares them (the SQL Server ``__$`` precedent).
    - update_date: ``_ab_cdc_updated_at`` in EITHER public wire form —
      epoch millis (older connectors) or ISO-8601 string (newer) — via
      a cast-probe coalesce; falls back to ``record.emitted_at`` (epoch
      millis, always present on RECORD).
    - object = ``record.stream`` (the catalog routing key), falling
      back to ``default_table``.
    """
    def build():
        line = F.col(line_col)
        stream = F.get_json_object(line, "$.record.stream")
        data = F.get_json_object(line, "$.record.data")
        deleted = F.get_json_object(line, "$.record.data._ab_cdc_deleted_at")
        updated = F.get_json_object(line, "$.record.data._ab_cdc_updated_at")
        emitted = F.get_json_object(line, "$.record.emitted_at")
        is_rec = F.get_json_object(line, "$.type") == F.lit("RECORD")
        action = (
            F.when(~is_rec | data.isNull(), F.lit(None).cast("string"))
            .when(deleted.isNotNull(), F.lit("DELETE"))
            .when(updated.isNotNull(), F.lit("UPDATE-INSERT"))
            .otherwise(F.lit("INSERT"))
        )

        def _ts(c: Column) -> Column:
            # try_cast/try_to_timestamp: ANSI mode is on; plain cast/parse
            # would FAIL the stream on the other wire form (or on garbage)
            # instead of falling through / dead-lettering
            return F.coalesce(
                F.timestamp_millis(c.try_cast("long")), F.try_to_timestamp(c)
            )

        ts = F.coalesce(
            _ts(updated), F.timestamp_millis(emitted.try_cast("long"))
        )
        return [
            F.coalesce(stream, F.lit(default_table).cast("string")).alias(
                "object"
            ),
            action.alias("action"),
            F.date_format(ts, "yyyy-MM-dd HH:mm:ss.SSS").alias(
                "update_date_raw"
            ),
            data.alias("payload_json"),
            line.alias("raw"),
        ]

    cols = _memo_cols(("aby", line_col, default_table), build)
    return raw_lines.select(*cols)


DYNAMODB_ACTIONS = (
    ("INSERT", "INSERT"),
    ("MODIFY", "UPDATE-INSERT"),
    ("REMOVE", "DELETE"),
)

# a DynamoDB image parses as map<attr, map<TYPE, value>>: Spark's
# from_json coerces BOOL true -> 'true' and set/list/map values to their
# JSON text, which is exactly what the type-aware rebuild needs
_DDB_IMAGE = "map<string,map<string,string>>"


def parse_envelope_dynamodb(
    raw_lines: DataFrame,
    line_col: str = "value",
    default_table: str | None = None,
) -> DataFrame:
    """DynamoDB Streams records (the eleventh producer) -> the canonical
    envelope columns.

    Field mapping (the public stream record shape: ``eventName`` INSERT /
    MODIFY / REMOVE; ``dynamodb.NewImage`` / ``OldImage`` / ``Keys`` as
    TYPED AttributeValue maps ``{"attr": {"N": "101"}}``;
    ``ApproximateCreationDateTime`` epoch seconds, possibly fractional;
    the table name inside ``eventSourceARN``):

    - ``eventName`` via DYNAMODB_ACTIONS; anything else (e.g. a Kinesis
      control record) -> NULL action -> dead-letter.
    - payload: the typed AttributeValue map flattens to a plain JSON
      object by TYPE dispatch — N/BOOL emit raw tokens (DynamoDB wire
      numbers are strings, so an untyped pivot would null every numeric
      at the routed decode: the wal2json lesson), NULL emits ``null``,
      S/B re-quote with escaping, and set/list/map types (SS/NS/BS/L/M)
      pass through as their JSON text (SS flattens to a plain string
      array; nested L/M keep their typed inner form — documented
      one-level flattening, they drop at a scalar routed decode).
      INSERT/MODIFY use NewImage (falling back to Keys for KEYS_ONLY
      stream views); REMOVE uses OldImage falling back to Keys — the
      key-recoverable DELETE, the Mongo documentKey analog.
    - ``ApproximateCreationDateTime`` (epoch seconds, fractional OK) ->
      the canonical timestamp layout via try_cast (ANSI-safe).
    - object = the ``table/<name>/`` segment of ``eventSourceARN``,
      falling back to ``default_table``.
    """
    def build():
        line = F.col(line_col)
        s1 = [
            F.get_json_object(line, "$.eventName").alias("op"),
            F.get_json_object(line, "$.eventSourceARN").alias("arn"),
            F.get_json_object(
                line, "$.dynamodb.ApproximateCreationDateTime"
            ).alias("ts"),
            F.get_json_object(line, "$.dynamodb.NewImage").alias("newimg"),
            F.get_json_object(line, "$.dynamodb.OldImage").alias("oldimg"),
            F.get_json_object(line, "$.dynamodb.Keys").alias("keys"),
            line.alias("raw"),
        ]
        action: Column = F.lit(None).cast("string")
        for code, act in DYNAMODB_ACTIONS:
            action = F.when(F.col("op") == code, F.lit(act)).otherwise(action)

        _esc = _esc_json_string

        def obj_of(img_json: Column) -> Column:
            entries = F.filter(
                F.map_entries(F.from_json(img_json, _DDB_IMAGE)),
                lambda e: F.size(F.map_keys(e["value"])) > 0,
            )

            def pair(e):
                t = F.map_keys(e["value"]).getItem(0)
                v = F.map_values(e["value"]).getItem(0)
                val = (
                    F.when(t == "NULL", F.lit("null"))
                    .when(t.isin("N", "BOOL"), v)
                    .when(
                        t.isin("S", "B"),
                        F.concat(F.lit('"'), _esc(v), F.lit('"')),
                    )
                    .otherwise(v)  # SS/NS/BS/L/M: coerced JSON text verbatim
                )
                return F.concat(F.lit('"'), _esc(e["key"]), F.lit('":'), val)

            return F.when(
                entries.isNotNull(),
                F.concat(
                    F.lit("{"),
                    F.concat_ws(",", F.transform(entries, pair)),
                    F.lit("}"),
                ),
            )

        update_raw = F.date_format(
            F.timestamp_seconds(F.col("ts").try_cast("double")),
            "yyyy-MM-dd HH:mm:ss.SSS",
        )
        payload = F.when(
            F.col("op") == "REMOVE",
            F.coalesce(obj_of(F.col("oldimg")), obj_of(F.col("keys"))),
        ).otherwise(
            F.coalesce(obj_of(F.col("newimg")), obj_of(F.col("keys")))
        )
        table = F.nullif(
            F.regexp_extract(F.col("arn"), "table/([^/]+)", 1), F.lit("")
        )
        s2 = [
            F.coalesce(table, F.lit(default_table).cast("string")).alias(
                "object"
            ),
            action.alias("action"),
            update_raw.alias("update_date_raw"),
            payload.alias("payload_json"),
            "raw",
        ]
        return s1, s2

    s1, s2 = _memo_cols(("ddb", line_col, default_table), build)
    return raw_lines.select(*s1).select(*s2)


def parse_envelope_debezium_flat(
    raw_lines: DataFrame,
    line_col: str = "value",
    default_table: str | None = None,
) -> DataFrame:
    """Debezium records AFTER the ExtractNewRecordState SMT (the twelfth
    producer shape) -> the canonical envelope columns.  Most Kafka
    Connect deployments run this SMT, so consumers see the FLATTENED
    row — the raw column fields at top level plus the metadata the SMT
    is configured to add back (the documented public options):

    - ``__op`` (add.fields=op): c/u/d/r -> the Debezium action map;
      absent __op with ``__deleted`` present still resolves (the
      delete.handling.mode=rewrite shape): __deleted true -> DELETE,
      false -> UPDATE-INSERT (the SMT does not distinguish c from u
      when only __deleted is added); neither field -> INSERT (plain
      snapshot/stream row with drop.tombstones and no added fields is
      indistinguishable from an insert — documented).
    - ``__ts_ms`` (add.fields=ts_ms) -> the canonical timestamp.
    - ``__table`` / ``__source_table`` (add.fields=table) -> routing,
      falling back to ``default_table``.
    - payload = the line itself; the ``__*`` metadata keys drop at the
      routed from_json decode because no table schema declares them
      (the SQL Server ``__$`` / Airbyte ``_ab_cdc_*`` precedent).
    - rewrite-mode DELETES carry the full last row image (the SMT
      rewrites instead of tombstoning), so keys are always recoverable;
      actual Kafka tombstones arrive as null/empty lines and fall out
      as NULL-action dead letters.
    """
    def build():
        line = F.col(line_col)
        op = F.get_json_object(line, "$.__op")
        deleted = F.get_json_object(line, "$.__deleted")
        action: Column = F.lit(None).cast("string")
        for code, act in DEBEZIUM_ACTIONS:
            action = F.when(op == code, F.lit(act)).otherwise(action)
        action = F.when(op.isNotNull(), action).otherwise(
            F.when(F.lower(deleted) == "true", F.lit("DELETE"))
            .when(deleted.isNotNull(), F.lit("UPDATE-INSERT"))
            .when(
                F.get_json_object(line, "$").isNotNull(), F.lit("INSERT")
            )
            .otherwise(F.lit(None).cast("string"))
        )
        ts = F.timestamp_millis(
            F.get_json_object(line, "$.__ts_ms").try_cast("long")
        )
        table = F.coalesce(
            F.get_json_object(line, "$.__table"),
            F.get_json_object(line, "$.__source_table"),
            F.lit(default_table).cast("string"),
        )
        return [
            table.alias("object"),
            action.alias("action"),
            F.date_format(ts, "yyyy-MM-dd HH:mm:ss.SSS").alias(
                "update_date_raw"
            ),
            line.alias("payload_json"),
            line.alias("raw"),
        ]

    cols = _memo_cols(("dbzf", line_col, default_table), build)
    return raw_lines.select(*cols)
