"""Batch-mode, oracle-checked exercises of the CDC envelope path and the
SQL entry point.

``cdc_envelope_roundtrip`` drives the SAME parse machinery the streaming
ingest uses (sources/cdc_schema.parse_envelope — get_json_object envelope
extraction, per-route from_json payload decode, reference ops 6-8 of
SURVEY.md §2.A) but synthesizes the envelope lines in-plan with to_json,
so the whole serialize -> parse -> route -> aggregate pipeline is one
DataFrame plan DuckDB can verify: the oracle computes the expected result
straight from the source table, which checks parse(serialize(x)) == x by
value. DELETE rows carry a blanked payload (key only), reproducing the
reference's blank-row delete semantics (src/dataflow-cdc-stream.py:68,
README.md:57).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.cdc_schema import (
    parse_envelope,
    parse_envelope_canal,
    parse_envelope_debezium,
    parse_envelope_maxwell,
)
from ..sources.tables import fan_out, load_table, register_views

_ACTIONS = ("INSERT", "UPDATE-INSERT", "DELETE")

_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


def cdc_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> Datastream envelope JSON lines -> parse_envelope ->
    routed payload decode -> per-action rollup.

    Action is derived from the key (okey % 3) so the synthesis is
    deterministic; DELETE payloads are blanked to the key column only.
    The per-row JSON encode/decode dwarfs the scan, so a single-split
    ``orders`` file is fanned out across the cores first.
    """
    o = fan_out(load_table(spark, sf_dir, "orders"))
    action = F.element_at(
        F.array(*[F.lit(a) for a in _ACTIONS]),
        (F.col("o_orderkey") % 3 + 1).cast("int"),
    )
    is_delete = F.col("o_orderkey") % 3 == 2
    blank = F.lit(None)
    lines = o.select(
        F.to_json(
            F.struct(
                F.lit("orders_feed").alias("object"),
                F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ssXXX").alias(
                    "source_timestamp"
                ),
                F.struct(action.alias("change_type")).alias("source_metadata"),
                F.struct(
                    F.col("o_orderkey"),
                    F.when(is_delete, blank).otherwise(F.col("o_custkey")).alias(
                        "o_custkey"
                    ),
                    F.when(is_delete, blank)
                    .otherwise(F.col("o_orderstatus"))
                    .alias("o_orderstatus"),
                    F.when(is_delete, blank)
                    .otherwise(F.col("o_totalprice"))
                    .alias("o_totalprice"),
                ).alias("payload"),
            )
        ).alias("value")
    )
    parsed = parse_envelope(lines)
    routed = parsed.filter(F.col("object") == "orders_feed").select(
        "action",
        F.to_timestamp("update_date_raw").alias("update_date"),
        F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


def debezium_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> Debezium change-record JSON lines -> parse_envelope_debezium
    -> routed payload decode -> per-action rollup (VERDICT r4 #1).

    Exercises the full adapter contract in one oracle-checked plan:
    - op from the key (okey % 4) covers all four codes c/u/d/r, with 'r'
      (snapshot read) folding into the INSERT group like 'c';
    - DELETE records carry after=null + a full ``before`` image — the
      n_custkeys / revenue columns verify the adapter reads the BEFORE
      image on deletes (a wrong after-only read would null the DELETE
      group's payload and hash-mismatch);
    - ts_ms epoch-millis -> update_date roundtrips exactly (UTC session);
    - even keys wrap the record in the Kafka Connect schema envelope
      ({"schema":...,"payload":...}), odd keys ship the bare record — a
      parse failure of either wire form would drop rows from the counts.
    """
    o = load_table(spark, sf_dir, "orders")
    op = F.element_at(
        F.array(F.lit("c"), F.lit("u"), F.lit("d"), F.lit("r")),
        (F.col("o_orderkey") % 4 + 1).cast("int"),
    )
    image = F.struct(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    is_delete = F.col("o_orderkey") % 4 == 2
    record = F.to_json(
        F.struct(
            op.alias("op"),
            F.unix_millis(F.col("o_orderdate")).alias("ts_ms"),
            F.when(is_delete, image).alias("before"),
            F.when(~is_delete, image).alias("after"),
            F.struct(
                F.lit("bench_db").alias("db"),
                F.lit("orders_feed").alias("table"),
            ).alias("source"),
        )
    )
    wrapped = F.col("o_orderkey") % 2 == 0
    lines = o.select(
        F.when(
            wrapped,
            F.concat(
                F.lit('{"schema":{"type":"struct"},"payload":'),
                record,
                F.lit("}"),
            ),
        )
        .otherwise(record)
        .alias("value")
    )
    parsed = parse_envelope_debezium(lines)
    routed = parsed.filter(F.col("object") == "orders_feed").select(
        "action",
        F.to_timestamp("update_date_raw").alias("update_date"),
        F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )



def maxwell_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> Maxwell daemon JSON lines -> parse_envelope_maxwell ->
    routed payload decode -> per-action rollup.

    Covers all four mapped type codes (okey % 4 -> insert / update /
    delete / bootstrap-insert, with bootstrap-insert folding into the
    INSERT group), the full-row ``data`` image on deletes (Maxwell's
    contract — no before-image fallback), and the epoch-SECONDS ``ts``
    roundtrip (update_date truncates to second precision, mirrored in the
    oracle's date_trunc).
    """
    o = load_table(spark, sf_dir, "orders")
    mtype = F.element_at(
        F.array(
            F.lit("insert"), F.lit("update"), F.lit("delete"),
            F.lit("bootstrap-insert"),
        ),
        (F.col("o_orderkey") % 4 + 1).cast("int"),
    )
    lines = o.select(
        F.to_json(
            F.struct(
                F.lit("bench_db").alias("database"),
                F.lit("orders_feed").alias("table"),
                mtype.alias("type"),
                F.unix_timestamp(F.col("o_orderdate")).alias("ts"),
                F.struct(
                    F.col("o_orderkey"),
                    F.col("o_custkey"),
                    F.col("o_orderstatus"),
                    F.col("o_totalprice"),
                ).alias("data"),
            )
        ).alias("value")
    )
    parsed = parse_envelope_maxwell(lines)
    routed = parsed.filter(F.col("object") == "orders_feed").select(
        "action",
        F.to_timestamp("update_date_raw").alias("update_date"),
        F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


def canal_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> Canal flat-message JSON (rows BATCHED pairwise into the
    ``data`` array) -> parse_envelope_canal -> routed payload decode ->
    per-action rollup.

    Exercises the batching contract: each wire message carries up to two
    row images under one type/es/table header (group = okey div 2, sorted
    image array for determinism), so a correct adapter must fan each
    message back out to per-row envelope rows; es is the max order date
    of the group in epoch millis, roundtripped through update_date — the
    oracle recomputes the same per-group timestamp from the source table.
    """
    o = load_table(spark, sf_dir, "orders")
    g = F.expr("o_orderkey div 2")
    ctype = F.element_at(
        F.array(F.lit("INSERT"), F.lit("UPDATE"), F.lit("DELETE")),
        (g % 3 + 1).cast("int"),
    )
    image = F.struct(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    grouped = o.groupBy(g.alias("gid")).agg(
        F.sort_array(F.collect_list(image)).alias("data"),
        F.max(F.unix_millis(F.col("o_orderdate"))).alias("es"),
    )
    lines = grouped.select(
        F.to_json(
            F.struct(
                F.lit("bench_db").alias("database"),
                F.lit("orders_feed").alias("table"),
                F.element_at(
                    F.array(
                        F.lit("INSERT"), F.lit("UPDATE"), F.lit("DELETE")
                    ),
                    (F.col("gid") % 3 + 1).cast("int"),
                ).alias("type"),
                F.col("es"),
                F.lit(False).alias("isDdl"),
                F.col("data"),
            )
        ).alias("value")
    )
    parsed = parse_envelope_canal(lines)
    routed = parsed.filter(F.col("object") == "orders_feed").select(
        "action",
        F.to_timestamp("update_date_raw").alias("update_date"),
        F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


def drift_order_lines(o: DataFrame) -> DataFrame:
    """Deterministic drift corpus: Datastream-envelope JSON lines whose
    payload schema evolves with order age (v1 < 1995 lacks o_totalprice,
    v3 >= 1997 adds o_orderpriority; ``to_json`` omits nulls, so old
    records genuinely lack the columns).  Shared by the batch drift
    report and the streaming drift monitor's equality test."""
    year = F.year("o_orderdate")
    v2 = year >= 1995
    v3 = year >= 1997
    return o.select(
        F.to_json(
            F.struct(
                F.lit("orders_feed").alias("object"),
                F.date_format(
                    "o_orderdate", "yyyy-MM-dd'T'HH:mm:ssXXX"
                ).alias("source_timestamp"),
                F.struct(F.lit("INSERT").alias("change_type")).alias(
                    "source_metadata"
                ),
                F.struct(
                    F.col("o_orderkey"),
                    F.col("o_custkey"),
                    F.when(v2, F.col("o_totalprice")).alias("o_totalprice"),
                    F.when(v3, F.col("o_orderpriority")).alias(
                        "o_orderpriority"
                    ),
                ).alias("payload"),
            )
        ).alias("value")
    )


def cdc_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift audit over a CDC stream: per (object, payload key),
    how many records carry the key and its first/last event time — the
    report an operator reads before approving a registry evolution
    (pairs with SchemaRegistry.check_evolution, which enforces it).

    Drift is synthesized deterministically from order age: records before
    1995 ship a v1 payload (no o_totalprice — the column didn't exist
    yet); 1995-96 ship v2; 1997+ add o_orderpriority (v3).  ``to_json``
    omits null struct fields, so the conditional columns vanish from old
    records exactly like a producer-side schema change.  The parse side
    reads ONLY the raw JSON text via json_object_keys — schema-on-read
    over heterogeneous payloads, no registry needed.

    Scale: serialize and key-explode are narrow; the report is one
    (object, key)-aggregation with map-side combine.  On a real stream
    this runs over the dead-letter + history sample, never full history.
    """
    o = load_table(spark, sf_dir, "orders")
    env = parse_envelope(drift_order_lines(o))
    keys = env.select(
        "object",
        F.to_timestamp("update_date_raw").alias("ts"),
        F.explode(F.json_object_keys(F.col("payload_json"))).alias("key"),
    )
    return keys.groupBy("object", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


def sql_api_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point: identical relational engine via spark.sql over
    registered views (CTE + outer join + agg), proving the surface is not
    DataFrame-API-only."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH cnt AS (
            SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
        )
        SELECT c_mktsegment,
               CAST(sum(coalesce(n, 0)) AS BIGINT) AS total_orders,
               count(*) AS n_custs
        FROM customer LEFT JOIN cnt ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        """
    )


def commitlog_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read over the manifest commit log (Delta CDF
    analogue, streaming/commitlog.py:read_changes): build a 3-commit table
    in a scratch dir — base append (version 0), delta append (version 1),
    full compaction (version 2) — then read the feed from version 0 to
    latest. The feed must be EXACTLY the delta append as inserts: the
    compaction rewrote every row into new files, but identical rows cancel
    in the bag diff, so file churn produces no phantom changes. The oracle
    computes the same delta straight from orders.

    Scale: only files added/removed between the versions are read; the
    exceptAll pair shuffles changed-file rows only (delta+compaction-
    sized), never the table.
    """
    import tempfile

    from ..streaming.commitlog import CommitLogTable

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # scratch dir intentionally not deleted here: the returned frame is
    # lazy and still reads these files when the caller materializes it
    t = CommitLogTable(spark, tempfile.mkdtemp(prefix="commitlog_changes_"))
    t.write_append(o.filter(F.col("o_orderkey") % 5 != 0).repartition(4), "base")
    t.write_append(o.filter(F.col("o_orderkey") % 5 == 0).repartition(2), "delta")
    t.compact("opt", target_partitions=2)
    ch = t.read_changes(from_version=0)
    return ch.groupBy("_change_type").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.max("_commit_version").alias("feed_version"),
    )


QUERIES = {
    "cdc_envelope_roundtrip": cdc_envelope_roundtrip,
    "debezium_envelope_roundtrip": debezium_envelope_roundtrip,
    "maxwell_envelope_roundtrip": maxwell_envelope_roundtrip,
    "canal_envelope_roundtrip": canal_envelope_roundtrip,
    "cdc_schema_drift_report": cdc_schema_drift_report,
    "sql_api_cte": sql_api_cte,
    "commitlog_changes": commitlog_changes,
}

ORACLES = {
    # ground truth straight from the source table — verifies that the JSON
    # serialize->parse->route pipeline preserved every value exactly
    "cdc_envelope_roundtrip": """
        SELECT ['INSERT','UPDATE-INSERT','DELETE'][CAST(o_orderkey % 3 AS INT) + 1]
                   AS action,
               count(*) AS n_rows,
               count(CASE WHEN o_orderkey % 3 <> 2 THEN o_custkey END)
                   AS n_custkeys,
               round(sum(CASE WHEN o_orderkey % 3 <> 2 THEN o_totalprice END), 2)
                   AS revenue,
               max(o_orderdate) AS last_update
        FROM orders
        GROUP BY 1
    """,
    # ground truth straight from orders — proves the Debezium serialize ->
    # parse -> route path preserves every value, including the before-image
    # read on deletes (okey % 4 == 2) and both wire forms (wrapped/bare)
    "debezium_envelope_roundtrip": """
        SELECT CASE CAST(o_orderkey % 4 AS INT)
                   WHEN 0 THEN 'INSERT'
                   WHEN 1 THEN 'UPDATE-INSERT'
                   WHEN 2 THEN 'DELETE'
                   ELSE 'INSERT' END AS action,
               count(*) AS n_rows,
               count(o_custkey) AS n_custkeys,
               round(sum(o_totalprice), 2) AS revenue,
               max(o_orderdate) AS last_update
        FROM orders
        GROUP BY 1
    """,
    # ground truth from order-age conditions — which keys exist per schema
    # era and their first/last timestamps
    "cdc_schema_drift_report": """
        WITH eras AS (
            SELECT o_orderdate AS ts,
                   year(o_orderdate) >= 1995 AS v2,
                   year(o_orderdate) >= 1997 AS v3
            FROM orders
        ),
        keys AS (
            SELECT 'orders_feed' AS object, 'o_orderkey' AS key, ts FROM eras
            UNION ALL
            SELECT 'orders_feed', 'o_custkey', ts FROM eras
            UNION ALL
            SELECT 'orders_feed', 'o_totalprice', ts FROM eras WHERE v2
            UNION ALL
            SELECT 'orders_feed', 'o_orderpriority', ts FROM eras WHERE v3
        )
        SELECT object, key, CAST(count(*) AS BIGINT) AS n_records,
               min(ts) AS first_seen, max(ts) AS last_seen
        FROM keys GROUP BY 1, 2
    """,
    "sql_api_cte": """
        WITH cnt AS (
            SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
        )
        SELECT c_mktsegment,
               CAST(sum(coalesce(n, 0)) AS BIGINT) AS total_orders,
               count(*) AS n_custs
        FROM customer LEFT JOIN cnt ON c_custkey = o_custkey
        GROUP BY c_mktsegment
    """,
    # the feed between v0 and latest must be exactly the delta append as
    # inserts (compaction churn cancels in the bag diff) — ground truth is
    # the same % 5 == 0 slice straight from orders
    "commitlog_changes": """
        SELECT 'insert' AS _change_type,
               count(*) AS n_rows,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
               round(sum(o_totalprice), 2) AS revenue,
               min(o_orderkey) AS min_key,
               max(o_orderkey) AS max_key,
               CAST(2 AS BIGINT) AS feed_version
        FROM orders
        WHERE o_orderkey % 5 = 0
    """,
}

ORACLES["maxwell_envelope_roundtrip"] = """
    SELECT CASE CAST(o_orderkey % 4 AS INT)
               WHEN 0 THEN 'INSERT'
               WHEN 1 THEN 'UPDATE-INSERT'
               WHEN 2 THEN 'DELETE'
               ELSE 'INSERT' END AS action,
           count(*) AS n_rows,
           count(o_custkey) AS n_custkeys,
           round(sum(o_totalprice), 2) AS revenue,
           max(date_trunc('second', o_orderdate)) AS last_update
    FROM orders
    GROUP BY 1
"""

ORACLES["canal_envelope_roundtrip"] = """
    WITH g AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
               o_orderkey // 2 AS gid
        FROM orders
    ),
    gm AS (SELECT gid, max(o_orderdate) AS gdate FROM g GROUP BY 1)
    SELECT CASE CAST(g.gid % 3 AS INT)
               WHEN 0 THEN 'INSERT'
               WHEN 1 THEN 'UPDATE-INSERT'
               ELSE 'DELETE' END AS action,
           count(*) AS n_rows,
           count(o_custkey) AS n_custkeys,
           round(sum(o_totalprice), 2) AS revenue,
           max(gm.gdate) AS last_update
    FROM g JOIN gm ON g.gid = gm.gid
    GROUP BY 1
"""


def aws_dms_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> AWS DMS JSON change records -> parse_envelope_aws_dms ->
    routed payload decode -> per-action rollup (fifth-producer coverage
    next to Datastream/Debezium/Maxwell/Canal).

    Exercises the adapter contract:
    - operation from the key (okey % 4) covers insert / update / delete /
      load, with ``load`` (the full-load phase) folding into the INSERT
      group;
    - every record carries the FULL row image under ``data`` (DMS's
      contract — a before-image fallback must NOT be needed);
    - keys divisible by 10 ship a ``record-type: control`` checkpoint
      record instead, which must dead-letter (NULL action) and never
      reach the rollup — the oracle therefore excludes them;
    - the ISO-8601 microsecond ``metadata.timestamp`` roundtrips exactly
      through update_date (UTC session).
    """
    from ..sources.cdc_schema import parse_envelope_aws_dms

    o = load_table(spark, sf_dir, "orders")
    op = F.element_at(
        F.array(
            F.lit("insert"), F.lit("update"), F.lit("delete"), F.lit("load")
        ),
        (F.col("o_orderkey") % 4 + 1).cast("int"),
    )
    is_control = F.col("o_orderkey") % 10 == 0
    meta = F.struct(
        F.when(is_control, F.lit("control")).otherwise(F.lit("data")).alias(
            "record-type"
        ),
        F.when(~is_control, op).otherwise(F.lit("checkpoint")).alias(
            "operation"
        ),
        F.date_format(
            F.col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
        ).alias("timestamp"),
        F.lit("bench_db").alias("schema-name"),
        F.lit("orders_feed").alias("table-name"),
    )
    image = F.struct(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    lines = o.select(
        F.to_json(F.struct(image.alias("data"), meta.alias("metadata"))).alias(
            "value"
        )
    )
    parsed = parse_envelope_aws_dms(lines)
    routed = (
        parsed.filter(F.col("action").isNotNull())
        .filter(F.col("object") == "orders_feed")
        .select(
            "action",
            F.to_timestamp("update_date_raw").alias("update_date"),
            F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
        )
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


ORACLES["aws_dms_envelope_roundtrip"] = """
    SELECT CASE CAST(o_orderkey % 4 AS INT)
               WHEN 0 THEN 'INSERT'
               WHEN 1 THEN 'UPDATE-INSERT'
               WHEN 2 THEN 'DELETE'
               ELSE 'INSERT' END AS action,
           count(*) AS n_rows,
           count(o_custkey) AS n_custkeys,
           round(sum(o_totalprice), 2) AS revenue,
           max(o_orderdate) AS last_update
    FROM orders
    WHERE o_orderkey % 10 != 0
    GROUP BY 1
"""
QUERIES["aws_dms_envelope_roundtrip"] = aws_dms_envelope_roundtrip


# --------------------------------------------------------------------------
# cdcgen_source_roundtrip — the Spark 4 Python DataSource connector, proven
# --------------------------------------------------------------------------

CDCGEN_ROWS = 6_000
CDCGEN_PARTS = 8


def cdcgen_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the zero-JVM Python DataSource connector
    (sources/cdcgen.py): scan format("cdcgen"), run the REAL Datastream
    envelope parser over its lines, and reduce to a per-(table, action)
    summary — counts, payload value sums, and the timestamp range.

    The oracle re-derives the identical summary from generate_series with
    the generator's index formulas (every field is a pure function of the
    global row index), so a hash match proves the connector + scan +
    json_tuple parse + aggregation path without trusting the generator
    twice.  ``sf_dir`` is unused: the source is synthetic by design (the
    one registry entry exercising a non-parquet Spark connector).

    Scale: the connector streams rows per input partition (8 splits here;
    a real deployment sets partitions to cluster width); the aggregation
    is map-side combined to a 9-cell frame.
    """
    from ..sources import cdcgen

    cdcgen.register(spark)
    raw = (
        spark.read.format("cdcgen")
        .option("rows", CDCGEN_ROWS)
        .option("partitions", CDCGEN_PARTS)
        .load()
    )
    env = parse_envelope(raw)
    v = F.get_json_object(F.col("payload_json"), "$.v").cast("long")
    return (
        env.groupBy(F.col("object").alias("table_name"), "action")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v.cast("decimal(38,0)")).cast("long").alias("sum_v"),
            F.min("update_date_raw").alias("first_ts"),
            F.max("update_date_raw").alias("last_ts"),
        )
        .orderBy("table_name", "action")
    )


QUERIES["cdcgen_source_roundtrip"] = cdcgen_source_roundtrip
ORACLES["cdcgen_source_roundtrip"] = f"""
    WITH idx AS (
        SELECT CAST(u.i AS BIGINT) AS i
        FROM unnest(generate_series(0, {CDCGEN_ROWS - 1})) AS u(i)
    ),
    rec AS (
        SELECT CASE i % 3 WHEN 0 THEN 'orders' WHEN 1 THEN 'customer'
                          ELSE 'lineitem' END AS table_name,
               CASE i % 4 WHEN 0 THEN 'INSERT' WHEN 1 THEN 'UPDATE-INSERT'
                          WHEN 2 THEN 'DELETE' ELSE 'INSERT' END AS action,
               (i * i) % {97} AS v,
               strftime(TIMESTAMP '2024-01-01' + to_seconds(i),
                        '%Y-%m-%dT%H:%M:%S') AS ts
        FROM idx
    )
    SELECT table_name, action, count(*) AS n,
           CAST(sum(v) AS BIGINT) AS sum_v,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM rec GROUP BY 1, 2 ORDER BY table_name, action
"""


def goldengate_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> Oracle GoldenGate JSON change records ->
    parse_envelope_goldengate -> routed payload decode -> per-action
    rollup (sixth-producer coverage next to Datastream / Debezium /
    AWS DMS / Maxwell / Canal).

    Exercises the adapter contract:
    - op_type from the key (okey % 4) covers I / U / D plus a 'T'
      truncate record that must dead-letter (NULL action);
    - deletes carry ONLY the before image (OGG default) — the
      after-with-before-fallback must recover the payload;
    - op_ts is already canonical 'yyyy-MM-dd HH:mm:ss.SSSSSS' and must
      roundtrip byte-exactly through update_date;
    - object strips the 'BENCH.' schema prefix from ``table``.
    """
    from ..sources.cdc_schema import parse_envelope_goldengate

    o = load_table(spark, sf_dir, "orders")
    op = F.element_at(
        F.array(F.lit("I"), F.lit("U"), F.lit("D"), F.lit("T")),
        (F.col("o_orderkey") % 4 + 1).cast("int"),
    )
    image = F.struct(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    is_delete = F.col("o_orderkey") % 4 == 2
    body = F.struct(
        F.lit("BENCH.ORDERS_FEED").alias("table"),
        op.alias("op_type"),
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("op_ts"),
        F.when(is_delete, image).alias("before"),
        F.when(~is_delete, image).alias("after"),
    )
    lines = o.select(F.to_json(body).alias("value"))
    parsed = parse_envelope_goldengate(lines)
    routed = (
        parsed.filter(F.col("action").isNotNull())
        .filter(F.col("object") == "ORDERS_FEED")
        .select(
            "action",
            F.to_timestamp("update_date_raw").alias("update_date"),
            F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
        )
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


ORACLES["goldengate_envelope_roundtrip"] = """
    SELECT CASE CAST(o_orderkey % 4 AS INT)
               WHEN 0 THEN 'INSERT'
               WHEN 1 THEN 'UPDATE-INSERT'
               ELSE 'DELETE' END AS action,
           count(*) AS n_rows,
           count(o_custkey) AS n_custkeys,
           round(sum(o_totalprice), 2) AS revenue,
           max(o_orderdate) AS last_update
    FROM orders
    WHERE o_orderkey % 4 != 3
    GROUP BY 1
"""
QUERIES["goldengate_envelope_roundtrip"] = goldengate_envelope_roundtrip


def sqlserver_cdc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> flat SQL Server CDC change-table JSON records ->
    parse_envelope_sqlserver -> routed payload decode -> per-action
    rollup (seventh-producer coverage next to Datastream / Debezium /
    GoldenGate / AWS DMS / Maxwell / Canal).

    Exercises the adapter contract:
    - ``__$operation`` from the key (okey % 4 -> 2/4/3/1) covers INSERT /
      UPDATE-INSERT / DELETE plus an op-3 update-BEFORE image that must
      dead-letter (NULL action) — applying it would double-apply every
      update;
    - the envelope is FLAT: payload_json is the whole line, and the
      ``__$`` metadata keys vanish at the routed from_json decode because
      no table schema declares them (no JSON rewriting);
    - commit time arrives as ``__$commit_time`` on inserts/updates but
      as the lsn_time_mapping name ``tran_end_time`` on deletes — the
      coalesce fallback must recover both;
    - object strips the ``dbo_`` capture-instance prefix.
    """
    from ..sources.cdc_schema import parse_envelope_sqlserver

    o = load_table(spark, sf_dir, "orders")
    op = F.element_at(
        F.array(F.lit("2"), F.lit("4"), F.lit("3"), F.lit("1")),
        (F.col("o_orderkey") % 4 + 1).cast("int"),
    )
    is_delete = F.col("o_orderkey") % 4 == 3
    ts = F.date_format(F.col("o_orderdate"), "yyyy-MM-dd HH:mm:ss.SSS")
    body = F.struct(
        op.alias("__$operation"),
        F.lpad(F.hex(F.col("o_orderkey")), 20, "0").alias("__$start_lsn"),
        F.lit("dbo_ORDERS_FEED").alias("__$capture_instance"),
        F.when(~is_delete, ts).alias("__$commit_time"),
        F.when(is_delete, ts).alias("tran_end_time"),
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    lines = o.select(F.to_json(body).alias("value"))
    parsed = parse_envelope_sqlserver(lines)
    routed = (
        parsed.filter(F.col("action").isNotNull())
        .filter(F.col("object") == "ORDERS_FEED")
        .select(
            "action",
            F.to_timestamp("update_date_raw").alias("update_date"),
            F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
        )
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


ORACLES["sqlserver_cdc_roundtrip"] = """
    SELECT CASE CAST(o_orderkey % 4 AS INT)
               WHEN 0 THEN 'INSERT'
               WHEN 1 THEN 'UPDATE-INSERT'
               ELSE 'DELETE' END AS action,
           count(*) AS n_rows,
           count(o_custkey) AS n_custkeys,
           round(sum(o_totalprice), 2) AS revenue,
           max(o_orderdate) AS last_update
    FROM orders
    WHERE o_orderkey % 4 != 2
    GROUP BY 1
"""
QUERIES["sqlserver_cdc_roundtrip"] = sqlserver_cdc_roundtrip


def mongo_changestream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> MongoDB change-stream JSON events ->
    parse_envelope_mongo -> routed payload decode -> per-action rollup
    (eighth-producer coverage next to Datastream / Debezium / GoldenGate
    / AWS DMS / SQL Server / Maxwell / Canal).

    Exercises the adapter contract:
    - ``operationType`` from the key (okey % 5 -> insert / update /
      replace / delete / drop) covers all three actions plus a ``drop``
      DDL event that must dead-letter (NULL action);
    - updates split on okey % 10: half arrive WITH ``fullDocument``
      (updateLookup exporters), half with only
      ``updateDescription.updatedFields`` + ``documentKey`` — the
      adapter must MERGE the key into the partial image (decode keeps
      o_orderkey, yields NULL o_custkey);
    - deletes carry only ``documentKey`` (the key survives the decode)
      and only ``clusterTime`` (epoch-seconds fallback); everything else
      stamps extended-JSON ``wallTime.$date``;
    - object routes on ``ns.coll``.
    """
    from ..sources.cdc_schema import parse_envelope_mongo

    o = load_table(spark, sf_dir, "orders")
    op = F.element_at(
        F.array(
            F.lit("insert"), F.lit("update"), F.lit("replace"),
            F.lit("delete"), F.lit("drop"),
        ),
        (F.col("o_orderkey") % 5 + 1).cast("int"),
    )
    is_delete = F.col("o_orderkey") % 5 == 3
    is_partial_update = (F.col("o_orderkey") % 5 == 1) & (
        F.col("o_orderkey") % 10 == 6
    )
    has_full = ~is_delete & ~is_partial_update
    iso = F.date_format(F.col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    full_doc = F.struct(
        F.col("o_orderkey"), F.col("o_custkey"), F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    body = F.struct(
        op.alias("operationType"),
        F.struct(
            F.lit("retaildb").alias("db"), F.lit("orders_feed").alias("coll")
        ).alias("ns"),
        F.when(has_full, full_doc).alias("fullDocument"),
        F.when(
            is_partial_update,
            F.struct(
                F.struct(
                    F.col("o_orderstatus"), F.col("o_totalprice")
                ).alias("updatedFields"),
                F.array().cast("array<string>").alias("removedFields"),
            ),
        ).alias("updateDescription"),
        F.struct(F.col("o_orderkey")).alias("documentKey"),
        F.when(
            ~is_delete, F.struct(iso.alias("$date"))
        ).alias("wallTime"),
        F.when(
            is_delete,
            F.struct(
                F.struct(
                    F.unix_timestamp("o_orderdate").alias("t"),
                    F.lit(1).alias("i"),
                ).alias("$timestamp")
            ),
        ).alias("clusterTime"),
    )
    lines = o.select(F.to_json(body).alias("value"))
    parsed = parse_envelope_mongo(lines)
    routed = (
        parsed.filter(F.col("action").isNotNull())
        .filter(F.col("object") == "orders_feed")
        .select(
            "action",
            F.to_timestamp("update_date_raw").alias("update_date"),
            F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
        )
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderkey").alias("n_orderkeys"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


ORACLES["mongo_changestream_roundtrip"] = """
    SELECT CASE CAST(o_orderkey % 5 AS INT)
               WHEN 0 THEN 'INSERT'
               WHEN 1 THEN 'UPDATE-INSERT'
               WHEN 2 THEN 'UPDATE-INSERT'
               ELSE 'DELETE' END AS action,
           count(*) AS n_rows,
           count(*) AS n_orderkeys,
           CAST(sum(CASE WHEN o_orderkey % 5 IN (0, 2)
                      OR (o_orderkey % 5 = 1 AND o_orderkey % 10 != 6)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_custkeys,
           round(sum(CASE WHEN o_orderkey % 5 != 3
                          THEN o_totalprice END), 2) AS revenue,
           max(o_orderdate) AS last_update
    FROM orders
    WHERE o_orderkey % 5 != 4
    GROUP BY 1
"""
QUERIES["mongo_changestream_roundtrip"] = mongo_changestream_roundtrip


def wal2json_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> wal2json v2 logical-decoding JSON lines ->
    parse_envelope_wal2json -> routed payload decode -> per-action
    rollup (ninth-producer coverage).

    Exercises the adapter contract:
    - ``action`` from the key (okey % 5 -> I/U/D/B/T) covers all three
      data actions plus a BEGIN marker and a TRUNCATE that must
      dead-letter (NULL action);
    - the {name, type, value} columns array carries RAW numeric tokens
      (generated by string concat, like wal2json itself) — the
      type-aware pivot must emit them unquoted or every numeric column
      nulls at the routed from_json decode;
    - deletes carry only the replica identity (o_orderkey) — the key
      survives, nothing else;
    - ``timestamp`` parses with its +00 offset and microseconds.
    """
    from ..sources.cdc_schema import parse_envelope_wal2json

    o = load_table(spark, sf_dir, "orders")
    op = F.element_at(
        F.array(F.lit("I"), F.lit("U"), F.lit("D"), F.lit("B"), F.lit("T")),
        (F.col("o_orderkey") % 5 + 1).cast("int"),
    )
    is_delete = F.col("o_orderkey") % 5 == 2
    is_marker = F.col("o_orderkey") % 5 >= 3
    ts = F.date_format(F.col("o_orderdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
    cols_arr = F.concat(
        F.lit('[{"name":"o_orderkey","type":"bigint","value":'),
        F.col("o_orderkey").cast("string"),
        F.lit('},{"name":"o_custkey","type":"bigint","value":'),
        F.col("o_custkey").cast("string"),
        F.lit('},{"name":"o_orderstatus","type":"text","value":"'),
        F.col("o_orderstatus"),
        F.lit('"},{"name":"o_totalprice","type":"numeric(12,2)","value":'),
        F.col("o_totalprice").cast("string"),
        F.lit("}]"),
    )
    ident_arr = F.concat(
        F.lit('[{"name":"o_orderkey","type":"bigint","value":'),
        F.col("o_orderkey").cast("string"),
        F.lit("}]"),
    )
    line = F.when(
        is_marker,
        F.concat(
            F.lit('{"action":"'), op,
            F.lit('","timestamp":"'), ts, F.lit('+00"}'),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"action":"'), op,
            F.lit('","schema":"public","table":"orders_feed","'),
            F.when(is_delete, F.lit("identity")).otherwise(F.lit("columns")),
            F.lit('":'),
            F.when(is_delete, ident_arr).otherwise(cols_arr),
            F.lit(',"timestamp":"'), ts, F.lit('+00"}'),
        )
    )
    parsed = parse_envelope_wal2json(o.select(line.alias("value")))
    routed = (
        parsed.filter(F.col("action").isNotNull())
        .filter(F.col("object") == "orders_feed")
        .select(
            "action",
            F.to_timestamp("update_date_raw").alias("update_date"),
            F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
        )
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderkey").alias("n_orderkeys"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


ORACLES["wal2json_envelope_roundtrip"] = """
    SELECT CASE CAST(o_orderkey % 5 AS INT)
               WHEN 0 THEN 'INSERT'
               WHEN 1 THEN 'UPDATE-INSERT'
               ELSE 'DELETE' END AS action,
           count(*) AS n_rows,
           count(*) AS n_orderkeys,
           CAST(sum(CASE WHEN o_orderkey % 5 IN (0, 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_custkeys,
           round(sum(CASE WHEN o_orderkey % 5 != 2
                          THEN o_totalprice END), 2) AS revenue,
           max(o_orderdate) AS last_update
    FROM orders
    WHERE o_orderkey % 5 <= 2
    GROUP BY 1
"""
QUERIES["wal2json_envelope_roundtrip"] = wal2json_envelope_roundtrip


def airbyte_record_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> Airbyte protocol RECORD/STATE JSON lines ->
    parse_envelope_airbyte -> routed payload decode -> per-action
    rollup (tenth-producer coverage).

    Exercises the adapter contract:
    - okey % 4 -> plain RECORD (no CDC columns, INSERT), CDC update
      (``_ab_cdc_updated_at`` epoch millis, UPDATE-INSERT), CDC delete
      (``_ab_cdc_deleted_at`` set, key-only data, DELETE), and a STATE
      checkpoint message that must dead-letter (NULL action);
    - ``_ab_cdc_*`` metadata keys drop at the routed from_json decode
      (no table schema declares them);
    - update_date from ``_ab_cdc_updated_at`` (epoch-millis wire form)
      with the plain insert falling back to ``record.emitted_at``;
    - ``record.stream`` routes; delete rows carry only the key.
    """
    from ..sources.cdc_schema import parse_envelope_airbyte

    o = load_table(spark, sf_dir, "orders")
    ms = (F.unix_timestamp(F.to_timestamp("o_orderdate")) * 1000).cast(
        "long"
    ).cast("string")
    mode = F.col("o_orderkey") % 4
    data_full = F.concat(
        F.lit('{"o_orderkey":'), F.col("o_orderkey").cast("string"),
        F.lit(',"o_custkey":'), F.col("o_custkey").cast("string"),
        F.lit(',"o_orderstatus":"'), F.col("o_orderstatus"),
        F.lit('","o_totalprice":'), F.col("o_totalprice").cast("string"),
    )
    rec_plain = F.concat(
        F.lit('{"type":"RECORD","record":{"stream":"orders_feed",'
              '"namespace":"public","emitted_at":'), ms,
        F.lit(',"data":'), data_full, F.lit("}}}"),
    )
    rec_upd = F.concat(
        F.lit('{"type":"RECORD","record":{"stream":"orders_feed",'
              '"namespace":"public","emitted_at":'), ms,
        F.lit(',"data":'), data_full,
        F.lit(',"_ab_cdc_updated_at":'), ms,
        F.lit(',"_ab_cdc_deleted_at":null,"_ab_cdc_log_pos":77}}}'),
    )
    rec_del = F.concat(
        F.lit('{"type":"RECORD","record":{"stream":"orders_feed",'
              '"namespace":"public","emitted_at":'), ms,
        F.lit(',"data":{"o_orderkey":'), F.col("o_orderkey").cast("string"),
        F.lit(',"_ab_cdc_updated_at":'), ms,
        F.lit(',"_ab_cdc_deleted_at":'), ms, F.lit("}}}"),
    )
    state = F.lit(
        '{"type":"STATE","state":{"data":{"cdc_state":{"lsn":12345}}}}'
    )
    line = (
        F.when(mode == 0, rec_plain)
        .when(mode == 1, rec_upd)
        .when(mode == 2, rec_del)
        .otherwise(state)
    )
    parsed = parse_envelope_airbyte(o.select(line.alias("value")))
    routed = (
        parsed.filter(F.col("action").isNotNull())
        .filter(F.col("object") == "orders_feed")
        .select(
            "action",
            F.to_timestamp("update_date_raw").alias("update_date"),
            F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
        )
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderkey").alias("n_orderkeys"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


ORACLES["airbyte_record_roundtrip"] = """
    SELECT CASE CAST(o_orderkey % 4 AS INT)
               WHEN 0 THEN 'INSERT'
               WHEN 1 THEN 'UPDATE-INSERT'
               ELSE 'DELETE' END AS action,
           count(*) AS n_rows,
           count(*) AS n_orderkeys,
           CAST(sum(CASE WHEN o_orderkey % 4 IN (0, 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_custkeys,
           round(sum(CASE WHEN o_orderkey % 4 != 2
                          THEN o_totalprice END), 2) AS revenue,
           max(o_orderdate) AS last_update
    FROM orders
    WHERE o_orderkey % 4 <= 2
    GROUP BY 1
"""
QUERIES["airbyte_record_roundtrip"] = airbyte_record_roundtrip


def dynamodb_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> DynamoDB Streams records (typed AttributeValue images)
    -> parse_envelope_dynamodb -> routed payload decode -> per-action
    rollup (eleventh-producer coverage).

    Exercises the adapter contract:
    - okey % 4 -> INSERT (full NewImage), MODIFY (NewImage,
      UPDATE-INSERT), REMOVE under a KEYS_ONLY view (no OldImage — the
      Keys fallback must recover the key, DELETE), and an unknown
      eventName that must dead-letter (NULL action);
    - type dispatch: N values emit raw numeric tokens (an untyped pivot
      would null every numeric at the routed decode), S re-quotes,
      BOOL / NULL / SS attributes flatten and then drop at the routed
      from_json decode (no table schema declares them);
    - ``ApproximateCreationDateTime`` epoch seconds -> update_date;
    - the table name routes from inside ``eventSourceARN``.
    """
    from ..sources.cdc_schema import parse_envelope_dynamodb

    o = load_table(spark, sf_dir, "orders")
    secs = F.unix_timestamp(F.to_timestamp("o_orderdate")).cast("string")
    mode = F.col("o_orderkey") % 4
    arn = (
        '"arn:aws:dynamodb:us-east-1:123456789012:table/orders_ddb/'
        'stream/2026-01-01T00:00:00.000"'
    )
    img_full = F.concat(
        F.lit('{"o_orderkey":{"N":"'), F.col("o_orderkey").cast("string"),
        F.lit('"},"o_custkey":{"N":"'), F.col("o_custkey").cast("string"),
        F.lit('"},"o_orderstatus":{"S":"'), F.col("o_orderstatus"),
        F.lit('"},"o_totalprice":{"N":"'), F.col("o_totalprice").cast("string"),
        F.lit('"},"ok":{"BOOL":true},"note":{"NULL":true},'
              '"tags":{"SS":["a","b"]}}'),
    )
    keys_only = F.concat(
        F.lit('{"o_orderkey":{"N":"'), F.col("o_orderkey").cast("string"),
        F.lit('"}}'),
    )
    body = F.concat(
        F.lit('{"eventID":"e1","eventSource":"aws:dynamodb",'
              '"eventSourceARN":' + arn + ',"eventName":"'),
        F.when(mode == 0, F.lit("INSERT"))
        .when(mode == 1, F.lit("MODIFY"))
        .when(mode == 2, F.lit("REMOVE"))
        .otherwise(F.lit("PING")),
        F.lit('","dynamodb":{"ApproximateCreationDateTime":'), secs,
        F.lit(',"SequenceNumber":"111","StreamViewType":"'),
        F.when(mode == 2, F.lit("KEYS_ONLY")).otherwise(
            F.lit("NEW_AND_OLD_IMAGES")
        ),
        F.lit('","Keys":'), keys_only,
        F.when(mode == 2, F.lit("")).otherwise(
            F.concat(F.lit(',"NewImage":'), img_full)
        ),
        F.lit("}}"),
    )
    parsed = parse_envelope_dynamodb(o.select(body.alias("value")))
    routed = (
        parsed.filter(F.col("action").isNotNull())
        .filter(F.col("object") == "orders_ddb")
        .select(
            "action",
            F.to_timestamp("update_date_raw").alias("update_date"),
            F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
        )
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderkey").alias("n_orderkeys"),
        F.count("o_custkey").alias("n_custkeys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


ORACLES["dynamodb_stream_roundtrip"] = """
    SELECT CASE CAST(o_orderkey % 4 AS INT)
               WHEN 0 THEN 'INSERT'
               WHEN 1 THEN 'UPDATE-INSERT'
               ELSE 'DELETE' END AS action,
           count(*) AS n_rows,
           count(*) AS n_orderkeys,
           CAST(sum(CASE WHEN o_orderkey % 4 IN (0, 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_custkeys,
           round(sum(CASE WHEN o_orderkey % 4 != 2
                          THEN o_totalprice END), 2) AS revenue,
           max(o_orderdate) AS last_update
    FROM orders
    WHERE o_orderkey % 4 <= 2
    GROUP BY 1
"""
QUERIES["dynamodb_stream_roundtrip"] = dynamodb_stream_roundtrip


def cdc_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-frequency profile of a CDC stream: the versions-per-key
    histogram plus hot-key concentration — the report an operator reads
    before picking merge strategy and partitioning (a handful of keys
    carrying most updates means shuffle skew in every downstream MERGE;
    the skew_salted_join treatment starts from exactly this evidence).

    The stream synthesizes deterministically: order o carries
    1 + (o_orderkey % 4) versions (INSERT + that many UPDATE-INSERTs),
    so the histogram and concentration have closed-form oracles.  After
    the envelope parse, per-key version counts reduce the stream once;
    the histogram and the exact integer-rank hot-key share (top 1% of
    keys by version count, rank = integer division, never float) run on
    the bounded version-count grid.

    Scale: one groupBy of the stream on (object, key); the histogram
    frame is bounded by the version-count range.
    """
    o = load_table(spark, sf_dir, "orders")
    versions = o.select(
        "o_orderkey",
        F.explode(
            F.sequence(F.lit(0), (F.col("o_orderkey") % 4).cast("int"))
        ).alias("v"),
    )
    lines = versions.select(
        F.to_json(
            F.struct(
                F.lit("orders_feed").alias("object"),
                F.struct(
                    F.when(F.col("v") == 0, F.lit("INSERT"))
                    .otherwise(F.lit("UPDATE-INSERT"))
                    .alias("change_type")
                ).alias("source_metadata"),
                F.struct(F.col("o_orderkey").alias("o_orderkey")).alias(
                    "payload"
                ),
            )
        ).alias("value")
    )
    env = parse_envelope(lines)
    per_key = (
        env.filter(F.col("action").isNotNull())
        .select(
            "object",
            F.get_json_object("payload_json", "$.o_orderkey").alias("key"),
        )
        .groupBy("object", "key")
        .agg(F.count(F.lit(1)).alias("n_versions"))
    )
    # ONE linear pipeline: per_key used to feed the histogram AND a
    # separate per-object total, and the totals join put the FULL JSON
    # serialize+parse lineage on both sides — the roundtrip ran twice
    # (the multi-consumer recompute class audited round 8).  The totals
    # are now sums over the version-grid histogram via a per-object
    # window (a handful of rows per object), so the pipeline has a
    # single consumer end to end.
    from pyspark.sql import Window as _W

    hist = per_key.groupBy("object", "n_versions").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_versions").alias("n_events"),
    )
    wobj = _W.partitionBy("object")
    out = hist.withColumn(
        "total_keys", F.sum("n_keys").over(wobj)
    ).withColumn("total_events", F.sum("n_events").over(wobj))
    return out.select(
        "object",
        F.col("n_versions").cast("int").alias("n_versions"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round(
            F.col("n_keys") / F.col("total_keys").cast("double"), 6
        ).alias("key_share"),
        F.round(
            F.col("n_events") / F.col("total_events").cast("double"), 6
        ).alias("event_share"),
    ).orderBy("object", "n_versions")


ORACLES["cdc_hot_keys"] = """
    WITH per_key AS (
        SELECT 'orders_feed' AS object, o_orderkey AS key,
               1 + CAST(o_orderkey % 4 AS BIGINT) AS n_versions
        FROM orders
    ),
    hist AS (
        SELECT object, n_versions, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(n_versions) AS BIGINT) AS n_events
        FROM per_key GROUP BY 1, 2
    ),
    tot AS (
        SELECT object, CAST(count(*) AS BIGINT) AS total_keys,
               CAST(sum(n_versions) AS BIGINT) AS total_events
        FROM per_key GROUP BY 1
    )
    SELECT h.object AS object, CAST(n_versions AS INTEGER) AS n_versions,
           n_keys, n_events,
           round(n_keys * 1.0 / total_keys, 6) AS key_share,
           round(n_events * 1.0 / total_events, 6) AS event_share
    FROM hist h JOIN tot t ON h.object = t.object
    ORDER BY h.object, n_versions
"""
QUERIES["cdc_hot_keys"] = cdc_hot_keys


def debezium_flat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> flattened Debezium (ExtractNewRecordState SMT) rows ->
    parse_envelope_debezium_flat -> routed payload decode -> per-action
    rollup (twelfth-producer coverage).

    Exercises the documented SMT output shapes in one plan:
    - okey % 4 = 0: add.fields=op,ts_ms,table row (__op = c, INSERT);
    - okey % 4 = 1: delete.handling.mode=rewrite WITHOUT __op
      (__deleted = "false" -> UPDATE-INSERT — the SMT can't distinguish
      c from u in this mode);
    - okey % 4 = 2: rewrite DELETE (__deleted = "true") carrying the
      FULL last row image (keys always recoverable — revenue sums over
      deletes too, unlike the tombstoning producers);
    - okey % 4 = 3: plain SMT row with NO added metadata -> INSERT with
      a NULL timestamp (indistinguishable from a snapshot insert);
    - the __* metadata keys drop at the routed from_json decode.
    """
    from ..sources.cdc_schema import parse_envelope_debezium_flat

    o = load_table(spark, sf_dir, "orders")
    ms = (F.unix_timestamp(F.to_timestamp("o_orderdate")) * 1000).cast(
        "long"
    ).cast("string")
    mode = F.col("o_orderkey") % 4
    row_body = F.concat(
        F.lit('"o_orderkey":'), F.col("o_orderkey").cast("string"),
        F.lit(',"o_custkey":'), F.col("o_custkey").cast("string"),
        F.lit(',"o_orderstatus":"'), F.col("o_orderstatus"),
        F.lit('","o_totalprice":'), F.col("o_totalprice").cast("string"),
    )
    meta_full = F.concat(
        F.lit(',"__op":"c","__ts_ms":'), ms,
        F.lit(',"__table":"orders_feed","__lsn":9911'),
    )
    meta_upd = F.concat(
        F.lit(',"__deleted":"false","__ts_ms":'), ms,
        F.lit(',"__table":"orders_feed"'),
    )
    meta_del = F.concat(
        F.lit(',"__deleted":"true","__ts_ms":'), ms,
        F.lit(',"__table":"orders_feed"'),
    )
    line = F.concat(
        F.lit("{"),
        row_body,
        F.when(mode == 0, meta_full)
        .when(mode == 1, meta_upd)
        .when(mode == 2, meta_del)
        .otherwise(F.lit("")),
        F.lit("}"),
    )
    parsed = parse_envelope_debezium_flat(
        o.select(line.alias("value")), default_table="orders_feed"
    )
    routed = (
        parsed.filter(F.col("action").isNotNull())
        .filter(F.col("object") == "orders_feed")
        .select(
            "action",
            F.to_timestamp("update_date_raw").alias("update_date"),
            F.from_json("payload_json", _PAYLOAD_SCHEMA).alias("p"),
        )
    )
    rows = routed.select("action", "update_date", "p.*")
    return rows.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("n_custkeys"),
        F.count("update_date").alias("n_timestamped"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.max("update_date").alias("last_update"),
    )


ORACLES["debezium_flat_roundtrip"] = """
    SELECT CASE CAST(o_orderkey % 4 AS INT)
               WHEN 0 THEN 'INSERT'
               WHEN 1 THEN 'UPDATE-INSERT'
               WHEN 2 THEN 'DELETE'
               ELSE 'INSERT' END AS action,
           count(*) AS n_rows,
           count(*) AS n_custkeys,
           CAST(sum(CASE WHEN o_orderkey % 4 <= 2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_timestamped,
           round(sum(o_totalprice), 2) AS revenue,
           max(CASE WHEN o_orderkey % 4 <= 2 THEN o_orderdate END)
               AS last_update
    FROM orders
    GROUP BY 1
"""
QUERIES["debezium_flat_roundtrip"] = debezium_flat_roundtrip


def cdc_conformance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dialect conformance matrix (VERDICT r7 #4b): the golden
    canonical change set (sources/conformance.py — 5 operations over two
    tables) rendered into all 12 producer wire formats, parsed in ONE
    frame by the per-line auto dispatcher, payload-decoded, and grouped
    by the full canonical row.  Every canonical operation must be
    recovered from EVERY dialect: n_dialects = 12 on all 5 rows, which
    the static-VALUES oracle pins — a wrong action map, a dropped
    payload field, or a mis-parsed timestamp in ANY dialect breaks the
    hash.  DELETEs are key-only in every rendering, so the decoded rows
    are value-identical across dialects by construction.

    Scale: a 60-row literal frame — the conformance contract itself is
    fixed-size at every SF (expected 10x ratio ~1.0 by construction);
    the per-dialect THROUGHPUT paths are exercised by the envelope
    roundtrip queries over orders.  Wall cost (~5 s solo) is whole-stage
    CODEGEN COMPILE of the auto dispatcher's 12-dialect union tree, not
    data — constant, and the same compile any mixed-stream micro-batch
    pays once per plan.
    """
    from ..sources.cdc_schema import parse_envelope_auto
    from ..sources.conformance import RENDERERS, render

    rows = [(d, ln) for d in sorted(RENDERERS) for ln in render(d)]
    # repartition(1), NOT coalesce(1): the exchange breaks the
    # LocalRelation lineage, without which Catalyst constant-folds the
    # auto dispatcher's full 12-dialect expression tree driver-side in
    # interpreted mode on every optimizer pass — measured 52 s for these
    # 60 rows vs 2.6 s behind the exchange.  One partition because the
    # frame is 60 literal rows.
    src = spark.createDataFrame(
        rows, "dialect string, value string"
    ).repartition(1)
    env = parse_envelope_auto(src)
    # dialect recovers from the raw line via a literal map — joining env
    # back to src would duplicate the dispatcher's expression tree on
    # both join sides and double its codegen cost
    dialect_of = F.create_map(
        *[x for d, ln in rows for x in (F.lit(ln), F.lit(d))]
    )
    j = env.select(
        dialect_of[F.col("raw")].alias("dialect"),
        "object", "action", "update_date_raw", "payload_json",
    )
    payload = T.StructType(
        [
            T.StructField("product_id", T.StringType()),
            T.StructField("product_category_name", T.StringType()),
            T.StructField("product_photos_qty", T.LongType()),
            T.StructField("product_weight_g", T.DoubleType()),
            T.StructField("first_name", T.StringType()),
            T.StructField("email", T.StringType()),
        ]
    )
    canon = j.select(
        "dialect",
        "object",
        "action",
        F.unix_seconds(
            F.col("update_date_raw").cast("timestamp")
        ).alias("ts_epoch"),
        F.from_json("payload_json", payload).alias("p"),
    )
    return (
        canon.groupBy(
            "object", "action", "ts_epoch",
            F.col("p.product_id").alias("product_id"),
            F.col("p.product_category_name").alias("category"),
            F.col("p.product_photos_qty").alias("photos_qty"),
            F.col("p.product_weight_g").alias("weight_g"),
            F.col("p.first_name").alias("first_name"),
            F.col("p.email").alias("email"),
        )
        .agg(
            F.count_distinct("dialect").cast("bigint").alias("n_dialects"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .orderBy("object", "ts_epoch")
    )


QUERIES["cdc_conformance_matrix"] = cdc_conformance_matrix
ORACLES["cdc_conformance_matrix"] = """
    SELECT * FROM (VALUES
        ('olist_produtos', 'INSERT', CAST(1704067200 AS BIGINT),
         'p1', 'toys', CAST(2 AS BIGINT), 100.0,
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(12 AS BIGINT), CAST(12 AS BIGINT)),
        ('olist_produtos', 'INSERT', CAST(1704110400 AS BIGINT),
         'p2', 'books', CAST(1 AS BIGINT), 80.0,
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(12 AS BIGINT), CAST(12 AS BIGINT)),
        ('olist_produtos', 'UPDATE-INSERT', CAST(1704153600 AS BIGINT),
         'p1', 'games', CAST(3 AS BIGINT), 120.0,
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(12 AS BIGINT), CAST(12 AS BIGINT)),
        ('olist_produtos', 'DELETE', CAST(1704240000 AS BIGINT),
         'p2', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(12 AS BIGINT), CAST(12 AS BIGINT)),
        ('olist_users', 'INSERT', CAST(1704443400 AS BIGINT),
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), 'ana', 'a@x.com',
         CAST(12 AS BIGINT), CAST(12 AS BIGINT))
    ) AS t(object, action, ts_epoch, product_id, category, photos_qty,
           weight_g, first_name, email, n_dialects, n_rows)
    ORDER BY object, ts_epoch
"""


def dead_letter_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dead-letter replay conformance (VERDICT r8 #2): the full
    12-dialect golden corpus PLUS all 13 negative-control records ingested
    under an EMPTY registry (everything quarantines — the
    missing-table misconfiguration), then the registry is fixed and
    ``CdcIngest.replay_dead_letters`` re-drives the quarantine through the
    auto dispatcher.  The oracle pins the whole lifecycle:

    - pre-replay quarantine = 73 (60 golden + 13 controls);
    - replay moves exactly the 60 canonical rows; the 13 controls stay
      quarantined (truncates/heartbeats/DDL must never apply);
    - the re-homed history rows are VALUE-identical across all 12
      dialects (n_dialects = 12 on every canonical operation — the
      conformance-matrix check, but through the real sinks + replay
      instead of a pure parse);
    - a second replay is a no-op (0 moved, quarantine unchanged) — the
      idempotence contract.

    The cycle runs in a temp dir at query-build time and snapshots its
    BOUNDED result (10 rows: 5 lifecycle counters + 5 canonical groups)
    into a literal frame — the scalar-witness pattern; nothing about the
    corpus scales with SF.  Replay THROUGHPUT is the same narrow
    parse/route plan live ingest runs (benched by cdc_ingest); this query
    pins the semantics.  Reference: the quarantine itself upgrades
    src/dataflow-cdc-stream.py:97's ``print``; the reference has no
    replay story at all.
    """
    import os
    import shutil
    import tempfile

    from ..sources.conformance import (
        CONFORMANCE_REGISTRY,
        CONTROLS,
        RENDERERS,
        render,
    )
    from ..sources.registry import SchemaRegistry
    from ..streaming.ingest import CdcIngest

    work = tempfile.mkdtemp(prefix="dl_replay_")
    try:
        lines = [ln for d in sorted(RENDERERS) for ln in render(d)]
        lines += [ln for _, ln in CONTROLS]
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        with open(os.path.join(in_dir, "changes.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
        ing = CdcIngest(
            spark=spark,
            registry=SchemaRegistry.from_dict({}),
            input_dir=in_dir,
            output_dir=os.path.join(work, "out"),
            checkpoint_dir=os.path.join(work, "ck"),
            envelope_format="auto",
        )
        ing.run_available_single_pass()
        pre_dead = ing.dead_letter().count()

        ing.registry = SchemaRegistry.from_dict(CONFORMANCE_REGISTRY)
        stats = ing.replay_dead_letters()
        noop = ing.replay_dead_letters()

        canon = [
            (
                "post", "produtos_cdc", r["action"], r["ts_epoch"],
                r["product_id"], r["category"], r["photos_qty"],
                r["weight_g"], None, r["n"],
            )
            for r in ing.history("olist_produtos")
            .groupBy(
                F.col("action"),
                F.unix_seconds(
                    F.col("update_date").cast("timestamp")
                ).alias("ts_epoch"),
                F.col("product_id"),
                F.col("product_category_name").alias("category"),
                F.col("product_photos_qty").cast("long").alias("photos_qty"),
                F.col("product_weight_g").cast("double").alias("weight_g"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ] + [
            (
                "post", "users_cdc", r["action"], r["ts_epoch"],
                r["first_name"], None, None, None, r["email"], r["n"],
            )
            for r in ing.history("olist_users")
            .groupBy(
                F.col("action"),
                F.unix_seconds(F.col("update_date")).alias("ts_epoch"),
                F.col("first_name"),
                F.col("email"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        rows = [
            ("pre", "_dead_letter", None, None, None, None, None, None,
             None, pre_dead),
            ("post", "_replayed", None, None, None, None, None, None,
             None, stats["replayed"]),
            ("post", "_dead_letter", None, None, None, None, None, None,
             None, stats["requarantined"]),
            ("noop", "_replayed", None, None, None, None, None, None,
             None, noop["replayed"]),
            ("noop", "_dead_letter", None, None, None, None, None, None,
             None, noop["requarantined"]),
            *canon,
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    schema = (
        "stage string, sink string, action string, ts_epoch long, "
        "rec_key string, category string, photos_qty long, "
        "weight_g double, email string, n long"
    )
    return spark.createDataFrame(rows, schema).orderBy(
        "stage", "sink", "ts_epoch"
    )


QUERIES["dead_letter_replay"] = dead_letter_replay
ORACLES["dead_letter_replay"] = """
    SELECT * FROM (VALUES
        ('pre',  '_dead_letter', CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
         CAST(73 AS BIGINT)),
        ('post', '_replayed', CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
         CAST(60 AS BIGINT)),
        ('post', '_dead_letter', CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
         CAST(13 AS BIGINT)),
        ('noop', '_replayed', CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
         CAST(0 AS BIGINT)),
        ('noop', '_dead_letter', CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
         CAST(13 AS BIGINT)),
        ('post', 'produtos_cdc', 'INSERT', CAST(1704067200 AS BIGINT),
         'p1', 'toys', CAST(2 AS BIGINT), 100.0,
         CAST(NULL AS VARCHAR), CAST(12 AS BIGINT)),
        ('post', 'produtos_cdc', 'INSERT', CAST(1704110400 AS BIGINT),
         'p2', 'books', CAST(1 AS BIGINT), 80.0,
         CAST(NULL AS VARCHAR), CAST(12 AS BIGINT)),
        ('post', 'produtos_cdc', 'UPDATE-INSERT',
         CAST(1704153600 AS BIGINT),
         'p1', 'games', CAST(3 AS BIGINT), 120.0,
         CAST(NULL AS VARCHAR), CAST(12 AS BIGINT)),
        ('post', 'produtos_cdc', 'DELETE', CAST(1704240000 AS BIGINT),
         'p2', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
         CAST(12 AS BIGINT)),
        ('post', 'users_cdc', 'INSERT', CAST(1704443400 AS BIGINT),
         'ana', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), 'a@x.com', CAST(12 AS BIGINT))
    ) AS t(stage, sink, action, ts_epoch, rec_key, category,
           photos_qty, weight_g, email, n)
    ORDER BY stage, sink, ts_epoch
"""


def schema_evolution_add_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mid-stream ADD COLUMN conformance (VERDICT r9 #2): the
    full 12-dialect golden corpus streams under registry v1; the registry
    file then gains product_length_cm (the safe add-column successor
    SchemaRegistry.check_evolution admits) WHILE THE STREAM RUNS, and
    every dialect starts emitting the column
    (sources/conformance.py EVOLUTION_CHANGES). The oracle pins:

    - pre-add history rows = 48 (4 canonical produtos ops x 12 dialects),
      ALL projecting NULL for the new column (old files are never
      rewritten — the read schema projects);
    - post-add rows carry the per-dialect typed values, VALUE-identical
      across all 12 dialects (n_dialects = 12 on both canonical
      evolution ops) — through the real hot-reload path + auto
      dispatcher + sinks, not a pure parse.

    Scalar-witness pattern: the cycle runs in a temp dir at query-build
    time; its BOUNDED result (4 rows) snapshots into a literal frame.
    Nothing scales with SF. Reference: the reference re-reads
    data-stream.json per record (src/dataflow-cdc-stream.py:71-76) but
    has no safe-evolution validation at all.
    """
    import json
    import os
    import shutil
    import tempfile

    from ..sources.conformance import (
        CONFORMANCE_REGISTRY,
        RENDERERS,
        evolved_registry,
        render,
        render_evolution,
    )
    from ..sources.registry import SchemaRegistry
    from ..streaming.ingest import CdcIngest

    work = tempfile.mkdtemp(prefix="evo_add_")
    try:
        dialects = sorted(RENDERERS)
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        reg_path = os.path.join(work, "data-stream.json")
        with open(reg_path, "w") as f:
            json.dump(CONFORMANCE_REGISTRY, f)
        with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
            f.write(
                "\n".join(ln for d in dialects for ln in render(d)) + "\n"
            )
        ing = CdcIngest(
            spark=spark,
            registry=SchemaRegistry.from_file(reg_path),
            input_dir=in_dir,
            output_dir=os.path.join(work, "out"),
            checkpoint_dir=os.path.join(work, "ck"),
            envelope_format="auto",
            registry_path=reg_path,
        )
        q = ing.start_single_pass()
        try:
            q.processAllAvailable()
            with open(reg_path, "w") as f:
                json.dump(evolved_registry(), f)
            with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
                f.write(
                    "\n".join(
                        ln for d in dialects for ln in render_evolution(d)
                    )
                    + "\n"
                )
            q.processAllAvailable()
        finally:
            ing.stop()
        hist = ing.history("olist_produtos").withColumn(
            "ts", F.unix_seconds(F.col("update_date").cast("timestamp"))
        )
        pre = hist.filter(F.col("ts") < 1704499200)
        rows = [
            ("pre_rows", None, None, None, pre.count()),
            (
                "pre_null_projected", None, None, None,
                pre.filter(F.col("product_length_cm").isNull()).count(),
            ),
        ] + [
            (
                "post", r["product_id"], r["ts"], r["product_length_cm"],
                r["n"],
            )
            for r in hist.filter(F.col("ts") >= 1704499200)
            .groupBy("product_id", "ts", "product_length_cm")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "stage string, rec_key string, ts_epoch long, length_cm double, "
        "n long",
    ).orderBy("stage", "ts_epoch")


QUERIES["schema_evolution_add_column"] = schema_evolution_add_column
ORACLES["schema_evolution_add_column"] = """
    SELECT * FROM (VALUES
        ('post', 'p1', CAST(1704499200 AS BIGINT), 30.0,
         CAST(12 AS BIGINT)),
        ('post', 'p3', CAST(1704585600 AS BIGINT), 45.0,
         CAST(12 AS BIGINT)),
        ('pre_null_projected', CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
         CAST(48 AS BIGINT)),
        ('pre_rows', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(48 AS BIGINT))
    ) AS t(stage, rec_key, ts_epoch, length_cm, n)
    ORDER BY stage, ts_epoch
"""


# Diverse 3-dialect subset for the widening/drop lifecycles: the
# per-dialect WIRE decoding is already proven by cdc_conformance_matrix
# and schema_evolution_add_column (all 12); widening/drop semantics are
# registry/sink-side and dialect-independent, so three structurally
# different encodings (nested Debezium, flat Maxwell, DynamoDB
# AttributeValue) witness the cross-dialect claim at a quarter the
# dispatcher cost.
_EVO_DIALECTS = ("debezium", "dynamodb", "maxwell")


def schema_evolution_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mid-stream TYPE WIDENING (VERDICT r9 #6): the corpus
    streams under a registry declaring product_photos_qty INT32 /
    product_weight_g FLOAT32; the registry then widens both to
    INT64/FLOAT64 while the stream runs, and producers emit a value
    outside the 32-bit domain (5_000_000_000). Old history files keep
    their narrow PHYSICAL types — Spark 4's parquet reader up-converts
    them at scan time (sources/registry.py SAFE_WIDENINGS, measured:
    int32->int64 / float32->float64 read fine; int64->double raises and
    stays rejected). The oracle pins the pre-widening values read back
    exactly under the widened schema AND the 64-bit value landing per
    dialect.
    """
    import json
    import os
    import shutil
    import tempfile

    from ..sources.conformance import (
        CONFORMANCE_REGISTRY,
        narrow_registry,
        render,
        render_widening,
    )
    from ..sources.registry import SchemaRegistry
    from ..streaming.ingest import CdcIngest

    work = tempfile.mkdtemp(prefix="evo_wide_")
    try:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        reg_path = os.path.join(work, "data-stream.json")
        with open(reg_path, "w") as f:
            json.dump(narrow_registry(), f)
        with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
            f.write(
                "\n".join(
                    ln for d in _EVO_DIALECTS for ln in render(d)
                ) + "\n"
            )
        ing = CdcIngest(
            spark=spark,
            registry=SchemaRegistry.from_file(reg_path),
            input_dir=in_dir,
            output_dir=os.path.join(work, "out"),
            checkpoint_dir=os.path.join(work, "ck"),
            envelope_format="auto",
            registry_path=reg_path,
        )
        q = ing.start_single_pass()
        try:
            q.processAllAvailable()
            narrow_types = dict(ing.history("olist_produtos").dtypes)
            with open(reg_path, "w") as f:
                json.dump(CONFORMANCE_REGISTRY, f)
            with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
                f.write(
                    "\n".join(
                        ln for d in _EVO_DIALECTS
                        for ln in render_widening(d)
                    ) + "\n"
                )
            q.processAllAvailable()
        finally:
            ing.stop()
        hist = ing.history("olist_produtos")
        wide_types = dict(hist.dtypes)
        rows = [
            (
                "dtype_pre_narrow", None,
                f"{narrow_types['product_photos_qty']}/"
                f"{narrow_types['product_weight_g']}",
                None, None, 1,
            ),
            (
                "dtype_post_wide", None,
                f"{wide_types['product_photos_qty']}/"
                f"{wide_types['product_weight_g']}",
                None, None, 1,
            ),
        ] + [
            (
                "rows", r["product_id"], r["action"],
                r["product_photos_qty"], r["product_weight_g"], r["n"],
            )
            for r in hist.groupBy(
                "product_id", "action", "product_photos_qty",
                "product_weight_g",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "stage string, rec_key string, action string, photos_qty long, "
        "weight_g double, n long",
    ).orderBy("stage", "rec_key", "action", "photos_qty")


QUERIES["schema_evolution_widening"] = schema_evolution_widening
ORACLES["schema_evolution_widening"] = """
    SELECT * FROM (VALUES
        ('dtype_post_wide', CAST(NULL AS VARCHAR), 'bigint/double',
         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(1 AS BIGINT)),
        ('dtype_pre_narrow', CAST(NULL AS VARCHAR), 'int/float',
         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(1 AS BIGINT)),
        ('rows', 'p1', 'INSERT', CAST(2 AS BIGINT), 100.0,
         CAST(3 AS BIGINT)),
        ('rows', 'p1', 'UPDATE-INSERT', CAST(3 AS BIGINT), 120.0,
         CAST(3 AS BIGINT)),
        ('rows', 'p2', 'DELETE', CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(3 AS BIGINT)),
        ('rows', 'p2', 'INSERT', CAST(1 AS BIGINT), 80.0,
         CAST(3 AS BIGINT)),
        ('rows', 'p4', 'INSERT', CAST(5000000000 AS BIGINT), 123.5,
         CAST(3 AS BIGINT))
    ) AS t(stage, rec_key, action, photos_qty, weight_g, n)
    ORDER BY stage, rec_key, action, photos_qty
"""


def schema_evolution_column_drop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end mid-stream DROP COLUMN + tombstone lifecycle
    (VERDICT r9 #6): product_weight_g is dropped from the registry while
    the stream runs (opt-in allow_column_drops). Old files keep the data
    physically; reads project it away; the drop lands in
    _schema_tombstones.json. A later re-add as STRING — unreadable over
    the buried DOUBLE files — must be REFUSED via the tombstone, while a
    re-add under the original type is admitted and resurfaces the buried
    values. The oracle pins every lifecycle stage as a scalar witness.
    """
    import json
    import os
    import shutil
    import tempfile

    from ..sources.conformance import (
        CONFORMANCE_REGISTRY,
        dropped_registry,
        readded_registry,
        render,
        render_drop,
    )
    from ..sources.registry import SchemaRegistry
    from ..streaming.ingest import CdcIngest

    work = tempfile.mkdtemp(prefix="evo_drop_")
    try:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        out_dir = os.path.join(work, "out")
        reg_path = os.path.join(work, "data-stream.json")
        with open(reg_path, "w") as f:
            json.dump(CONFORMANCE_REGISTRY, f)
        with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
            f.write(
                "\n".join(
                    ln for d in _EVO_DIALECTS for ln in render(d)
                ) + "\n"
            )
        ing = CdcIngest(
            spark=spark,
            registry=SchemaRegistry.from_file(reg_path),
            input_dir=in_dir,
            output_dir=out_dir,
            checkpoint_dir=os.path.join(work, "ck"),
            envelope_format="auto",
            registry_path=reg_path,
            allow_column_drops=True,
        )
        q = ing.start_single_pass()
        try:
            q.processAllAvailable()
            with open(reg_path, "w") as f:
                json.dump(dropped_registry(), f)
            with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
                f.write(
                    "\n".join(
                        ln for d in _EVO_DIALECTS for ln in render_drop(d)
                    ) + "\n"
                )
            q.processAllAvailable()
        finally:
            ing.stop()
        hist = ing.history("olist_produtos")
        dropped_projected = int("product_weight_g" not in hist.columns)
        n_post_drop = hist.count()
        with open(os.path.join(out_dir, "_schema_tombstones.json")) as f:
            tomb_ok = int(
                json.load(f)
                == {"olist_produtos.product_weight_g": "double"}
            )

        # a third batch of input so the re-add attempts each fire a
        # micro-batch (hot reload is checked per batch); the STRING
        # attempt fails BEFORE committing it, so the FLOAT run consumes
        # the same batch and its reload lands
        with open(os.path.join(in_dir, "b3.jsonl"), "w") as f:
            f.write(
                "\n".join(
                    ln for d in _EVO_DIALECTS for ln in render_drop(d)
                ) + "\n"
            )
        with open(reg_path, "w") as f:
            json.dump(readded_registry("STRING"), f)
        refused = 0
        try:
            q2 = ing.start_single_pass()
            q2.processAllAvailable()
        except Exception as e:  # noqa: BLE001
            refused = int("tombstoned" in str(e))
        finally:
            ing.stop()

        with open(reg_path, "w") as f:
            json.dump(readded_registry("FLOAT"), f)
        q3 = ing.start_single_pass()
        try:
            q3.processAllAvailable()
        finally:
            ing.stop()
        hist3 = ing.history("olist_produtos")
        resurfaced = (
            hist3.filter(
                "product_id = 'p1' AND product_weight_g = 100.0"
            ).count()
        )
        rows = [
            ("drop_projected_on_read", dropped_projected),
            ("post_drop_rows", n_post_drop),
            ("tombstone_recorded", tomb_ok),
            ("readd_string_refused", refused),
            ("readd_float_resurfaces_p1", resurfaced),
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, "stage string, n long").orderBy(
        "stage"
    )


QUERIES["schema_evolution_column_drop"] = schema_evolution_column_drop
ORACLES["schema_evolution_column_drop"] = """
    SELECT * FROM (VALUES
        ('drop_projected_on_read', CAST(1 AS BIGINT)),
        ('post_drop_rows', CAST(15 AS BIGINT)),
        ('readd_float_resurfaces_p1', CAST(3 AS BIGINT)),
        ('readd_string_refused', CAST(1 AS BIGINT)),
        ('tombstone_recorded', CAST(1 AS BIGINT))
    ) AS t(stage, n)
    ORDER BY stage
"""


def schema_evolution_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mid-stream COLUMN RENAME lifecycle (VERDICT r10 #3):
    RENAME COLUMN product_category_name TO category lands in the
    registry while the stream runs, declared via ``renamed_from`` on the
    new field (the Avro schema-resolution ALIAS pattern — from the
    document diff alone, rename(a→b) and drop(a)+add(b) are
    indistinguishable; the declaration carries identity, and the
    registry file is the single source of schema truth exactly as in
    the reference, src/data-stream.json loaded at
    src/dataflow-cdc-stream.py:71-76).

    Stages pinned as scalar witnesses: (1) old files physically keep
    the OLD name; reads coalesce the buried predecessor into the new
    column, so pre-rename values surface under ``category``; (2) a
    post-rename producer emitting the new name lands; (3) a LAGGING
    producer still emitting the old name lands via the parse-side
    fallback (the rename transition window); (4) dialect DDL control
    records for the rename (Canal ALTER sql, Maxwell table-alter)
    dead-letter, never apply; (5) the rename map + tombstone persist
    sink-side; (6) re-introducing the renamed-away name is REFUSED
    (unlike a dropped column, the data is live under its successor);
    (7) a SECOND rename (category → product_category) proves CHAIN
    continuity — values buried two renames deep still read under the
    current name.  3-dialect structurally-diverse subset
    (_EVO_DIALECTS); the full-12 wire proof lives in the conformance
    matrix + the golden e2e tests.
    """
    import json
    import os
    import shutil
    import tempfile

    from ..sources.conformance import (
        CONFORMANCE_REGISTRY,
        RENAME_CONTROLS,
        RENDERERS,
        render,
        render_rename,
        renamed_registry,
    )
    from ..sources.registry import SchemaRegistry
    from ..streaming.ingest import CdcIngest

    work = tempfile.mkdtemp(prefix="evo_rename_")
    try:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        out_dir = os.path.join(work, "out")
        reg_path = os.path.join(work, "data-stream.json")
        with open(reg_path, "w") as f:
            json.dump(CONFORMANCE_REGISTRY, f)
        with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
            f.write(
                "\n".join(
                    ln for d in _EVO_DIALECTS for ln in render(d)
                ) + "\n"
            )
        ing = CdcIngest(
            spark=spark,
            registry=SchemaRegistry.from_file(reg_path),
            input_dir=in_dir,
            output_dir=out_dir,
            checkpoint_dir=os.path.join(work, "ck"),
            envelope_format="auto",
            registry_path=reg_path,
        )
        q = ing.start_single_pass()
        try:
            q.processAllAvailable()
            with open(reg_path, "w") as f:
                json.dump(renamed_registry(), f)
            with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
                f.write(
                    "\n".join(
                        [
                            ln
                            for d in _EVO_DIALECTS
                            for ln in render_rename(d)
                        ]
                        + RENAME_CONTROLS
                    ) + "\n"
                )
            q.processAllAvailable()
        finally:
            ing.stop()
        hist = ing.history("olist_produtos")
        projected = int(
            "category" in hist.columns
            and "product_category_name" not in hist.columns
        )
        n_rows = hist.count()
        games = hist.filter(
            "action = 'UPDATE-INSERT' AND category = 'games'"
        ).count()
        new_name = hist.filter("category = 'puzzles'").count()
        lagging = hist.filter("category = 'garden'").count()
        ddl_dead = ing.dead_letter().count()
        with open(os.path.join(out_dir, "_schema_renames.json")) as f:
            map_ok = int(
                json.load(f)
                == {"olist_produtos.category": "product_category_name"}
            )

        # re-introducing the renamed-away name: refused before the
        # batch commits, so the trigger line is consumed by the NEXT
        # (admissible) run
        bad = renamed_registry()
        bad["olist_produtos"]["schema"]["fields"].insert(
            2, {"name": "product_category_name", "type": "STRING"}
        )
        with open(reg_path, "w") as f:
            json.dump(bad, f)
        with open(os.path.join(in_dir, "b3.jsonl"), "w") as f:
            f.write(render("datastream")[4] + "\n")  # users trigger line
        refused = 0
        try:
            q2 = ing.start_single_pass()
            q2.processAllAvailable()
        except Exception as e:  # noqa: BLE001
            refused = int("renamed away" in str(e))
        finally:
            ing.stop()

        # second rename: category -> product_category (chain a→b→c)
        chained = renamed_registry()
        for fld in chained["olist_produtos"]["schema"]["fields"]:
            if fld["name"] == "category":
                fld["name"] = "product_category"
                fld["renamed_from"] = "category"
        with open(reg_path, "w") as f:
            json.dump(chained, f)
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
        chain_toys = hist3.filter(
            "action = 'INSERT' AND product_category = 'toys'"
        ).count()
        chain_p8 = hist3.filter("product_category = 'decor'").count()

        rows = [
            ("chained_p1_toys", chain_toys),
            ("chained_p8_decor", chain_p8),
            ("ddl_controls_dead_lettered", ddl_dead),
            ("lagging_old_name_rows", lagging),
            ("new_name_rows", new_name),
            ("post_rename_rows", n_rows),
            ("pre_rename_games_rows", games),
            ("readd_old_name_refused", refused),
            ("rename_map_recorded", map_ok),
            ("rename_projected_on_read", projected),
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, "stage string, n long").orderBy(
        "stage"
    )


QUERIES["schema_evolution_rename"] = schema_evolution_rename
ORACLES["schema_evolution_rename"] = """
    SELECT * FROM (VALUES
        ('chained_p1_toys', CAST(3 AS BIGINT)),
        ('chained_p8_decor', CAST(1 AS BIGINT)),
        ('ddl_controls_dead_lettered', CAST(2 AS BIGINT)),
        ('lagging_old_name_rows', CAST(3 AS BIGINT)),
        ('new_name_rows', CAST(3 AS BIGINT)),
        ('post_rename_rows', CAST(18 AS BIGINT)),
        ('pre_rename_games_rows', CAST(3 AS BIGINT)),
        ('readd_old_name_refused', CAST(1 AS BIGINT)),
        ('rename_map_recorded', CAST(1 AS BIGINT)),
        ('rename_projected_on_read', CAST(1 AS BIGINT))
    ) AS t(stage, n)
    ORDER BY stage
"""


def commitlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed net-delta semantics over the commit-log sink
    (VERDICT r9 #2; semantics pinned in commit 0242b37): orders split
    into three txn appends by o_orderkey % 3, with a compaction between
    the second and third. The oracle (computed straight from orders)
    pins:

    - feed(v0->v1) = exactly the second append's rows as inserts;
    - feed(v1->v2) = EMPTY: a compaction rewrites the same rows into new
      files, and the add-side/remove-side bags cancel (net-delta, not
      file-delta);
    - feed(v0->v3) = both later appends as inserts, no deletes — the
      compaction stays invisible across the span;
    - reconstruction: v0 snapshot + feed(v0->v3) == v3 snapshot == all
      of orders (the CDF contract: applying the feed reproduces the
      target snapshot exactly).

    Scale: the feed between versions reads only files ADDED or REMOVED
    between them — never the table; at 100 TB an adjacent-version feed
    touches one commit's files. Sums are DECIMAL(18,2)-exact, cast to
    DOUBLE only for the final column.
    """
    import os
    import shutil
    import tempfile

    from ..streaming.commitlog import CommitLogTable

    work = tempfile.mkdtemp(prefix="cdf_")
    try:
        t = CommitLogTable(spark, os.path.join(work, "t"))
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        bucket = F.col("o_orderkey") % 3
        t.write_append(orders.filter(bucket == 0), txn="b0")  # v0
        t.write_append(orders.filter(bucket == 1), txn="b1")  # v1
        t.compact(txn="c")                                    # v2
        t.write_append(orders.filter(bucket == 2), txn="b2")  # v3

        def _summarize(df):
            return df.agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
                ).cast("double").alias("s"),
            ).collect()[0]

        sch = t.read().schema
        rows = []
        f03 = t.read_changes(0, 3)
        for stage, feed in [
            ("feed_v0_v1", t.read_changes(0, 1)),
            ("feed_v0_v3", f03),
        ]:
            for r in (
                feed.groupBy("_change_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(
                        F.sum(
                            F.col("o_totalprice").cast("decimal(18,2)")
                        ), 2
                    ).cast("double").alias("s"),
                )
                .collect()
            ):
                rows.append((stage, r["_change_type"], r["n"], r["s"]))
        # the compaction feed must be EMPTY — witnessed, not assumed
        rows.append(
            (
                "feed_v1_v2", "net_empty",
                t.read_changes(1, 2, schema=sch).count(), 0.0,
            )
        )
        snap0 = t.read(version=0)
        ins = f03.filter("_change_type = 'insert'").drop(
            "_change_type", "_commit_version"
        )
        dels = f03.filter("_change_type = 'delete'").drop(
            "_change_type", "_commit_version"
        )
        recon = snap0.unionByName(ins).exceptAll(dels)
        for stage, df in [
            ("recon_v0_plus_feed", recon),
            ("snapshot_v3", t.read(version=3)),
        ]:
            r = _summarize(df)
            rows.append((stage, "all", r["n"], r["s"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "stage string, change_type string, n_rows long, sum_price double",
    ).orderBy("stage", "change_type")


QUERIES["commitlog_change_feed"] = commitlog_change_feed
ORACLES["commitlog_change_feed"] = """
    WITH b AS (
        SELECT o_orderkey % 3 AS bkt, o_totalprice FROM orders
    )
    SELECT 'feed_v0_v1' AS stage, 'insert' AS change_type,
           count(*) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS sum_price
    FROM b WHERE bkt = 1
    UNION ALL
    SELECT 'feed_v0_v3', 'insert', count(*),
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE)
    FROM b WHERE bkt IN (1, 2)
    UNION ALL
    SELECT 'feed_v1_v2', 'net_empty', 0, 0.0
    UNION ALL
    SELECT 'recon_v0_plus_feed', 'all', count(*),
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE)
    FROM b
    UNION ALL
    SELECT 'snapshot_v3', 'all', count(*),
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE)
    FROM b
    ORDER BY stage, change_type
"""


def commitlog_compact_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE+VACUUM lifecycle over the commit-log sink (the r9
    ``--maintain`` path's semantic core, previously only test-proven):
    orders lands in five single-file txn appends (o_orderkey % 5), then
    one compaction rewrites the snapshot, then VACUUM sweeps the
    unreferenced originals. The oracle (computed straight from orders)
    pins:

    - rows and DECIMAL-exact revenue IDENTICAL before/after compaction
      and after vacuum (a rewrite must never change the table);
    - file counts 5 -> 1 (the small-file problem solved);
    - time travel to the pre-compaction version still works BEFORE
      vacuum (row count at v4 == full table);
    - vacuum removes exactly the five entombed originals, and a
      replayed compaction txn is a no-op (idempotence).

    Scale: compaction reads the live snapshot once and writes
    ``target_partitions`` files; vacuum walks only the table's data dir.
    At 100 TB this runs per-table on a schedule exactly like Delta's
    OPTIMIZE+VACUUM; the change-feed interplay (a compaction nets to an
    EMPTY feed) is pinned by commitlog_change_feed.
    """
    import os
    import shutil
    import tempfile

    from ..streaming.commitlog import CommitLogTable

    work = tempfile.mkdtemp(prefix="clcv_")
    try:
        t = CommitLogTable(spark, os.path.join(work, "t"))
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        for k in range(5):
            t.write_append(
                orders.filter(F.col("o_orderkey") % 5 == k).repartition(1),
                txn=f"b{k}",
            )

        def _agg(df):
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
                ).cast("double").alias("s"),
            ).collect()[0]
            return r["n"], r["s"]

        n_pre, s_pre = _agg(t.read())
        files_pre = len(t.snapshot_files())
        t.compact(txn="maint-4")
        n_post, s_post = _agg(t.read())
        files_post = len(t.snapshot_files())
        time_travel_n = t.read(version=4).count()
        replay_noop = int(t.compact(txn="maint-4") is False)
        swept = t.vacuum(keep_last=1, min_age_seconds=0)
        n_final, s_final = _agg(t.read())
        rows = [
            ("pre_compact", files_pre, n_pre, s_pre),
            ("post_compact", files_post, n_post, s_post),
            ("time_travel_v4_rows", None, time_travel_n, None),
            ("compact_txn_replay_noop", None, replay_noop, None),
            ("post_vacuum", files_post, n_final, s_final),
            ("vacuum_swept_files", None, swept, None),
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "stage string, n_files long, n_rows long, sum_price double"
    ).orderBy("stage")


QUERIES["commitlog_compact_vacuum"] = commitlog_compact_vacuum
ORACLES["commitlog_compact_vacuum"] = """
    WITH a AS (
        SELECT count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS s
        FROM orders
    )
    SELECT 'compact_txn_replay_noop' AS stage, CAST(NULL AS BIGINT) AS n_files,
           CAST(1 AS BIGINT) AS n_rows, CAST(NULL AS DOUBLE) AS sum_price
    UNION ALL
    SELECT 'post_compact', 1, n, s FROM a
    UNION ALL
    SELECT 'post_vacuum', 1, n, s FROM a
    UNION ALL
    SELECT 'pre_compact', 5, n, s FROM a
    UNION ALL
    SELECT 'time_travel_v4_rows', NULL, n, NULL FROM a
    UNION ALL
    SELECT 'vacuum_swept_files', NULL, 5, NULL
    ORDER BY stage
"""


def cdc_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ACROSS A RESTART, end-to-end in the driver gate (the
    delivery guarantee SURVEY §2.A op 12 claims, previously only
    test-proven): the goldengate golden corpus ingests under a
    commit-log sink; the ingest OBJECT is then discarded — a
    crash/redeploy — and a brand-new ``CdcIngest`` over the SAME
    checkpoint + output dirs drains a second batch (the evolution ops,
    goldengate-rendered, decoded under the v1 registry so the new
    column is simply absent). The oracle pins:

    - after the restart each canonical op sits in history EXACTLY once
      (phase-1 files are offset-committed in the checkpoint, so a
      re-scan would double them; commit-log txn ids would additionally
      no-op a replayed micro-batch);
    - a third drain with NO new input changes nothing (idempotent
      catch-up — counts identical);
    - users history untouched by the produtos-only second batch.

    Scalar-witness pattern over the fixed golden corpus; nothing scales
    with SF.
    """
    import os
    import shutil
    import tempfile

    from ..sources.conformance import (
        CONFORMANCE_REGISTRY,
        render,
        render_evolution,
    )
    from ..sources.registry import SchemaRegistry
    from ..streaming.ingest import CdcIngest

    work = tempfile.mkdtemp(prefix="ckr_")
    try:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
            f.write("\n".join(render("goldengate")) + "\n")

        def make_ingest():
            return CdcIngest(
                spark=spark,
                registry=SchemaRegistry.from_dict(CONFORMANCE_REGISTRY),
                input_dir=in_dir,
                output_dir=os.path.join(work, "out"),
                checkpoint_dir=os.path.join(work, "ck"),
                envelope_format="goldengate",
                commit_log=True,
            )

        ing1 = make_ingest()
        ing1.run_available_single_pass()
        n_p1 = ing1.history("olist_produtos").count()

        # crash/redeploy: a NEW object, same checkpoint; new input lands
        with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
            f.write("\n".join(render_evolution("goldengate")) + "\n")
        ing2 = make_ingest()
        ing2.run_available_single_pass()

        # idempotent catch-up: nothing new to drain
        ing3 = make_ingest()
        ing3.run_available_single_pass()

        hist = ing3.history("olist_produtos")
        canon = [
            ("op", r["product_id"], r["action"], r["ts"], r["n"])
            for r in hist.groupBy(
                F.col("product_id"),
                F.col("action"),
                F.unix_seconds(
                    F.col("update_date").cast("timestamp")
                ).alias("ts"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        rows = [
            ("phase1_rows", None, None, None, n_p1),
            ("final_rows", None, None, None, hist.count()),
            ("users_rows", None, None, None,
             ing3.history("olist_users").count()),
            *canon,
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "stage string, rec_key string, action string, ts_epoch long, "
        "n long",
    ).orderBy("stage", "ts_epoch", "rec_key")


QUERIES["cdc_checkpoint_restart"] = cdc_checkpoint_restart
ORACLES["cdc_checkpoint_restart"] = """
    SELECT * FROM (VALUES
        ('final_rows', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), CAST(6 AS BIGINT)),
        ('op', 'p1', 'INSERT', CAST(1704067200 AS BIGINT),
         CAST(1 AS BIGINT)),
        ('op', 'p2', 'INSERT', CAST(1704110400 AS BIGINT),
         CAST(1 AS BIGINT)),
        ('op', 'p1', 'UPDATE-INSERT', CAST(1704153600 AS BIGINT),
         CAST(1 AS BIGINT)),
        ('op', 'p2', 'DELETE', CAST(1704240000 AS BIGINT),
         CAST(1 AS BIGINT)),
        ('op', 'p1', 'UPDATE-INSERT', CAST(1704499200 AS BIGINT),
         CAST(1 AS BIGINT)),
        ('op', 'p3', 'INSERT', CAST(1704585600 AS BIGINT),
         CAST(1 AS BIGINT)),
        ('phase1_rows', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), CAST(4 AS BIGINT)),
        ('users_rows', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), CAST(1 AS BIGINT))
    ) AS t(stage, rec_key, action, ts_epoch, n)
    ORDER BY stage, ts_epoch, rec_key
"""


def registry_hot_add_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-reload NEW-TABLE routing in the driver gate (reference
    behavior: registry edits take effect mid-stream because it re-reads
    data-stream.json per record, src/dataflow-cdc-stream.py:71-76; the
    engine reproduces it at one stat() per micro-batch): the datastream
    golden corpus streams under a registry that knows ONLY
    olist_produtos — the users op quarantines as unmapped. The registry
    FILE then gains olist_users while the stream runs, and the users op
    arrives again. The oracle pins:

    - pre-reload: 4 produtos rows routed, 1 row quarantined;
    - post-reload: the NEW users op routes (1 history row); the
      EARLIER quarantined copy STAYS in the dead letter — append-only
      semantics, nothing re-routes retroactively (that drain is the
      dead-letter replay's job, pinned by dead_letter_replay);
    - produtos unaffected by the registry edit.
    """
    import json
    import os
    import shutil
    import tempfile

    from ..sources.conformance import CONFORMANCE_REGISTRY, render
    from ..sources.registry import SchemaRegistry
    from ..streaming.ingest import CdcIngest

    work = tempfile.mkdtemp(prefix="hat_")
    try:
        produtos_only = {
            "olist_produtos": CONFORMANCE_REGISTRY["olist_produtos"]
        }
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        reg_path = os.path.join(work, "data-stream.json")
        with open(reg_path, "w") as f:
            json.dump(produtos_only, f)
        lines = render("datastream")
        with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
        ing = CdcIngest(
            spark=spark,
            registry=SchemaRegistry.from_file(reg_path),
            input_dir=in_dir,
            output_dir=os.path.join(work, "out"),
            checkpoint_dir=os.path.join(work, "ck"),
            envelope_format="datastream",
            registry_path=reg_path,
        )
        q = ing.start_single_pass()
        try:
            q.processAllAvailable()
            pre = (
                ing.history("olist_produtos").count(),
                ing.dead_letter().count(),
            )
            with open(reg_path, "w") as f:
                json.dump(CONFORMANCE_REGISTRY, f)
            users_line = [
                ln for ln in lines if "olist_users" in ln
            ]
            with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
                f.write("\n".join(users_line) + "\n")
            q.processAllAvailable()
        finally:
            ing.stop()
        rows = [
            ("pre_produtos", pre[0]),
            ("pre_dead_letter", pre[1]),
            ("post_users", ing.history("olist_users").count()),
            ("post_dead_letter", ing.dead_letter().count()),
            ("post_produtos", ing.history("olist_produtos").count()),
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, "stage string, n long").orderBy(
        "stage"
    )


QUERIES["registry_hot_add_table"] = registry_hot_add_table
ORACLES["registry_hot_add_table"] = """
    SELECT * FROM (VALUES
        ('post_dead_letter', CAST(1 AS BIGINT)),
        ('post_produtos', CAST(4 AS BIGINT)),
        ('post_users', CAST(1 AS BIGINT)),
        ('pre_dead_letter', CAST(1 AS BIGINT)),
        ('pre_produtos', CAST(4 AS BIGINT))
    ) AS t(stage, n)
    ORDER BY stage
"""
