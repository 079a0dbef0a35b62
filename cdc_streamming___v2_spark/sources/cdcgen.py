"""Native Python Data Source (Spark 4 API): a deterministic CDC-envelope
generator, registered as format("cdcgen").

Why it exists: the reference ingests Datastream envelopes from Pub/Sub
(src/dataflow-cdc-stream.py); the sandbox has no broker, so the engine's
stand-ins are file streams and Kafka.  Spark 4's Python DataSource API
additionally lets an engine ship CUSTOM connectors with zero JVM code —
this module demonstrates that path end to end (batch reader with explicit
input partitions + simple streaming reader with offset bookkeeping), and
doubles as a load generator for ingest tests and benchmarks.

Every record is a PURE FORMULA of its global index i — table, change
type, payload, and timestamp all derive from i alone, and indices are
STRIPED across partitions (i = p, p + P, ...) — so the produced dataset
is identical under any partition count, and an independent SQL engine can
re-derive the full content from generate_series(0, N-1).  That makes the
whole path (Python connector -> Spark scan -> envelope parse ->
aggregation) oracle-checkable without trusting the generator twice.

Options: rows (total records), partitions (batch input splits),
batch_rows (streaming micro-batch size).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

GEN_TABLES = ("orders", "customer", "lineitem")
# Canonical Datastream envelope vocabulary is UPPERCASE (cdc_schema.py);
# parse_envelope passes change_type through verbatim, so the generator must
# emit actions that match operators/history.DELETE_ACTIONS.
GEN_ACTIONS = ("INSERT", "UPDATE-INSERT", "DELETE", "INSERT")
GEN_EPOCH = datetime(2024, 1, 1)
GEN_V_MOD = 97


def make_line(i: int) -> str:
    """The record formula — keep in lockstep with the SQL oracle in
    operators/cdc_batch.py::cdcgen_source_roundtrip."""
    import json

    table = GEN_TABLES[i % 3]
    action = GEN_ACTIONS[i % 4]
    ts = (GEN_EPOCH + timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%S")
    payload = {"id": i, "v": (i * i) % GEN_V_MOD}
    return json.dumps(
        {
            "object": table,
            "source_timestamp": ts,
            "source_metadata": {"change_type": action},
            "payload": payload,
        },
        separators=(",", ":"),
    )


class CdcGenReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("rows", 1000))
        self.parts = int(options.get("partitions", 8))

    def partitions(self):
        return [InputPartition(p) for p in range(self.parts)]

    def read(self, partition):
        p = partition.value
        for i in range(p, self.n, self.parts):
            yield (make_line(i),)


class CdcGenStreamReader(SimpleDataSourceStreamReader):
    """Offset = {"i": next global index}; each micro-batch emits the next
    batch_rows records.  Once i reaches rows the offset stops advancing,
    so availableNow/processAllAvailable terminate."""

    def __init__(self, options):
        self.n = int(options.get("rows", 1000))
        self.batch = int(options.get("batch_rows", 250))

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        i0 = int(start["i"])
        end = min(i0 + self.batch, self.n)
        return iter([(make_line(i),) for i in range(i0, end)]), {"i": end}

    def readBetweenOffsets(self, start, end):
        return iter([(make_line(i),) for i in range(int(start["i"]), int(end["i"]))])


class CdcGenDataSource(DataSource):
    @classmethod
    def name(cls):
        return "cdcgen"

    def schema(self):
        return "value string"

    def reader(self, schema):
        return CdcGenReader(self.options)

    def simpleStreamReader(self, schema):
        return CdcGenStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the cdcgen format on a session."""
    spark.dataSource.register(CdcGenDataSource)
