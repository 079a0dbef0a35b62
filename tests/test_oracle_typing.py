"""Driver-canonicalization typing gate for the DuckDB oracles.

Round-6 verdict root cause: the driver hashes the oracle side from a pandas
frame, so a final column DuckDB types as HUGEINT (e.g. an un-CAST
``sum(CASE WHEN ... THEN 1 ELSE 0 END)``) renders as float64 (``3750.0``)
while the Spark twin's ``F.count()`` is int64 (``3750``) — a guaranteed
hash mismatch even when every value is identical.  The local checker used
to hash from ``fetchall()`` (native Python ints) and could not see the
class; it now binds the relation and fails any oracle whose final column
type is HUGEINT/UHUGEINT.  These tests pin both halves: the detector
catches an injected offender, and the full 459-oracle registry is clean.

No Spark session needed — DuckDB binding only.
"""

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from cdc_streamming___v2_spark import TABLES
from tools.check_correctness import driver_unsafe_columns

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_detector_flags_uncast_sum_case(con):
    """An injected un-CAST sum(CASE...) final column must be flagged."""
    bad = "SELECT sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS n FROM orders"
    assert driver_unsafe_columns(con, bad) == ["n"]
    # sum(BIGINT) is HUGEINT too — also flagged
    bad2 = "SELECT sum(o_orderkey) AS s FROM orders"
    assert driver_unsafe_columns(con, bad2) == ["s"]


def test_detector_passes_cast_and_count(con):
    ok = """
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_even,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
    """
    assert driver_unsafe_columns(con, ok) == []


def test_detector_ignores_cte_internal_hugeint(con):
    """HUGEINT inside a CTE is fine as long as the final output is CAST."""
    ok = """
        WITH t AS (SELECT sum(o_orderkey) AS s FROM orders)
        SELECT CAST(s AS BIGINT) AS s FROM t
    """
    assert driver_unsafe_columns(con, ok) == []


def test_registry_has_no_driver_unsafe_oracles(con):
    """Every registered oracle's final relation types are driver-safe.

    This is the invariant that makes the round-6 failure class
    (dynamodb_stream_roundtrip / debezium_flat_roundtrip) unshippable.
    """
    offenders = {}
    for name, sql in entrymod.oracle_sql().items():
        unsafe = driver_unsafe_columns(con, sql)
        if unsafe:
            offenders[name] = unsafe
    assert offenders == {}, (
        f"oracles with HUGEINT/UHUGEINT final columns (driver hashes these "
        f"as float64, Spark emits int64 -> hash mismatch): {offenders}"
    )


# ---------------------------------------------------------------------------
# Round-8 follow-on: the checker's --pandas mode hashes BOTH sides from
# pandas frames the way the driver does (DuckDB .df(); Spark rows -> frame),
# so coercion classes that fetchall() hides surface locally.  Pin its
# behavior: the HUGEINT class mismatches, and the verified-driver-safe
# coercions (DECIMAL -> float64, DATE -> midnight datetime64, NULL -> NaN)
# hash equal.
# ---------------------------------------------------------------------------

import datetime
import decimal

import pandas as pd

from tools.check_correctness import pandas_table_hash


def test_pandas_hash_flags_hugeint_vs_int64(con):
    duck = con.execute(
        "SELECT sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS n "
        "FROM orders"
    ).df()
    n = int(con.execute(
        "SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0"
    ).fetchone()[0])
    spark_like = pd.DataFrame([(n,)], columns=["n"])
    assert pandas_table_hash(spark_like) != pandas_table_hash(duck)
    # and the CAST fix makes them equal
    duck_ok = con.execute(
        "SELECT CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n FROM orders"
    ).df()
    assert pandas_table_hash(spark_like) == pandas_table_hash(duck_ok)


def test_pandas_hash_driver_safe_coercions(con):
    duck = con.execute(
        "SELECT CAST(3.5 AS DECIMAL(18,2)) AS x, DATE '1995-03-15' AS d, "
        "CAST(NULL AS BIGINT) AS nb, CAST(42 AS BIGINT) AS i"
    ).df()
    spark_like = pd.DataFrame(
        [(decimal.Decimal("3.50"), datetime.date(1995, 3, 15), None, 42)],
        columns=["x", "d", "nb", "i"],
    )
    assert pandas_table_hash(spark_like) == pandas_table_hash(duck)


def test_pandas_hash_negative_zero_class(con):
    """IEEE -0.0 still mismatches +0.0 through the pandas path (the class
    retention_decay_fit hit at sf0.1); the `+ 0.0` sign-fold convention is
    what protects registered queries, not the hasher."""
    duck = con.execute("SELECT -0.0::DOUBLE AS z").df()
    spark_like = pd.DataFrame([(0.0,)], columns=["z"])
    assert pandas_table_hash(spark_like) != pandas_table_hash(duck)


def test_pandas_hash_null_timestamp_nat(con):
    """A NULL timestamp from DuckDB .df() arrives as pd.NaT, which IS a
    datetime instance — without the explicit NaT branch it canonicalized
    to the string 'NaT' while the Spark-side None canonicalizes to the
    NULL sentinel, a spurious pdhash MISMATCH for any nullable timestamp
    column (ADVICE r7)."""
    import datetime

    duck = con.execute(
        "SELECT CAST(NULL AS TIMESTAMP) AS t, TIMESTAMP '1995-03-15 12:00:00' AS u"
    ).df()
    spark_like = pd.DataFrame(
        [(None, datetime.datetime(1995, 3, 15, 12, 0, 0))], columns=["t", "u"]
    )
    assert pandas_table_hash(spark_like) == pandas_table_hash(duck)


def test_baseline_current_pin_table_covers_headline():
    """BASELINE.md's 'Current pins' table is the single operative
    regression reference (VERDICT r7 #7): it must cover EXACTLY the
    registry bench.py runs, one row each, with a parseable positive pin."""
    import re

    baseline = os.path.join(os.path.dirname(__file__), "..", "BASELINE.md")
    text = open(baseline).read()
    section = text.split("## Current pins", 1)[1].split("## Pin history", 1)[0]
    rows = re.findall(
        r"^\| ([a-z0-9_]+) \| (\d+\.\d+) \|", section, re.MULTILINE
    )
    names = [n for n, _ in rows]
    assert len(names) == len(set(names)), "duplicate pin rows"
    assert set(names) == set(entrymod.queries())
    assert all(float(v) > 0 for _, v in rows)


def test_policy_name_sets_are_registry_queries():
    """The hand-kept policy subsets must name registry queries: a
    misspelled name would otherwise be silently skipped (and shrink, e.g.,
    bench.py's ``value_lifecycle``) instead of failing."""
    import bench
    from perfbench.bench import SLICE
    from tools import scale_evidence

    registry = set(entrymod.queries())
    named = {
        "LIFECYCLE": set(bench.LIFECYCLE),
        "SPIKY": set(bench.SPIKY),
        "CANARIES": set(bench.CANARIES),
        "bench.WARMUP": {bench.WARMUP},
        "scale_evidence.WARMUP": {scale_evidence.WARMUP},
        "perfbench SLICE": set(SLICE),
    }
    for label, names in named.items():
        assert names <= registry, f"{label}: {sorted(names - registry)}"


def test_bench_canary_pins_and_verdict_logic():
    """The canary protocol (VERDICT r8 #5): pins must exist for both
    canaries, and the verdict must flag a breach in EITHER probe —
    a degradation burst can start mid-run or end before the post-probe."""
    import bench

    pins = bench._load_pins()
    for name in bench.CANARIES:
        assert name in pins and pins[name] > 0, f"no pin for canary {name}"
    # the pre-probe runs in a fresh session where the canaries sit
    # 2.2-2.7x pins even after repeated warm runs (measured), so its
    # threshold must be materially looser than the warmed post-probe's
    assert bench.CANARY_PRE_DEGRADED_X > bench.CANARY_DEGRADED_X >= 1.0

    clean = {"verdict": "clean"}
    degraded = {"verdict": "degraded"}
    nopins = {"verdict": "no-pins"}
    assert bench._canary_verdict(clean, clean) == "clean"
    assert bench._canary_verdict(degraded, clean) == "degraded"
    assert bench._canary_verdict(clean, degraded) == "degraded"
    assert bench._canary_verdict(degraded, degraded) == "degraded"
    assert bench._canary_verdict(nopins, nopins) == "no-pins"
    # a half-missing pin table still reports the side that measured
    assert bench._canary_verdict(nopins, clean) == "clean"
    assert bench._canary_verdict(nopins, degraded) == "degraded"
