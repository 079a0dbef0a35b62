"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship SCD2 latest-state query (the reference's
core query semantic, README.md:57) on sf0.001. ``queries()`` exposes every
implemented operator from SURVEY.md §2, in the correctness gate's rotation
order (``_gate_order``); ``oracle_sql()`` the DuckDB twins.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cdc_streamming___v2_spark.session import configure_existing

_HERE = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from cdc_streamming___v2_spark.operators.scd2_queries import scd2_latest_state

    configure_existing(spark)
    return scd2_latest_state(spark, "/root/testdata/sf0.001")


# Every module below is landed and proven; a syntax/import error in any of
# them must fail the gate loudly, not silently shrink the registry
# (ADVICE r2).  Only genuinely not-yet-landed modules belong in a
# try/except — there are none right now.
_MODULES = (
    "scd2_queries",
    "dedup",
    "similarity",
    "graph",
    "sketches",
    "pipeline_ops",
    "corpus_ops",
    "temporal",
    "text_analysis",
    "event_windows",
    "behavior",
    "multimodal",
    "cdc_batch",
    "merge_ops",
    "maintenance",
    "analytics",
    "causal",
    "relational",
    "ml_ops",
    "ml_eval",
    "stats_ext",
    "diagnostics_ext",
    "finance_ext",
    "agreement_ext",
    "spatial_ext",
    "timeseries_ext",
    "relational_ext",
    "tpch_extra",
)


def _merge_registries(modules) -> tuple[dict, dict]:
    """Merge per-module QUERIES/ORACLES dicts, rejecting silent shadowing:
    duplicate query keys, duplicate oracle keys, and oracles that have no
    matching query all raise (a colliding key would otherwise corrupt the
    correctness gate by testing one implementation under two names)."""
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for m in modules:
        mq = getattr(m, "QUERIES", {})
        dupes = set(mq) & set(queries)
        if dupes:
            raise ValueError(f"duplicate query keys {sorted(dupes)} in {m.__name__}")
        queries.update(mq)
        mo = getattr(m, "ORACLES", {})
        odupes = set(mo) & set(oracles)
        if odupes:
            raise ValueError(f"duplicate oracle keys {sorted(odupes)} in {m.__name__}")
        stray = set(mo) - set(queries)
        if stray:  # an oracle with no query is dead weight or a typo
            raise ValueError(f"oracles without queries {sorted(stray)} in {m.__name__}")
        oracles.update(mo)
    return queries, oracles


def _load_proofs(root: str = _HERE) -> dict[str, int]:
    """{query: last round it was proven} from the correctness gate's
    ``CORRECTNESS_rNN.json`` records in ``root``.  A record is a proof
    only when rows and schema matched and no error was raised."""
    proofs: dict[str, int] = {}
    for fname in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        with open(os.path.join(root, fname)) as f:
            records = json.load(f)
        for name, rec in records.items():
            if (
                rec.get("rows_match") is True
                and rec.get("schema_match") is True
                and rec.get("err") is None
            ):
                proofs[name] = max(proofs.get(name, 0), int(m.group(1)))
    return proofs


def _gate_order(queries: dict, proofs: dict[str, int]) -> list[str]:
    """The driver's correctness gate checks ~50 queries per round in
    registration order, so the order is the rotation policy: queries
    never proven (0, including new ones) lead, then the oldest proofs,
    and the just-proven window goes to the back.  The sort is stable, so
    ties keep module order; proofs of queries no longer registered are
    ignored, and with no proofs at all the order is module order."""
    return sorted(queries, key=lambda n: proofs.get(n, 0))


# EXACT registry size, kept in lockstep with the modules (VERDICT r3 nit:
# a floor below the true count could silently lose one query).  A test
# (tests/test_behavior.py) asserts len(queries()) == _MIN_QUERIES, so any
# add/remove must touch both or the suite goes red.
_MIN_QUERIES = 473


def _registry() -> tuple[dict, dict]:
    import importlib

    modules = [
        importlib.import_module(f"cdc_streamming___v2_spark.operators.{name}")
        for name in _MODULES
    ]
    queries, oracles = _merge_registries(modules)
    if len(queries) < _MIN_QUERIES:
        raise ValueError(
            f"registry shrank: {len(queries)} queries < expected {_MIN_QUERIES}"
        )
    order = _gate_order(queries, _load_proofs())
    return {n: queries[n] for n in order}, {
        n: oracles[n] for n in order if n in oracles
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    q, _ = _registry()

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_existing(spark)
            # the DataFrame-returning contract has no per-query teardown, so
            # frames a previous query persisted (e.g. minhash's DISK_ONLY
            # shingle spill) would accumulate for the session lifetime when
            # the driver runs the whole registry in one session (ADVICE r2);
            # evict them before each fresh build
            spark.catalog.clearCache()
            return fn(spark, sf_dir)

        run.__name__ = fn.__name__
        return run

    return {name: _wrap(fn) for name, fn in q.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query; omitted => rows-only check."""
    _, o = _registry()
    return o
