"""Plan-shape audit: for each named query (default: all), print one JSON
line with plan statistics — formatted-plan line count, Exchange count,
SortMergeJoin count, BroadcastHashJoin count, Python-eval nodes, scans.
The stats are host-load tolerant (plan shape, not timing), but building
a frame is NOT always execution-free: operators that call
localCheckpoint(eager=True) at construction time run their upstream
Spark jobs (Arrow shingle kernels, Lloyd rounds, streaming lifecycle
cycles) before the plan exists — with no query names given this builds
ALL queries and therefore executes every such job (ADVICE r11). Building
also runs one parquet schema-inference job for each table this process
has not loaded yet (sources.tables.load_table memoizes the schema after
that).

Usage: python tools/plan_stats.py [query ...] [--min-lines=N]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from cdc_streamming___v2_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    min_lines = 0
    for a in sys.argv[1:]:
        if a.startswith("--min-lines="):
            min_lines = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan-stats")
    qs = entrymod.queries()
    if not names:
        names = list(qs)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            print(json.dumps({"query": name, "error": str(exc)[:200]}),
                  flush=True)
            continue
        stats = {
            "query": name,
            "lines": plan.count("\n"),
            "exchange": plan.count("Exchange"),
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
            "py": plan.count("EvalPython") + plan.count("MapInPandas")
            + plan.count("MapInArrow") + plan.count("FlatMapGroupsInPandas"),
            "scans": plan.count("Scan parquet") + plan.count("Scan csv")
            + plan.count("Scan orc") + plan.count("Scan json")
            + plan.count("Scan text") + plan.count("Scan ExistingRDD"),
        }
        if stats["lines"] >= min_lines:
            print(json.dumps(stats), flush=True)


if __name__ == "__main__":
    main()
