"""Dump .explain("formatted") for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plans.py --suffix=before q1 q2 ...
Plan SHAPE is host-load insensitive, so this can run any time — but note
that building a query frame is not always free: operators that call
localCheckpoint(eager=True) at DataFrame-construction time execute their
full upstream Spark jobs (Arrow shingle kernels, Lloyd rounds, streaming
lifecycle cycles) before the plan is dumped (ADVICE r11). Building also
runs one parquet schema-inference job for each table this process has not
loaded yet (sources.tables.load_table memoizes the schema after that).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from cdc_streamming___v2_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    suffix = "before"
    tag = "r11"
    for a in sys.argv[1:]:
        if a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        if a.startswith("--tag="):
            tag = a.split("=", 1)[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {plan.count(chr(10))} lines -> {path}", flush=True)


if __name__ == "__main__":
    main()
