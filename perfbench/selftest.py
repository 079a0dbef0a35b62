"""Self-test of the benchmark at tiny sizes (about three minutes).

    python3 perfbench/selftest.py

Checks that the generator is deterministic for a seed, that every metric
named in BENCHMARK.json prints with its unit, that the conservation check
fails when one routed row is dropped, and that the model check fails when
one DELETE is lost. Exits non-zero on the first failure.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time


def check(ok: bool, what: str) -> None:
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        sys.exit(1)


def test_determinism() -> None:
    import pyarrow.parquet as pq

    from perfbench.gen import ChangeLog, write_tables

    a, b, c = ChangeLog(7), ChangeLog(7), ChangeLog(8)
    la, lb, lc = a.lines(3000), b.lines(3000), c.lines(3000)
    check(la == lb and a.chains == b.chains, "same seed, same envelopes and model")
    check(la != lc, "another seed, other envelopes")
    check(a.lines(500) == b.lines(500), "continued streams stay equal")
    with tempfile.TemporaryDirectory(dir=ROOT) as d:
        write_tables(os.path.join(d, "x"), 3, 0.0005)
        write_tables(os.path.join(d, "y"), 3, 0.0005)
        same = all(
            pq.read_table(os.path.join(d, "x", f)).equals(pq.read_table(os.path.join(d, "y", f)))
            for f in sorted(os.listdir(os.path.join(d, "x"))))
        check(same, "same seed, same registry-slice tables")


def test_metric_names() -> None:
    from perfbench.bench import E2E_UNITS, PER_LAYER_UNITS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check({m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS,
          "end-to-end names and units match BENCHMARK.json")
    check({m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS,
          "per-layer names and units match BENCHMARK.json")


class _Counted:
    def __init__(self, n):
        self.n = n

    def count(self):
        return self.n


class _FakeIngest:
    """Stands in for CdcIngest: history and dead-letter row counts."""

    def __init__(self, per_table: dict, dead: int):
        self.per_table, self.dead = per_table, dead

    def history(self, obj):
        return _Counted(self.per_table[obj])

    def dead_letter(self):
        return _Counted(self.dead)


def _run(seconds: float = 2.0, trace: int = 0):
    from perfbench.bench import Run

    args = argparse.Namespace(workload="selftest", seed=1, seconds=seconds, trace=trace)
    return Run(args, time.monotonic())


def test_conservation_tamper() -> None:
    from perfbench.bench import conservation
    from perfbench.gen import ChangeLog

    log = ChangeLog(5)
    n = len(log.lines(4000))
    run = _run()
    conservation(run, _FakeIngest(dict(log.routed), log.dead_letters), log, n)
    check(run.failed == 0, "conservation holds on the model's own counts")
    dropped = dict(log.routed)
    dropped["olist_produtos"] -= 1
    with contextlib.redirect_stderr(io.StringIO()):
        conservation(run, _FakeIngest(dropped, log.dead_letters), log, n)
    check(run.failed == 2, "conservation fails when one routed row is dropped")


def test_lost_delete() -> None:
    """Ingest a tiny log with one DELETE removed; the latest-state count
    must then disagree with the model by exactly that key."""
    from cdc_streamming___v2_spark.operators import history

    from perfbench.bench import make_ingest
    from perfbench.gen import KEYS, ChangeLog, write_lines

    log = ChangeLog(11)
    lines = log.lines(3000)
    table = "olist_produtos"
    # a DELETE that is the last change of its key, so losing it leaves the
    # key live
    victim = min(c[-1][0] for c in log.chains[table].values() if c[-1][1] == "DELETE")
    run = _run()
    run.start_session()
    try:
        spark = run.session()
        src = os.path.join(run.work, "in")
        os.makedirs(src)
        write_lines(os.path.join(src, "log.json"), lines)
        ing = make_ingest(run, src, "intact")
        ing.run_available_single_pass()
        key = KEYS[table]
        n = history.latest_state(ing.history(table), [key]).count()
        check(run.check(n == log.latest_count(table), "intact log"),
              "model check passes on the intact log")
        src2 = os.path.join(run.work, "in2")
        os.makedirs(src2)
        write_lines(os.path.join(src2, "log.json"), lines[:victim] + lines[victim + 1:])
        ing2 = make_ingest(run, src2, "lost")
        ing2.run_available_single_pass()
        n2 = history.latest_state(ing2.history(table), [key]).count()
        with contextlib.redirect_stderr(io.StringIO()):
            ok = run.check(n2 == log.latest_count(table), "lost DELETE")
        check(not ok and n2 == n + 1, "model check fails when one DELETE is lost")
        del spark
    finally:
        run.stop_session()


TINY = """
import sys, time
sys.path[0] = {root!r}
from perfbench import workloads as w
from perfbench.bench import main
w.BACKFILL_LINES, w.BACKFILL_WARMUP_LINES = 4000, 1000
w.BACKFILL_WARMUP_CYCLES = 1
w.SLICE_SCALE, w.SLICE_WARMUP_PASSES = 0.0005, 0
sys.exit(main(time.monotonic(), {argv!r}))
"""


def test_tiny_workloads() -> None:
    """Each workload at tiny sizes, in its own process: it runs, its checks
    pass, and the last line carries every metric of the mode with its unit."""
    from perfbench.bench import E2E_UNITS, PER_LAYER_UNITS

    for workload, trace in (("backfill", 1), ("registry_slice", 0)):
        argv = ["--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace)]
        p = subprocess.run([sys.executable, "-c", TINY.format(root=ROOT, argv=argv)],
                           cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        last = json.loads(lines[-1]) if lines else {}
        want = PER_LAYER_UNITS if trace else E2E_UNITS
        got = {k: v["unit"] for k, v in last.get("metrics", {}).items()}
        check(p.returncode == 0 and last.get("correct") and last.get("failed") == 0,
              f"{workload}: {last.get('attempted')} operations, all passed")
        check(got == want, f"{workload} --trace {trace}: every metric prints with its unit")


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if __name__ == "__main__":
    sys.path[0] = ROOT
    test_determinism()
    test_metric_names()
    test_conservation_tamper()
    test_lost_delete()
    test_tiny_workloads()
    shutil.rmtree(os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}"),
                  ignore_errors=True)
    print("selftest passed")
