"""The workloads: ``backfill`` and ``registry_slice``. Each returns its
timed samples, ``{"latency": [...], "rows_per_s": [...]}``; the end-to-end
metrics are their medians (see README.md for what each means per
workload).

With ``--trace 1`` the tracer is installed before the timed phase and
records every other repetition, in the order untraced, traced, traced,
untraced, ... The per-layer metrics come from the traced repetitions, and
``bench.trace_overhead`` compares the latency medians of the two sides,
which share the drift of a JVM that is still improving its code.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time

from .bench import (
    HISTORY_KINDS,
    SLICE,
    Run,
    commitlog_stats,
    conservation,
    make_ingest,
    median,
    parse_probe,
    phase_medians,
    progress_layers,
    timed_noop,
)
from .gen import KEYS, ChangeLog, source_ts, write_lines, write_tables

# warm-up counts: see the pass-by-pass record in STEADINESS.md
BACKFILL_LINES = 80_000
BACKFILL_FILES = 8
BACKFILL_WARMUP_LINES = 5_000
BACKFILL_WARMUP_CYCLES = 3
BACKFILL_ROUNDS_PER_CYCLE = 2
BACKFILL_CYCLE_S = 4.0  # nominal seconds of one timed cycle on the reference host
BACKFILL_MIN_CYCLES = 3
READ_TABLE = "olist_produtos"

SLICE_SCALE = 0.02
SLICE_WARMUP_PASSES = 5
SLICE_PASS_S = 2.7  # nominal seconds of one timed pass on the reference host
SLICE_MIN_PASSES = 5


def _count(seconds: float, nominal_s: float, minimum: int) -> int:
    """How many timed repetitions make ``seconds`` of nominal work. A fixed
    count, not a deadline: every run does the same work, however fast the
    host is that day."""
    return max(minimum, round(seconds / nominal_s))


def _timed(run: Run, fresh, one, reps: int) -> dict:
    """Call ``one(out)`` ``reps`` times into ``out = fresh()`` and return it.
    Traced: at least four repetitions, alternating in pairs (untraced,
    traced, traced, untraced, ...) so a linear drift falls equally on
    both sides; returns the traced side."""
    run.timed_start()
    if not run.args.trace:
        out = fresh()
        for _ in range(reps):
            one(out)
        return out
    run.install_tracer()
    sides = (fresh(), fresh())
    for i in range(4 * math.ceil(reps / 4)):
        run.tracer.enabled = i % 4 in (1, 2)
        one(sides[run.tracer.enabled])
    run.tracer.enabled = False
    run.layer["bench.trace_overhead"] = (
        median(sides[1]["latency"]) / median(sides[0]["latency"]) - 1.0)
    return sides[1]


# -- backfill -------------------------------------------------------------------


def backfill(run: Run) -> dict:
    """Catch-up ingest of a seeded log, then closed-loop reads, one client,
    over the commit-log history the last pass wrote."""
    from cdc_streamming___v2_spark.operators import history

    seed = run.args.seed
    t = time.perf_counter()
    log = ChangeLog(seed)
    log_dir = _write_log(run, "log", log.lines(BACKFILL_LINES), BACKFILL_FILES)
    # the first pass in a fresh JVM pays class loading and code generation
    # whatever its size, so it ingests a small log of the same shape
    warm_dir = _write_log(run, "warm", ChangeLog(seed + 1).lines(BACKFILL_WARMUP_LINES), 1)
    run.layer["bench.gen_s"] = run.notes["gen_s"] = time.perf_counter() - t
    run.session()

    obj = READ_TABLE
    key = KEYS[obj]
    draw = random.Random(seed * 7919 + 1)  # the seeded read sequence
    points = [draw.randrange(BACKFILL_LINES // 10, BACKFILL_LINES) for _ in range(512)]
    keys = log.pick_keys(obj, 512, draw)
    latest = log.latest_count(obj)
    state = {"pass": 0, "round": 0, "ingest": None}

    def ingest_pass(src: str) -> float:
        k = state["pass"]
        state["pass"] += 1
        ing = make_ingest(run, src, f"pass{k}")
        if run.tracing:
            run.jobs.mark()
        t0 = time.perf_counter()
        ing.run_available_single_pass()
        wall = time.perf_counter() - t0
        if run.tracing:
            run.samples.setdefault("ingest.jobs_stages", []).append(run.jobs.since())
        previous = state["ingest"]
        state["ingest"] = ing
        if previous is not None:
            shutil.rmtree(os.path.dirname(previous.output_dir), ignore_errors=True)
        return wall

    def read_round() -> tuple[float, dict]:
        r = state["round"]
        state["round"] += 1
        ing = state["ingest"]
        point, k = points[r % len(points)], keys[r % len(keys)]
        ops = {
            "latest_state": (lambda: history.latest_state(ing.history(obj), [key]), latest),
            "as_of": (lambda: history.as_of(ing.history(obj), [key], source_ts(point)),
                      log.as_of_count(obj, point)),
            "key_history": (lambda: history.history_of(ing.history(obj), [key], [k]),
                            log.chain_len(obj, k)),
        }
        walls = {}
        for kind, (build, expected) in ops.items():
            got = run.op(timed_noop, run, build, f"history.{kind}")
            if got is None:
                continue
            walls[kind], n = got
            run.check(n == expected, f"{kind} round {r}: {n} rows, model {expected}")
        return sum(walls.values()), walls

    def cycle(out: dict | None) -> None:
        """One ingest pass, then read rounds over what it wrote. Warm-up
        and timed phases repeat the same cycle, so every sample follows
        the same mix of work."""
        w = run.op(ingest_pass, log_dir)
        got = [run.op(read_round) for _ in range(BACKFILL_ROUNDS_PER_CYCLE)]
        if out is None:
            run.notes["warmup"]["ingest_s"].append(w)
            run.notes["warmup"]["read_round_s"] += [g[0] if g else None for g in got]
            return
        if w is not None:
            out["ingest_s"].append(w)
            out["rows_per_s"].append(BACKFILL_LINES / w)
        for g in got:
            if g is not None:
                out["latency"].append(g[0])
                for kind, kw in g[1].items():
                    out["kinds"][kind].append(kw)

    run.notes["warmup"] = {"ingest_s": [run.op(ingest_pass, warm_dir)], "read_round_s": []}
    for _ in range(BACKFILL_WARMUP_CYCLES):
        cycle(None)

    def fresh() -> dict:
        return {"latency": [], "rows_per_s": [], "ingest_s": [],
                "kinds": {k: [] for k in HISTORY_KINDS}}

    reps = _count(run.seconds, BACKFILL_CYCLE_S, BACKFILL_MIN_CYCLES)
    samples = _timed(run, fresh, cycle, reps)
    run.notes["timed"] = {
        "ingest_s": samples["ingest_s"], "read_round_s": samples["latency"],
        **{f"{k}_p50_s": median(v) for k, v in samples["kinds"].items()},
        "reads_per_kind": len(samples["latency"])}
    ing = state["ingest"]
    if run.tracer:
        _trace_ingest_layers(run, ing)
        for kind in HISTORY_KINDS:
            for m, v in phase_medians(run, f"history.{kind}").items():
                if m not in ("build_jobs", "exec_jobs"):
                    run.layer[f"history.{kind}.{m}"] = v
        parse_probe(run, log_dir, BACKFILL_LINES)
    conservation(run, ing, log, BACKFILL_LINES)
    return samples


def _write_log(run: Run, name: str, lines: list[str], files: int) -> str:
    path = os.path.join(run.work, name)
    os.makedirs(path)
    per = math.ceil(len(lines) / files)
    for f in range(files):
        write_lines(os.path.join(path, f"part-{f:03d}.json"), lines[f * per:(f + 1) * per])
    return path


def _trace_ingest_layers(run: Run, ing) -> None:
    """Ingest and commit-log layers from the traced passes' spans."""
    tr = run.tracer
    run.layer["ingest.start_s"] = median(tr.durations("ingest.start"))
    appends = tr.durations("commitlog.write_append")
    run.layer["commitlog.write_append_s"] = median(appends)
    run.layer["commitlog.read_s"] = median(tr.durations("commitlog.read"))
    queries = tr.returns.get("ingest.start", [])
    progress = [p for q in queries for p in q.recentProgress]  # each a dict
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    js = run.samples.get("ingest.jobs_stages", [])
    progress_layers(run, progress, (sum(j for j, _ in js), sum(s for _, s in js)))
    run.layer["commitlog.write_append_calls"] = len(appends) / max(len(queries), 1)
    run.layer["ingest.files_per_batch"] = (
        BACKFILL_FILES * len(queries) / max(len(batches), 1))
    commitlog_stats(run, ing.output_dir)


# -- registry_slice -------------------------------------------------------------


def registry_slice(run: Run) -> dict:
    """A fixed slice of the query registry, closed loop, each query built
    and materialized with a ``noop`` write; DuckDB twins checked after."""
    import __spark_entry__ as entry

    t = time.perf_counter()
    data = os.path.join(run.work, "tables")
    table_rows = write_tables(data, run.args.seed, SLICE_SCALE)
    run.layer["bench.gen_s"] = run.notes["gen_s"] = time.perf_counter() - t
    run.session()
    registry = entry.queries()
    rows_seen: dict[str, set] = {q: set() for q in SLICE}

    def one_pass(out: dict | None) -> None:
        wall = 0.0
        per_query = {}
        for name in SLICE:
            got = run.op(timed_noop, run, lambda: registry[name](run.spark, data),
                         f"registry.{name}")
            if got is not None:
                wall += got[0]
                rows_seen[name].add(got[1])
                per_query[name] = round(got[0], 3)
        run.notes.setdefault("passes", []).append(per_query)
        if out is None:
            run.notes.setdefault("warmup", {"slice_s": []})["slice_s"].append(wall)
        else:
            out["latency"].append(wall)

    for _ in range(SLICE_WARMUP_PASSES):
        one_pass(None)
    reps = _count(run.seconds, SLICE_PASS_S, SLICE_MIN_PASSES)
    samples = _timed(run, lambda: {"latency": []}, one_pass, reps)
    run.notes["timed"] = {"slice_s": samples["latency"]}
    if run.tracer:
        _slice_layers(run)
    _check_oracles(run, registry, entry.oracle_sql(), data, rows_seen)
    # throughput at a fixed input size: the rows of the tables each query
    # reads, so the figure does not depend on how many rows a seed's data
    # happens to return
    scanned = sum(table_rows[t] for tables in SLICE.values() for t in tables)
    samples["rows_per_s"] = [scanned / w for w in samples["latency"]]
    return samples


def _slice_layers(run: Run) -> None:
    """Registry totals per pass are the sums of the per-query medians."""
    for m in ("build_s", "build_jobs", "plan_s", "execute_s", "exec_jobs", "stages"):
        run.layer[f"registry.{m}"] = 0.0
    for q in SLICE:
        med = phase_medians(run, f"registry.{q}")
        for m in ("build_s", "plan_s", "execute_s"):
            run.layer[f"registry.{q}.{m}"] = med[m]
        for m in ("build_s", "build_jobs", "plan_s", "execute_s", "exec_jobs", "stages"):
            run.layer[f"registry.{m}"] += med[m]


def _check_oracles(run: Run, registry, oracles, data: str, rows_seen) -> None:
    """Untimed: every slice result equals its DuckDB twin by row count and
    order-insensitive value hash, and every pass returned that many rows."""
    import duckdb

    from tools.check_correctness import table_hash

    con = duckdb.connect()
    for t in {t for tables in SLICE.values() for t in tables}:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    for name in SLICE:
        def compare(name=name):
            df = registry[name](run.spark, data)
            srows = [tuple(r) for r in df.collect()]
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            return srows, df.columns, drows, dcols

        got = run.op(compare)
        if got is None:
            continue
        srows, scols, drows, dcols = got
        run.check(rows_seen[name] == {len(drows)},
                  f"{name}: timed passes returned {sorted(rows_seen[name])} rows, "
                  f"DuckDB {len(drows)}")
        run.check(table_hash(srows, scols) == table_hash(drows, dcols),
                  f"{name}: values differ from the DuckDB twin")
    con.close()


WORKLOADS = {"backfill": backfill, "registry_slice": registry_slice}
