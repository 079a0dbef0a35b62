"""Run state, metric names and the measurements every workload shares."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_share": "ratio",
    "latency_p50_s": "s",
    "rows_per_s": "1/s",
}

HISTORY_KINDS = ("latest_state", "as_of", "key_history")
# the registry slice: the CDC-core queries, each with the generated tables
# it reads
SLICE = {
    "scd2_latest_state": ("events",),
    "scd2_as_of": ("events",),
    "scd2_join_as_of": ("events",),
    "cdc_merge_apply": ("events",),
    "cdc_envelope_roundtrip": ("orders",),
}


def per_layer_units() -> dict[str, str]:
    u = {"session.start_s": "s",
         "cdc_schema.build_s": "s", "cdc_schema.parse_rows_per_s": "1/s",
         "ingest.start_s": "s"}
    for k in ("trigger", "add_batch", "latest_offset", "planning", "wal_commit"):
        u[f"ingest.{k}_ms"] = "ms"
    u.update({"ingest.jobs_per_batch": "count", "ingest.stages_per_batch": "count",
              "ingest.files_per_batch": "count", "ingest.dead_letter_rows": "count",
              "commitlog.write_append_s": "s", "commitlog.write_append_calls": "count",
              "commitlog.read_s": "s", "commitlog.versions": "count",
              "commitlog.live_files": "count", "commitlog.bytes_per_row": "B"})
    for k in HISTORY_KINDS:
        for m, unit in (("build_s", "s"), ("plan_s", "s"), ("execute_s", "s"),
                        ("jobs", "count"), ("stages", "count")):
            u[f"history.{k}.{m}"] = unit
    u.update({"registry.build_s": "s", "registry.build_jobs": "count",
              "registry.plan_s": "s", "registry.execute_s": "s",
              "registry.exec_jobs": "count", "registry.stages": "count"})
    for q in SLICE:
        for m in ("build_s", "plan_s", "execute_s"):
            u[f"registry.{q}.{m}"] = "s"
    u.update({"bench.gen_s": "s", "bench.trace_overhead": "ratio"})
    return u


PER_LAYER_UNITS = per_layer_units()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's vCPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def peak_rss_mb() -> float:
    """VmHWM of this process plus its direct children (the JVM)."""
    pids = [str(os.getpid())]
    try:
        for task in os.listdir("/proc/self/task"):
            with open(f"/proc/self/task/{task}/children") as f:
                pids += f.read().split()
    except OSError:
        pass
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


class Run:
    """State shared by every workload: session, work dir, counters, tracer."""

    def __init__(self, args, t_process: float):
        self.args = args
        self.t_process = t_process
        self.seconds = float(args.seconds)
        self.work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}
        self.samples: dict[str, list] = {}
        self.layer: dict[str, float] = {}
        self.tracer = None
        self.spark = None
        self._session_thread = None
        self.setup_s = None
        self.ticks0 = cpu_ticks()

    # -- session -------------------------------------------------------------

    def start_session(self) -> None:
        """Start the Spark session in a thread: the JVM boots while the
        workload generates its inputs. ``session`` waits for it."""
        self._session_thread = threading.Thread(target=self._start_session)
        self._session_thread.start()

    def session(self):
        self._session_thread.join()
        if self.spark is None:
            raise RuntimeError("Spark session failed to start")
        return self.spark

    def _start_session(self) -> None:
        from cdc_streamming___v2_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
        os.environ["TMPDIR"] = tmp
        # every JVM spark-submit starts keeps its temp files in the work dir
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=min(4, len(os.sched_getaffinity(0))),
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.layer["session.start_s"] = time.perf_counter() - t
        self.notes["session_s"] = self.layer["session.start_s"]
        from .spans import JobCounter

        self.jobs = JobCounter(self.spark)

    def stop_session(self) -> None:
        if self._session_thread is not None:
            self._session_thread.join()
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        if proc is not None:  # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        self.spark = None

    # -- bookkeeping ---------------------------------------------------------

    def timed_start(self) -> None:
        """Called once, just before the first timed operation."""
        if self.setup_s is None:
            self.setup_s = time.monotonic() - self.t_process

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    def op(self, fn, *a, **kw):
        """One attempted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failed += 1
            traceback.print_exc()
            return None

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def install_tracer(self) -> None:
        from cdc_streamming___v2_spark.streaming import ingest as ingest_mod
        from cdc_streamming___v2_spark.streaming.commitlog import CommitLogTable

        from .spans import Tracer

        self.tracer = Tracer()
        self.tracer.patch(ingest_mod.CdcIngest, "start_single_pass", "ingest.start")
        self.tracer.patch(CommitLogTable, "write_append", "commitlog.write_append")
        self.tracer.patch(CommitLogTable, "read", "commitlog.read")


# -- shared measurements --------------------------------------------------------


def timed_noop(run: Run, build, layer: str | None):
    """Build a frame, materialize it with a ``noop`` write, return
    (wall seconds, row count). The count comes from an ``observe`` on the
    frame that was written, so checking it costs no second job. Traced:
    spans ``<layer>.build``, ``.plan`` (``executedPlan``) and ``.execute``
    (the write), and the jobs and stages of each under ``run.samples``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    tr = run.tracer if layer is not None and run.tracing else None
    if tr is None:
        t0 = time.perf_counter()
        build().observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop").mode("overwrite").save()
        return time.perf_counter() - t0, obs.get["n"]
    run.jobs.mark()
    t0 = time.perf_counter()
    with tr.span(layer):
        with tr.span(f"{layer}.build"):
            df = build().observe(obs, F.count(F.lit(1)).alias("n"))
        build_jobs, _ = run.jobs.since()
        with tr.span(f"{layer}.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span(f"{layer}.execute"):
            df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    jobs, stages = run.jobs.since()
    for m, v in (("build_jobs", build_jobs), ("exec_jobs", jobs - build_jobs),
                 ("jobs", jobs), ("stages", stages)):
        run.samples.setdefault(f"{layer}.{m}", []).append(v)
    return wall, obs.get["n"]


def phase_medians(run: Run, layer: str) -> dict[str, float]:
    """Median build / plan / execute seconds of a traced ``timed_noop``
    layer, and its median job and stage counts."""
    out = {f"{p}_s": median(run.tracer.durations(f"{layer}.{p}"))
           for p in ("build", "plan", "execute")}
    for m in ("build_jobs", "exec_jobs", "jobs", "stages"):
        out[m] = median(run.samples.get(f"{layer}.{m}", []))
    return out


def parse_probe(run: Run, log_dir: str, n_lines: int) -> None:
    """Standalone envelope parse of ``log_dir`` (traced runs only)."""
    from cdc_streamming___v2_spark.sources.cdc_schema import parse_envelope

    raw = run.spark.read.text(log_dir)
    builds, rates = [], []
    for _ in range(3):
        t = time.perf_counter()
        env = parse_envelope(raw)
        builds.append(time.perf_counter() - t)
        wall, n = timed_noop(run, lambda: env, None)
        run.check(n == n_lines, f"parse probe rows {n} != {n_lines}")
        rates.append(n / wall)
    run.layer["cdc_schema.build_s"] = median(builds)
    run.layer["cdc_schema.parse_rows_per_s"] = median(rates)


def commitlog_stats(run: Run, out_dir: str) -> None:
    from cdc_streamming___v2_spark.streaming.commitlog import CommitLogTable

    versions = files = size = rows = 0
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(os.path.join(path, "_commit_log")):
            continue
        t = CommitLogTable(run.spark, path)
        versions += t.version() + 1
        for rel, stats in t.snapshot_entries():
            files += 1
            size += os.path.getsize(os.path.join(path, rel))
            rows += next(iter(stats.values()), {}).get("rows", 0)
    run.layer["commitlog.versions"] = versions
    run.layer["commitlog.live_files"] = files
    run.layer["commitlog.bytes_per_row"] = size / rows if rows else 0.0


def progress_layers(run: Run, progress: list, jobs_stages) -> None:
    """Per-batch phase medians from ``StreamingQuery.recentProgress``."""
    ps = [p for p in progress if p.get("numInputRows", 0) > 0]
    keys = {"trigger": "triggerExecution", "add_batch": "addBatch",
            "latest_offset": "latestOffset", "planning": "queryPlanning",
            "wal_commit": "walCommit"}
    for k, src in keys.items():
        run.layer[f"ingest.{k}_ms"] = median([p["durationMs"].get(src, 0) for p in ps])
    if ps:
        jobs, stages = jobs_stages
        run.layer["ingest.jobs_per_batch"] = jobs / len(ps)
        run.layer["ingest.stages_per_batch"] = stages / len(ps)


def conservation(run: Run, ingest, log, n_lines: int) -> None:
    """Lines written = history rows of both tables + dead-letter rows, and
    each table holds exactly the changes the model routed to it."""
    from .gen import KEYS

    total = 0
    for obj in KEYS:
        n = ingest.history(obj).count()
        run.check(n == log.routed[obj], f"{obj}: {n} history rows, model {log.routed[obj]}")
        total += n
    dl = ingest.dead_letter().count()
    run.layer["ingest.dead_letter_rows"] = dl
    run.check(dl == log.dead_letters, f"dead letters {dl}, model {log.dead_letters}")
    run.check(total + dl == n_lines, f"conservation: {total} + {dl} != {n_lines} lines")


def make_ingest(run: Run, input_dir: str, name: str, **kw):
    from cdc_streamming___v2_spark.sources.registry import SchemaRegistry
    from cdc_streamming___v2_spark.streaming.ingest import CdcIngest

    from .gen import registry_doc

    base = os.path.join(run.work, name)
    return CdcIngest(
        run.spark, SchemaRegistry.from_dict(registry_doc()), input_dir=input_dir,
        output_dir=os.path.join(base, "out"), checkpoint_dir=os.path.join(base, "ckpt"),
        commit_log=True, **kw)


def main(t_process: float, argv=None) -> int:
    from .workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = Run(args, t_process)
    try:
        run.start_session()
        samples = WORKLOADS[args.workload](run)
    finally:
        if run.tracer is not None:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.tracer.dump(os.path.join(
                out, f"spans-{args.workload}-{args.seed}.jsonl"))
        rss = peak_rss_mb()
        run.stop_session()
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))  # only if no other run uses it
        except OSError:
            pass

    e2e = {
        "setup_s": run.setup_s,
        "peak_rss_mb": rss,
        "ok_share": (run.attempted - run.failed) / max(run.attempted, 1),
        "latency_p50_s": median(samples["latency"]),
        "rows_per_s": median(samples["rows_per_s"]),
    }
    counts = {k: len(v) for k, v in samples.items() if isinstance(v, list)}
    # the share of vCPU time the hypervisor gave to other guests during the
    # run: it explains a slow run, it is not corrected for
    steal, total = (b - a for a, b in zip(run.ticks0, cpu_ticks()))
    run.notes["steal_share"] = steal / total if total else 0.0
    print("# " + json.dumps({"samples": counts, **run.notes}), flush=True)
    if args.trace:
        metrics = {k: (run.layer.get(k, 0.0), u) for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0

