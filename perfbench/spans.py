"""Spans recorded from the benchmark's own files, around calls into the
engine's layers. The program itself is not instrumented.

A ``Tracer`` keeps spans in memory (name, start, end, parent) and writes
them out once, at the end of the run. ``patch`` wraps a public function or
method for the rest of the process, so calls the engine makes internally
(``CommitLogTable.write_append`` inside an ingest batch) are recorded too.
The wrappers record only while ``enabled`` is true, so one process can
alternate traced and untraced work.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.returns: dict[str, list] = {}  # patched name -> return values
        self.enabled = True

    @contextlib.contextmanager
    def span(self, name: str):
        parent = getattr(self._local, "current", None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._local.current = idx
        try:
            yield
        finally:
            self._local.current = parent
            with self._lock:
                n, t0, _, p = self.spans[idx]
                self.spans[idx] = (n, t0, time.perf_counter(), p)

    def patch(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            with tracer._lock:  # ingest calls write_append from a thread pool
                tracer.returns.setdefault(name, []).append(out)
            return out

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)

    def durations(self, name: str) -> list[float]:
        with self._lock:
            return [t1 - t0 for n, t0, t1, _ in self.spans if n == name and t1]

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            for n, t0, t1, p in self.spans:
                f.write(json.dumps({"name": n, "start": t0, "end": t1,
                                    "parent": p}) + "\n")


class JobCounter:
    """Spark jobs and stages created since ``mark``. The scheduler numbers
    both in order across every thread, so the difference of its next ids
    counts the jobs a stream thread or a publish pool started as well."""

    def __init__(self, spark):
        self.dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.base = (0, 0)

    def _next(self) -> tuple[int, int]:
        return self.dag.nextJobId(), self.dag.nextStageId()

    def mark(self) -> None:
        self.base = self._next()

    def since(self) -> tuple[int, int]:
        jobs, stages = self._next()
        return jobs - self.base[0], stages - self.base[1]
