"""Spans kept in memory, with Spark job counts per span.

Every timed call in the benchmark runs inside ``Tracer.span``. Spans carry a
name, start, end and parent, and are written out when the run ends. An
untraced tracer records only the clock readings, so the end-to-end numbers
are measured with tracing off; a traced one also counts the Spark jobs each
span launched.

Job counting is a job-id delta read from ``SparkContext.statusTracker()``.
Job ids are dense and increase by one per job, so the tracer keeps a cursor
at the next unseen id and advances it while ``getJobInfo`` knows the id.
That sees every job, whichever thread launched it and whatever job group it
carries; counting by job group would miss the jobs launched from the
program's own thread pools, which do not inherit the caller's group. The
status store is fed by the asynchronous listener bus, so each count first
drains the bus; the time spent draining and querying is the tracing
overhead, reported as ``overhead_s``.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None):
        """``spark`` given: count jobs per span (traced run). ``None``:
        record clock readings only (untraced run)."""
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._tracker = None
        if spark is not None:
            sc = spark.sparkContext
            self._tracker = sc.statusTracker()
            self._bus = sc._jsc.sc().listenerBus()
            self._next_job = 0
            self._job_cursor()

    @property
    def traced(self) -> bool:
        return self._tracker is not None

    def _job_cursor(self) -> int:
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        while self._tracker.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        self.overhead_s += time.perf_counter() - t0
        return self._next_job

    @contextmanager
    def span(self, name: str):
        """Time the block as a child of the innermost open span. Yields the
        span record; ``dur`` (seconds) and, when traced, ``jobs`` are set
        when the block exits, also when it raises (``error`` is set then)."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        jobs0 = self._job_cursor() if self.traced else 0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            raise
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            if self.traced:
                rec["jobs"] = self._job_cursor() - jobs0
            self._stack.pop()


def typical_median(spans: dict[str, list[dict]], shares: dict[str, float]) -> float:
    """Each call type's median span duration, averaged with the types'
    ``shares`` of the traffic. A type without spans is left out."""
    done = {op: w for op, w in shares.items() if spans.get(op)}
    return sum(w * statistics.median([s["dur"] for s in spans[op]])
               for op, w in done.items()) / sum(done.values())
