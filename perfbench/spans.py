"""Span recorder for the traced benchmark run.

One span per public engine call made by the benchmark: name, start, end,
parent span and run id, plus the Spark jobs submitted inside the span's
time window and the JVM GC time spent in it.  Jobs are counted by window
(the DAG scheduler's job counter), not by job group: groups are
thread-local, and ``ReplayRunner``'s stats-prefetch thread submits jobs
outside the caller's group.

Spans stay in memory and are written out once, when the run ends.  The
untraced run uses :class:`NullTracer`, which records nothing and makes no
JVM calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield attrs


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        jvm = spark.sparkContext._jvm
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def jobs_submitted(self) -> int:
        return int(self._dag.numTotalJobs())

    def gc_ms(self) -> int:
        return sum(max(int(b.getCollectionTime()), 0) for b in self._gc_beans)

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call.  ``attrs`` is yielded so the caller can attach
        counts it learns inside the span (rows, files, mode, ...)."""
        sid = len(self.spans)
        rec = {
            "run_id": self.run_id,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        jobs0, gc0 = self.jobs_submitted(), self.gc_ms()
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            rec["spark_jobs"] = self.jobs_submitted() - jobs0
            rec["gc_ms"] = self.gc_ms() - gc0
            rec["attrs"] = attrs
            self._stack.pop()

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")
