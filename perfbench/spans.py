"""Spans and Spark work counters for the traced benchmark run.

Spans are recorded around calls the benchmark makes into the engine's
public functions (instance-level wraps, installed only when tracing) and
kept in memory until the run writes them out.  Spark work is read from the
driver's status store after each timed operation and attributed to that
operation by time window: the benchmark is one client thread running one
operation at a time, so every job that appears between an operation's start
and its end belongs to it, including jobs submitted from the MV registry's
own build threads.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class Tracer:
    """In-memory span recorder.  ``Tracer(False)`` records nothing and
    installs no wraps, so the untimed-path cost of an untraced run is nil."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: int | None = None
        self._restore: list = []

    def _parent(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else self._op

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = self._parent()
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append({"id": sid, "parent": parent, "name": name, "start": t0, "end": t1,
                               "arg": _label(args)})

    def wrap(self, obj, attr: str, name: str) -> None:
        """Shadow ``obj.attr`` with a spanned twin until ``unwrap_all``."""
        if not self.enabled:
            return
        orig = getattr(obj, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        had_own = isinstance(obj, type) or attr in getattr(obj, "__dict__", {})
        setattr(obj, attr, spanned)
        self._restore.append((obj, attr, orig if had_own else None))

    def unwrap_all(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)
        self._restore.clear()

    def begin_op(self) -> int:
        """Open an operation span; wrapped calls made until ``end_op``
        nest under it, whichever thread makes them."""
        self._op = next(self._ids)
        return self._op

    def end_op(self, sid: int, kind: str, start: float, end: float, **attrs) -> None:
        self._op = None
        self.spans.append({"id": sid, "parent": None, "name": "op", "kind": kind,
                           "start": start, "end": end, **attrs})

    def total_ms(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return 1000.0 * sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def _label(args: tuple) -> str | None:
    """The call's last string argument: the MV, table or SQL text it is about."""
    strs = [a for a in args if isinstance(a, str)]
    return strs[-1][:80] if strs else None


class SparkWork:
    """Reads job and stage counters from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.seen: set[int] = set(self._job_ids())

    def _job_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def take(self) -> dict:
        """Counters of every job that finished since the previous call."""
        new = sorted(set(self._job_ids()) - self.seen)
        self.seen.update(new)
        out = {k: 0 for k in STAGE_FIELDS}
        out.update(jobs=len(new), stages=0, tasks=0)
        for jid in new:
            stage_ids = self.store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sd = self.store.lastStageAttempt(stage_ids.apply(i))
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse earlier shuffle output
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                for k, getter in STAGE_FIELDS.items():
                    out[k] += getattr(sd, getter)()
        return out
