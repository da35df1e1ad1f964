"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files only: ``Tracer.wrap``
replaces a module or class attribute that the program resolves at call
time with a timing wrapper, and ``Tracer.restore`` puts the original
back.  Each span keeps (name, start, end, parent, round); times
are epoch seconds so they line up with the Spark status store's job
timestamps.  Spark counters for a window are read by diffing the JVM
status store (``jobsList`` / ``lastStageAttempt``), never the event
log.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Patches:
    """Attribute replacements that ``restore`` undoes in reverse order."""

    def __init__(self) -> None:
        self._undo: list[tuple] = []

    def patch(self, owner, attr: str, replacement) -> None:
        """Install ``replacement(original)`` in place of ``owner.attr``."""
        original = getattr(owner, attr)
        setattr(owner, attr, replacement(original))
        self._undo.append((owner, attr, original))

    def restore(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)


class Tracer:
    def __init__(self, spark) -> None:
        self.spans: list[dict] = []
        self.round = 0
        self.patches = Patches()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self.cores = spark.sparkContext.defaultParallelism

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "round": self.round,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``."""

        def timed(original):
            @functools.wraps(original)
            def traced(*args, **kwargs):
                with self.span(name):
                    return original(*args, **kwargs)

            return traced

        self.patches.patch(owner, attr, timed)

    def total(self, name: str, round_no: int | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
            and s["end"] is not None
            and (round_no is None or s["round"] == round_no)
        )

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **(extra or {})}, fh, indent=1)

    # -- Spark status store -------------------------------------------------
    def spark_window(self, t0: float, t1: float, exclude=()) -> dict:
        """Engine counters for jobs submitted in [t0, t1) (epoch s),
        leaving out jobs submitted inside an ``exclude`` interval (the
        trace's own bookkeeping) and that time itself."""
        jobs = self._store.jobsList(None)
        intervals: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            start = sub.get().getTime() / 1000.0
            if not (t0 <= start < t1) or any(a <= start < b for a, b in exclude):
                continue
            comp = job.completionTime()
            end = comp.get().getTime() / 1000.0 if comp.isDefined() else t1
            n_jobs += 1
            intervals.append((start, min(end, t1)))
            sids = job.stageIds()
            for k in range(sids.size()):
                stage_ids.add(int(sids.apply(k)))
        out = {
            "spark.jobs": n_jobs,
            "spark.stages": 0,
            "spark.tasks": 0,
            "spark.executor_run_s": 0.0,
            "spark.shuffle_write_mb": 0.0,
            "spark.shuffle_read_mb": 0.0,
            "spark.spill_mb": 0.0,
        }
        for sid in sorted(stage_ids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never-run stage
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier stage's output
            out["spark.stages"] += 1
            out["spark.tasks"] += int(sd.numTasks())
            out["spark.executor_run_s"] += sd.executorRunTime() / 1000.0
            out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            out["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
            out["spark.spill_mb"] += sd.diskBytesSpilled() / 1e6
        wall = max(t1 - t0 - _union_length(list(exclude), t0, t1), 1e-9)
        out["spark.core_busy_ratio"] = out["spark.executor_run_s"] / (self.cores * wall)
        busy = _union_length(intervals + list(exclude), t0, t1) - _union_length(list(exclude), t0, t1)
        out["spark.driver_only_s"] = wall - busy
        return out


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered
