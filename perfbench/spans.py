"""Spans recorded around calls into the engine, from the benchmark's side.

A span has a name, start and end (``time.perf_counter`` seconds), the index
of the span that was open when it started, and the epoch it belongs to.
Untraced runs record only the spans the benchmark times itself. Traced runs
also wrap the layer methods of the objects a workload builds, and tag every
Spark job started inside a span with a job tag, so that after the run
``SparkStatusTracker.getJobIdsForTag`` gives the jobs of each span (nested
spans share their jobs with their parents). Spans stay in memory until the
run ends.

Calls into the engine are sequential: a streaming query runs
``foreachBatch`` on its own thread while the caller waits, so one stack
serves both threads.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, traced: bool) -> None:
        self.sc = sc
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._tags = 0
        self.epoch = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "epoch": self.epoch, **attrs}
        idx = len(self.spans)
        self.spans.append(rec)
        tag = None
        if self.traced:
            self._tags += 1
            tag = f"pb-{self._tags}"
            self.sc.addJobTag(tag)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if tag:
                self.sc.removeJobTag(tag)
                rec["tag"] = tag

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` on this instance by a spanned call."""
        fn = getattr(obj, method)

        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, spanned)

    def resolve_jobs(self) -> None:
        """Attach jobs / stages / tasks to every tagged span. Waits until
        the listener bus has delivered every job and stage event."""
        if not self.traced:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        st = jsc.statusTracker()
        py_st = self.sc.statusTracker()
        stage_cache: dict[int, tuple[int, int]] = {}
        for rec in self.spans:
            tag = rec.get("tag")
            if tag is None:
                continue
            jobs = sorted(int(j) for j in st.getJobIdsForTag(tag))
            stages = tasks = 0
            for j in jobs:
                info = py_st.getJobInfo(j)
                for s in (info.stageIds if info is not None else []):
                    if s not in stage_cache:
                        si = py_st.getStageInfo(s)
                        done = si.numCompletedTasks if si is not None else 0
                        stage_cache[s] = (1 if done > 0 else 0, done)
                    stages += stage_cache[s][0]
                    tasks += stage_cache[s][1]
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks, job_ids=jobs)

    def of(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def self_s(self, idx: int) -> float:
        """Duration minus the part covered by direct children."""
        rec = self.spans[idx]
        kids = sum(r["end"] - r["start"] for r in self.spans if r["parent"] == idx)
        return rec["end"] - rec["start"] - kids

    def export(self) -> list[dict]:
        """Spans as JSON-ready dicts, times in seconds from the first span."""
        t0 = min((r["start"] for r in self.spans), default=0.0)
        return [
            {**{k: v for k, v in r.items() if k not in ("start", "end")},
             "start_s": round(r["start"] - t0, 6), "end_s": round(r["end"] - t0, 6)}
            for r in self.spans
        ]
