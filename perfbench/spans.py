"""Spans around the program's layers, recorded from the benchmark's side.

A `Tracer` wraps public functions of the package where their callers look
them up (for example `eve_graph_spark.api.sssp`), so the program itself
is unchanged. Each span records its name, start, end, parent span and
request id, and the Spark jobs that ran while it was the innermost open
span on its thread: the span sets a job group, and the job ids are read
back through `statusTracker` by `resolve`, once the traced phase is over
and the listener bus has drained. Stage shuffle and executor figures come
from the application status store of the same SparkContext, which must
retain every job of the phase (`spark.ui.retainedJobs`/`retainedStages`).

Spans stay in memory; `dump` writes them out once the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)  # jobs run while innermost
    figs: dict = field(default_factory=dict)  # stage figures of `jobs`
    error: str | None = None


class Tracer:
    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = True  # wrappers call straight through while False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # --- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty(_GROUP_KEY, None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(next(self._ids), name, parent.id if parent else None, request,
                  time.perf_counter())
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        except BaseException as e:
            sp.error = type(e).__name__
            raise
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` by a wrapper that runs it inside a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled or any(sp.name == name for sp in self._stack()):
                return fn(*args, **kwargs)  # off, or a re-entrant call: one span
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # --- Spark figures ---------------------------------------------------
    def resolve(self) -> None:
        """Attach to every span the jobs of its group and their figures."""
        if self.sc is None:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{sp.id}"))
            sp.figs = self.stage_figures(sp.jobs)

    def stage_figures(self, job_ids: list[int]) -> dict[str, float]:
        """Stages, shuffle rows/bytes written and executor run seconds of
        the given jobs, from the status store. Stages shared by several
        jobs (reused shuffles) count once."""
        out = {"stages": 0, "shuffle_write_rows": 0, "shuffle_write_bytes": 0,
               "executor_run_s": 0.0}
        if self.sc is None or not job_ids:
            return out
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                data = store.lastStageAttempt(sid)
                out["stages"] += 1
                out["shuffle_write_rows"] += int(data.shuffleWriteRecords())
                out["shuffle_write_bytes"] += int(data.shuffleWriteBytes())
                out["executor_run_s"] += data.executorRunTime() / 1000.0
        return out

    # --- summaries -------------------------------------------------------
    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, total and self milliseconds, inclusive
        jobs (the span's own plus its descendants') and the inclusive stage
        figures."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent].append(sp)

        def subtree(sp: Span) -> list[Span]:
            out = [sp]
            for k in kids[sp.id]:
                out.extend(subtree(k))
            return out

        agg: dict[str, dict] = {}
        for sp in self.spans:
            a = agg.setdefault(sp.name, {"calls": 0, "ms": 0.0, "self_ms": 0.0, "jobs": 0,
                                         "figs": defaultdict(float)})
            a["calls"] += 1
            a["ms"] += (sp.end - sp.start) * 1e3
            a["self_ms"] += self_time(sp.start, sp.end,
                                      [(k.start, k.end) for k in kids[sp.id]]) * 1e3
            for d in subtree(sp):
                a["jobs"] += len(d.jobs)
                for k, v in d.figs.items():
                    a["figs"][k] += v
        return agg

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)
