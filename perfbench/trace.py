"""Spans around calls into the program's public functions, with the Spark
executor metrics of the jobs each span ran.

The benchmark wraps module attributes and ``TripleStore`` methods
(``Tracer.wrap``) in its own process; nothing in ``kgx`` changes.
Each span records its name, start, end, parent span, thread and run id, and
sets a Spark job group named after itself while it is open. Jobs are
attributed by id window: Spark numbers jobs in submission order, so the jobs
submitted while a span was open are the ids between the scheduler's next-job
id at entry and at exit (this also catches jobs that a structured-streaming
micro-batch submits from the stream thread under its own job group).
A span's self metrics exclude its child spans' windows.

Per-stage metrics come from the status store (``statusStore.lastStageAttempt``),
which Spark keeps with ``spark.ui.enabled=false``. Each stage is counted once,
in the first job that lists it.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


class _Span:
    __slots__ = ("name", "sid", "parent", "thread", "start", "end", "excluded_s",
                 "job_lo", "job_hi", "children", "counts")

    def __init__(self, name, sid, parent, thread, start, job_lo):
        self.name, self.sid, self.parent, self.thread = name, sid, parent, thread
        self.start, self.end, self.excluded_s = start, None, 0.0
        self.job_lo, self.job_hi = job_lo, None
        self.children: list[_Span] = []
        self.counts: dict[str, float] = {}


class Tracer:
    """Records spans in memory; ``table()`` aggregates them per span name."""

    def __init__(self, run_id: str, cores: int):
        self.run_id, self.cores = run_id, cores
        self.sc = None
        self.spans: list[_Span] = []
        self._ids = itertools.count(1)
        # one stack for all threads: the benchmark is a single closed-loop
        # client, so a span opened on the stream thread (inside a
        # foreachBatch call) nests in the span the main thread is blocked in
        self._open: list[_Span] = []
        self._excluded_jobs: list[tuple[int, int]] = []
        self._job_stats: dict[int, dict[str, float]] = {}
        self._seen_stages: set[int] = set()

    # -- spark hooks ---------------------------------------------------------
    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _next_job(self) -> int:
        if self.sc is None:
            return 0
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        st = self._open
        parent = st[-1] if st else None
        sp = _Span(name, next(self._ids), parent.sid if parent else None,
                   threading.get_ident(), time.perf_counter(), self._next_job())
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"perfbench:{self.run_id}:{name}:{sp.sid}", name)
        st.append(sp)
        try:
            yield sp
        finally:
            st.pop()
            sp.end = time.perf_counter()
            if self.sc is not None:
                sp.job_hi = self._next_job()
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            if parent is not None:
                parent.children.append(sp)
            else:
                self._collect(sp)
            self.spans.append(sp)

    @contextmanager
    def untraced(self):
        """Benchmark-side work inside open spans (probes, counts): its time
        and its jobs are removed from every open span."""
        lo, t0 = self._next_job(), time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._excluded_jobs.append((lo, self._next_job()))
            for sp in self._open:
                sp.excluded_s += dt

    # -- wrapping ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None,
             inside=None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span ``name``.
        ``before(args, kwargs)`` returns a state and
        ``after(span, args, kwargs, result, state)`` adds counts to the span;
        both run untraced. ``inside(span, result)`` runs traced, in the span,
        right after the call (work the span should be charged with)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                state = None
                if before is not None:
                    with tracer.untraced():
                        state = before(args, kwargs)
                out = orig(*args, **kwargs)
                if inside is not None:
                    inside(sp, out)
                if after is not None:
                    with tracer.untraced():
                        after(sp, args, kwargs, out, state)
                return out

        setattr(owner, attr, wrapper)

    # -- metrics -------------------------------------------------------------
    def _collect(self, top: _Span) -> None:
        """Fetch stage metrics for every job a finished top-level span ran."""
        if self.sc is None or top.job_hi is None or top.job_hi <= top.job_lo:
            return
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for jid in range(top.job_lo, top.job_hi):
            info = tracker.getJobInfo(jid)
            stats = dict.fromkeys(STAGE_FIELDS, 0.0)
            for sid in sorted(info.stageIds) if info else ():
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store, or never ran
                    continue
                stats["executor_run_s"] += st.executorRunTime() / 1e3
                stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
                stats["shuffle_read_bytes"] += st.shuffleReadBytes()
                stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            self._job_stats[jid] = stats

    def _self_jobs(self, sp: _Span) -> list[int]:
        if sp.job_hi is None:
            return []
        taken = [(c.job_lo, c.job_hi) for c in sp.children if c.job_hi is not None]
        taken += self._excluded_jobs
        return [j for j in range(sp.job_lo, sp.job_hi)
                if not any(lo <= j < hi for lo, hi in taken)]

    def table(self, since: float, until: float, keep: tuple[str, ...] = ()) -> dict:
        """Per span name: wall_s, self_s, calls, jobs, driver_s, the stage
        metrics (inclusive of child spans) and any counts the span recorded.
        Only spans that started within [since, until] (perf_counter times)
        are counted, plus any span named in ``keep``."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            if not since <= sp.start <= until and sp.name not in keep:
                continue
            wall = sp.end - sp.start - sp.excluded_s
            child = sum(c.end - c.start - c.excluded_s for c in sp.children)
            row = out[sp.name]
            row["calls"] += 1
            row["wall_s"] += wall
            row["self_s"] += max(0.0, wall - child)
            for k, v in self._inclusive(sp).items():
                row[k] += v
            for k, v in sp.counts.items():
                row[k] += v
        for row in out.values():
            row["driver_s"] = max(0.0, row["wall_s"] - row["executor_run_s"] / self.cores)
        return {name: dict(row) for name, row in out.items()}

    def _inclusive(self, sp: _Span) -> dict[str, float]:
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        tot["jobs"] = 0.0
        for j in self._self_jobs(sp):
            tot["jobs"] += 1
            for k, v in self._job_stats.get(j, {}).items():
                tot[k] += v
        for c in sp.children:
            for k, v in self._inclusive(c).items():
                tot[k] += v
        return tot

    def records(self) -> list[dict]:
        """The raw span list: name, ids, thread, run id, start/end relative
        to the first span, job window and counts."""
        t0 = min((sp.start for sp in self.spans), default=0.0)
        return [
            {"name": sp.name, "span": sp.sid, "parent": sp.parent,
             "thread": sp.thread, "run": self.run_id,
             "start_s": round(sp.start - t0, 6), "end_s": round(sp.end - t0, 6),
             "jobs": [sp.job_lo, sp.job_hi], **sp.counts}
            for sp in sorted(self.spans, key=lambda s: s.sid)
        ]
