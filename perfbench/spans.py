"""Span tracing for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: the
public functions of the engine's modules are wrapped in place (the way
`scripts/action_count.py` wraps `publish` and `commit_protocol`), so the
engine itself is unmodified.  Every span keeps its name, start, end,
parent, the operation it ran under, and the Spark job ids launched while
it was open.  Spans stay in memory and are rolled up once the run ends.

Calls made inside a `foreachBatch` run on the py4j callback thread while
the client thread blocks in `awaitTermination`; one client means one
logical call stack, so the stack is process-wide, not thread-local.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections import defaultdict

PKG = "dataintegration_ecomprovider_spark"

# (module, attribute path, span name): the public surface each layer
# exposes to the workloads, and the calls layers make into each other
WRAPPED = [
    ("session", "get_spark", "session.get_spark"),
    ("catalog", "Catalog.table", "catalog.table"),
    ("sources.readers", "FileSource.load", "sources.load"),
    ("operators.surrogate", "high_water_mark", "operators.surrogate.high_water_mark"),
    ("operators.surrogate", "assign_surrogate_ids", "operators.surrogate.assign_surrogate_ids"),
    ("operators.resolve", "resolve_cascade", "operators.resolve.resolve_cascade"),
    ("plans.pipeline", "run_job_on_store", "pipeline.run_job_on_store"),
    ("plans.pipeline", "run_job", "pipeline.run_job"),
    ("plans.publish", "publish_tables", "publish.publish_tables"),
    ("plans.publish", "merge_into_mor", "publish.merge_into_mor"),
    ("plans.publish", "read_changes", "publish.read_changes"),
    ("plans.publish", "maintain_store", "publish.maintain_store"),
    ("plans.publish", "snapshot", "publish.snapshot"),
    ("plans.publish", "read_table", "publish.read_table"),
    ("plans.commit_protocol", "PosixCommitProtocol.read_manifest", "commit_protocol.read_manifest"),
    ("plans.commit_protocol", "PosixCommitProtocol.swap_manifest", "commit_protocol.swap_manifest"),
    ("plans.materialize", "refresh_declared_views", "materialize.refresh_declared_views"),
    ("llm.search", "maintain_text_index", "llm.search.maintain_text_index"),
    ("llm.search", "maintain_doc_lengths", "llm.search.maintain_doc_lengths"),
    ("llm.search", "maintain_term_df", "llm.search.maintain_term_df"),
    ("llm.incremental", "maintain_dedup_index", "llm.incremental.maintain_dedup_index"),
    ("runtime", "release_caches", "runtime.release_caches"),
]


# spans that keep their call's return value for the roll-up (the rest
# would pin DataFrames and their JVM objects until the run ends)
KEEP_RETURNS = {"materialize.refresh_declared_views"}


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "job0", "job1", "children", "ret")

    def __init__(self, name, start, parent, op, job0):
        self.name, self.start, self.parent, self.op, self.job0 = name, start, parent, op, job0
        self.end = None
        self.job1 = job0
        self.children: list[Span] = []
        self.ret = None  # the wrapped call's return value

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        return self.dur - covered(self.children)


def covered(spans) -> float:
    """Length of the union of the spans' intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted(spans, key=lambda s: s.start):
        if cur_e is None or s.start > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s.start, s.end
        else:
            cur_e = max(cur_e, s.end)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Process-wide span recorder.  `op_id` tags every span opened while
    an operation of the timed loop is running; warm-up spans carry None."""

    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op_id = None
        self.tracker = None
        self.dag = None
        self.bookkeeping_s = 0.0
        self._originals: list[tuple] = []

    # -- Spark job ids --------------------------------------------------
    def attach(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        # job ids are sequential across every job group, streaming
        # micro-batches included; the status tracker lists only one group
        self.dag = spark.sparkContext._jsc.sc().dagScheduler()

    def next_job(self) -> int:
        return self.dag.nextJobId() if self.dag is not None else 0

    def tasks(self, job0: int, job1: int) -> int:
        """Tasks of the stages of jobs [job0, job1)."""
        n = 0
        for j in range(job0, job1):
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    n += st.numTasks
        return n

    # -- spans ----------------------------------------------------------
    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        span = Span(name, 0.0, parent, self.op_id, self.next_job())
        self.stack.append(span)
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t0
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.job1 = self.next_job()
        self.stack.remove(span)
        if span.parent is not None:
            span.parent.children.append(span)
        self.spans.append(span)
        self.bookkeeping_s += time.perf_counter() - span.end

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.open(name)
                return self.s

            def __exit__(self, *exc):
                tracer.close(self.s)
                return False

        return _Ctx()

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            s = tracer.open(name)
            try:
                out = fn(*a, **kw)
            finally:
                tracer.close(s)
            if name in KEEP_RETURNS:
                s.ret = out
            return out

        return traced

    def install(self) -> None:
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, leaf = mod, attr
            if "." in attr:
                cls, leaf = attr.split(".")
                owner = getattr(mod, cls)
            orig = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
            self._originals.append((owner, leaf, orig))
            setattr(owner, leaf, self.wrap(orig, name))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._originals):
            setattr(owner, leaf, orig)
        self._originals.clear()

    # -- roll-up --------------------------------------------------------
    def loop_spans(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.op is not None]

    def total(self, name: str, self_time: bool = False) -> float:
        return sum(s.self_time() if self_time else s.dur for s in self.loop_spans(name))

    def calls(self, name: str) -> int:
        return len(self.loop_spans(name))

    def jobs(self, name: str) -> int:
        return sum(s.job1 - s.job0 for s in self.loop_spans(name))

    def table(self) -> list[str]:
        """Every span name's calls, total and self seconds and Spark jobs,
        set-up and timed loop apart: the spans, written out at run end."""
        rows: dict = defaultdict(lambda: [0, 0.0, 0.0, 0])
        for x in self.spans:
            r = rows[("loop" if x.op is not None else "setup", x.name)]
            r[0] += 1
            r[1] += x.dur
            r[2] += x.self_time()
            r[3] += x.job1 - x.job0
        out = ["  spans (phase, name: calls, total s, self s, spark jobs):"]
        for (phase, name), (n, tot, own, jobs) in sorted(rows.items()):
            out.append(f"    {phase:5s} {name}: {n}, {tot:.3f}, {own:.3f}, {jobs}")
        return out

