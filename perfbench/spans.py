"""Span tracer installed from the benchmark around the engine's layer calls.

The engine has no tracing of its own yet, so the benchmark wraps the
public and layer-boundary methods at run time (``Tracer.install``) and
records one span per call: name, start, end, parent span, request id,
and the Spark jobs the call launched.  Jobs are attributed exactly, even
when ``Index.query_json`` runs its collectors on a thread pool: every
span tags its own thread with ``SparkContext.addJobTag`` while it runs,
and each job launched inside a request is read back from the status
store with its tags after the request ends.  A job belongs to the
innermost span whose tag it carries.

Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
Nothing is recorded while ``Tracer.active`` is false, so the same
process can alternate traced and untraced requests.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

# layer names: each wrapped call and the span name it records
QUERY_LAYERS = {
    "parse": "plans.ast.parse",
    "rewrite": "catalog.rewrite",
    "searcher": "catalog.searcher",
    "lookup": "operators.search.lookup",
    "topk": "operators.search.topk",
    "retrieve": "operators.search.retrieve",
    "candidates": "operators.search.candidates",
    "aggs": "operators.search.aggs",
    "facets": "operators.search.facets",
    "count": "operators.search.count",
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    req: int | None
    depth: int
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` (children may overlap when
    they ran on different threads)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self.active = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._req: Span | None = None
        self._patched: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> Span | None:
        if not self.active:
            return None
        st = self._stack()
        parent = st[-1] if st else self._req
        sp = Span(next(self._ids), name,
                  parent.sid if parent else None,
                  self._req.sid if self._req else None,
                  parent.depth + 1 if parent else 0, time.perf_counter())
        with self._lock:
            self.spans.append(sp)
        st.append(sp)
        self.sc.addJobTag(f"pb{sp.sid}")
        return sp

    def _close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        self.sc.removeJobTag(f"pb{sp.sid}")
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close(sp)

    # ------------------------------------------------------- requests
    def _max_job(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _drain(self) -> None:
        # job start/end events reach the status store asynchronously
        self._jsc.listenerBus().waitUntilEmpty()

    def begin_request(self, name: str) -> Span | None:
        if not self.active:
            return None
        self._drain()
        self._job0 = self._max_job()
        sp = self._open(name)
        self._req = sp
        sp.req = sp.sid
        return sp

    def end_request(self, sp: Span | None) -> None:
        if sp is None:
            return
        self._close(sp)
        self._req = None
        self._drain()
        self._attribute(sp, range(self._job0 + 1, self._max_job() + 1))

    def _attribute(self, root: Span, job_ids) -> None:
        """Give every job launched during ``root`` to the innermost span
        whose tag it carries (or to ``root`` itself), with its executed
        stage and task counts."""
        from py4j.protocol import Py4JJavaError

        by_id = {s.sid: s for s in self.spans if s.req == root.sid}
        st = self.sc.statusTracker()
        store = self._jsc.statusStore()
        for jid in job_ids:
            try:
                tags = str(store.job(jid).jobTags().mkString(",")).split(",")
            except Py4JJavaError:  # evicted from the store: no tags
                tags = []
            owners = [by_id[int(t[2:])] for t in tags
                      if t.startswith("pb") and t[2:].isdigit()
                      and int(t[2:]) in by_id]
            owner = max(owners, key=lambda s: s.depth) if owners else root
            owner.jobs.append(jid)
            info = st.getJobInfo(jid)
            for stage_id in (info.stageIds if info else []):
                si = st.getStageInfo(stage_id)
                if si is not None and si.numCompletedTasks > 0:
                    owner.stages += 1
                    owner.tasks += si.numCompletedTasks

    # ------------------------------------------------------- patching
    def _patch(self, owner, attr: str, name: str, mark: bool = False) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span; a
        recursive or self-nesting call records only the outer one.
        ``mark``: tag the returned lazy DataFrame, so the span of its
        later collect is credited to this layer too."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active or any(s.name == name
                                        for s in tracer._stack()):
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if mark:
                out._pb_layer = name
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from sonar_tantivy_spark.catalog import Index
        from sonar_tantivy_spark.operators.search import Searcher
        from sonar_tantivy_spark.plans import ast as A

        L = QUERY_LAYERS
        self._patch(A, "parse_json", L["parse"])
        self._patch(A, "parse_string", L["parse"])
        self._patch(Index, "_resolve_mlt", L["rewrite"])
        self._patch(Index, "searcher", L["searcher"])
        self._patch(Index, "_count_node", L["count"])
        self._patch(Searcher, "term_dfs", L["lookup"])
        self._patch(Searcher, "seg_max_tfs", L["lookup"])
        self._patch(Searcher, "top_k_pruned", L["topk"], mark=True)
        self._patch(Searcher, "top_k_sorted_pruned", L["topk"], mark=True)
        self._patch(Searcher, "top_k", L["topk"], mark=True)
        self._patch(Searcher, "retrieve", L["retrieve"])
        self._patch(Searcher, "candidates", L["candidates"])
        self._patch(Searcher, "aggregations", L["aggs"])
        self._patch(Searcher, "facet_counts", L["facets"], mark=True)

        orig_collect = DataFrame.collect
        tracer = self

        @functools.wraps(orig_collect)
        def collect(df):
            layer = getattr(df, "_pb_layer", None)
            if layer is None or not tracer.active:
                return orig_collect(df)
            # the lazy top-k / facet plan runs here: credit its layer
            with tracer.span(layer):
                return orig_collect(df)

        self._patched.append((DataFrame, "collect", orig_collect))
        DataFrame.collect = collect

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -------------------------------------------------------- reports
    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def self_time(self, sp: Span) -> float:
        return sp.dur - covered([(c.start, c.end)
                                 for c in self.children(sp)])

    def request_breakdown(self, root: Span) -> dict:
        """Per-layer self time, jobs, stages and tasks of one request;
        the root's own self time is the request's orchestration
        (highlight, ``_source``, result shaping)."""
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.req != root.sid:
                continue
            name = "catalog.self" if s is root else s.name
            acc = out.setdefault(name, {"s": 0.0, "jobs": 0, "stages": 0,
                                        "tasks": 0})
            acc["s"] += self.self_time(s)
            acc["jobs"] += len(s.jobs)
            acc["stages"] += s.stages
            acc["tasks"] += s.tasks
        return out

    def request_totals(self, root: Span) -> dict:
        """Jobs, stages and tasks of one whole request (or operation;
        zeros when it ran untraced)."""
        spans = [s for s in self.spans if root and s.req == root.sid]
        return {"jobs": sum(len(s.jobs) for s in spans),
                "stages": sum(s.stages for s in spans),
                "tasks": sum(s.tasks for s in spans)}

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "request": s.req, "start": s.start, "end": s.end,
                    "jobs": s.jobs, "stages": s.stages,
                    "tasks": s.tasks}) + "\n")
