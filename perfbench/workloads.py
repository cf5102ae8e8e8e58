"""The two workloads: a closed-loop search client on a static index, and a
micro-batch ingest stream with reads on every fresh snapshot.

Both run through the public API only (``IndexCatalog``, ``Index``,
``Searcher``, ``operators.merge``).  Each engine call is one operation:
it runs in its own try block, a raise is counted by error class and
never retried, and every response is checked (``checks.py``).
"""

from __future__ import annotations

import collections
import os
import statistics
import time
import traceback

from perfbench import checks
from perfbench.mix import (AGG_CLASSES, CLASSES, INGEST_READS, RequestMix,
                           fill_cursor)

# the alert queries registered for percolation (the eight of bench.py)
ALERTS = {
    "alert_hello": {"term": {"text": "hello"}},
    "alert_phrase": '"hello world"~2',
    "alert_bool": {"bool": {"must": [{"term": {"text": "world"}}],
                            "must_not": [{"term": {"text": "mundo"}}]}},
    "alert_prefix": "hell*",
    "alert_terms": {"terms": {"text": ["needle", "mundo"]}},
    "alert_span": {"span_near": {"clauses": [
        {"span_term": {"text": "hello"}},
        {"span_or": {"clauses": [{"span_term": {"text": "world"}},
                                 {"span_term": {"text": "mundo"}}]}}],
        "slop": 2}},
    "alert_tool": {"exists": {"field": "tool"}},
    "alert_msm": {"bool": {"should": [{"term": {"text": "hello"}},
                                      {"term": {"text": "world"}},
                                      {"term": {"text": "needle"}}],
                           "minimum_should_match": 2}},
}
ORDER = ["conv_id", "turn_idx"]
ORACLE_FIELDS = {"text": "en_stem", "role": "raw", "tool": "raw"}


def input_bytes(pdf) -> int:
    """UTF-8 bytes of the input columns (strings), 4 per turn_idx, 8 per
    ts."""
    n = 0
    for col in ("conv_id", "role", "text", "tool"):
        n += int(pdf[col].dropna().map(lambda s: len(s.encode())).sum())
    return n + 12 * len(pdf)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


def table_bytes(metas: list[dict]) -> dict[str, int]:
    out = collections.Counter()
    for m in metas:
        for t, path in m.get("tables", {}).items():
            out[t] += dir_bytes(path)
    return dict(out)


class Run:
    """Operation accounting, latencies, checks and spans of one run."""

    def __init__(self, tracer, trace: bool):
        self.tracer = tracer
        self.trace = trace
        self.chk = checks.Checks()
        self.digest = checks.Digest()
        self.attempted = 0
        self.failed = 0
        self.errors: collections.Counter = collections.Counter()
        # (class, wall s, traced, root span) of every read request
        self.reads: list[tuple[str, float, bool, object]] = []
        self.fresh: list[float] = []
        # search_mix's first request on its snapshot, kept out of reads
        self.fresh_reads: list[tuple[str, float, bool, object]] = []
        # write-side op walls: kind -> [(wall, root span, extra)]
        self.writes: dict[str, list] = collections.defaultdict(list)
        self.repeat: list[bool] = []
        self._seen_terms: set = set()
        self.first_of_class: dict[str, tuple[dict, object]] = {}
        self.tokens: list[tuple[int, float]] = []

    def op(self, kind: str, fn, traced: bool = True):
        """One engine operation; returns (result, wall) or (None, None)
        when it raised."""
        self.attempted += 1
        self.tracer.active = self.trace and traced
        root = self.tracer.begin_request(kind)
        t0 = time.perf_counter()
        try:
            out = fn()
            return out, time.perf_counter() - t0
        except Exception as e:  # counted, reported, never retried
            traceback.print_exc()
            self.failed += 1
            self.errors[f"{kind}:{type(e).__name__}"] += 1
            return None, None
        finally:
            self.tracer.end_request(root)
            self.tracer.active = False
            self._last_root = root

    def write(self, kind: str, fn, **extra):
        """A write-side operation; callable ``extra`` values are applied
        to its result right after the call (the build's metrics.jsonl
        record, the bytes a merge wrote)."""
        out, wall = self.op(kind, fn)
        if wall is not None:
            extra = {k: v(out) if callable(v) else v
                     for k, v in extra.items()}
            self.writes[kind].append((wall, self._last_root, extra))
        return out

    def new_snapshot(self) -> None:
        self._seen_terms = set()

    def request(self, idx, req: dict, traced: bool, digest: bool,
                verify: bool = True):
        """One read request, checked.  ``verify``: keep the first hit page
        of its class for the untimed exact-plan check after the timed
        phase (the ingest reads are left to the oracle; their shapes are
        checked on search_mix, and agg requests take their hit page from
        the exact plan already)."""
        body = req["body"]
        if req["api"] == "query":
            fn = lambda: idx.query(body, snippet_field="text")  # noqa: E731
        else:
            fn = lambda: idx.query_json(body)  # noqa: E731
        self._note_terms(idx, req)
        resp, wall = self.op(f"request.{req['cls']}", fn, traced)
        if resp is None:
            return None
        self.reads.append((req["cls"], wall, self.trace and traced,
                           self._last_root))
        checks.check_response(req, resp, self.chk)
        if digest:
            self.digest.add(req, resp)
        if verify and req["cls"] not in AGG_CLASSES \
                and checks.hits_of(req, resp):
            self.first_of_class.setdefault(req["cls"], (req, resp))
        return resp

    def _note_terms(self, idx, req: dict) -> None:
        """workload.repeat_term_frac: did every (field, term) of this
        request appear earlier on the same snapshot?"""
        from sonar_tantivy_spark.operators.search import collect_terms
        from sonar_tantivy_spark.plans import ast as A

        body = req["body"]
        try:
            node = (A.parse_string(body, idx.schema) if req["api"] == "query"
                    else A.parse_json(body["query"], idx.schema))
        except A.QueryError:  # the request itself will fail and be counted
            return
        terms = set(collect_terms(node))
        self.repeat.append(bool(terms) and terms <= self._seen_terms)
        self._seen_terms |= terms

    def verify(self, idx) -> None:
        """Untimed: the kept hit pages against the exact unpruned top-k
        plan on the same (static) snapshot."""
        pages = [self.first_of_class[c] for c in sorted(self.first_of_class)]
        if not pages:
            return
        self.attempted += 1
        try:
            checks.check_exact(idx, pages, self.chk)
        except Exception as e:
            traceback.print_exc()
            self.failed += 1
            self.errors[f"verify:{type(e).__name__}"] += 1


# ----------------------------------------------------------------- set-up
def new_index(cat, name: str):
    """A new index with the alert queries registered for percolation."""
    from sonar_tantivy_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    idx = cat.create_index(name, TRANSCRIPT_SCHEMA)
    for aname, q in ALERTS.items():
        idx.register_query(aname, q)
    return idx


def commit(run: Run, spark, idx, part, n_segments: int = 1,
           percolate: bool = True) -> None:
    """One add_df of ``part`` as ``n_segments`` segments, after
    percolating it against the alerts: the write calls of a stream
    batch, and of each commit of a bulk load."""
    sdf = spark.createDataFrame(part)
    turns = len(part)
    if percolate:
        run.write("operators.percolate",
                  lambda: idx.percolate(sdf).count(), turns=turns)
    seg = {"seg_size": -(-turns // n_segments)} if n_segments > 1 else {}
    run.write("operators.build.add_df", lambda: idx.add_df(
        sdf, order_cols=ORDER, n_hint=turns, **seg),
        turns=turns, phases=_last_phases(idx), texts=part["text"])
    run.new_snapshot()


def merged_bytes(metas) -> int:
    """Parquet bytes of the segments a compaction wrote (``compact_to``
    returns a list of metas, ``tiered_compact`` one meta or None)."""
    if isinstance(metas, dict):
        metas = [metas]
    return sum(table_bytes(metas or []).values())


def _last_phases(idx):
    """Reader of the phase_walls_s record the build just appended to
    metrics.jsonl."""
    import json

    def read(_metas):
        path = os.path.join(idx.storage.root, "metrics.jsonl")
        with open(path) as fh:
            lines = fh.read().splitlines()
        return json.loads(lines[-1]).get("phase_walls_s", {})

    return read


# --------------------------------------------------------------- workloads
def search_mix(run: Run, spark, cat, seed: int, seconds: float,
               sizes: dict, setup_done) -> dict:
    """Closed loop, one client: whole cycles of the request mix (one
    request per class, seeded order), one cycle per ``cycle_s`` of
    ``seconds`` and at least one.  The count is fixed by ``seconds``, not
    by the clock, so two commits always do the same work; the digest
    covers the first cycle."""
    from sonar_tantivy_spark.operators.merge import compact_to
    from sonar_tantivy_spark.sources.transcripts import generate_transcripts

    t0 = time.perf_counter()
    pdf = generate_transcripts(sizes["turns"], seed)
    idx = new_index(cat, "search")
    # several commits, so the set-up write metrics are medians over calls
    # and not one cold call's luck; the first pays the JVM's cold start
    # (in setup_s) and is left out of them
    step = -(-len(pdf) // sizes["commits"])
    for i in range(0, len(pdf), step):
        commit(run, spark, idx, pdf[i:i + step], sizes["commit_segments"])
        if i == 0:
            run.writes.clear()
    run.write("operators.merge", lambda: compact_to(idx, sizes["compact_to"]),
              bytes=merged_bytes)
    setup_s = time.perf_counter() - t0
    run.new_snapshot()
    mix = RequestMix(seed, list(pdf["text"][:2000]),
                     int(pdf["conv_id"].nunique()))
    # the first request on the new snapshot builds a cold Searcher
    fresh = mix.make("fresh")[0]
    resp = run.request(idx, fresh, traced=True, digest=True)
    if resp is not None:  # set-up context, not one of the timed reads
        run.fresh_reads.append(run.reads.pop())
        run.fresh.append(run.fresh_reads[-1][1])
    setup_done()
    t_timed = time.perf_counter()
    cycles = max(1, round(seconds / sizes["cycle_s"]))
    if run.trace:
        # twice the cycles, each class traced in one and untraced in the
        # other: per-class counts for every class, and the tracing overhead
        cycles *= 2
    for cycle in range(cycles):
        prev = None
        for req in mix.cycle(CLASSES):
            fill_cursor(req, prev)
            traced = (CLASSES.index(req["slot"]) + cycle) % 2 == 0
            prev = run.request(idx, req, traced=traced, digest=cycle == 0)
    timed_s = time.perf_counter() - t_timed
    return {"idx": idx, "pdf": pdf, "setup_s": setup_s, "timed_s": timed_s,
            "cycles": cycles}


def ingest_stream(run: Run, spark, cat, seed: int, seconds: float,
                  sizes: dict, setup_done) -> dict:
    """Micro-batches of ``batch`` turns, one per ``batch_s`` of ``seconds``
    and at least three (a count fixed by ``seconds``; three give each
    batch-level metric a median).  Per batch: percolate, add_df, the read
    requests on the new snapshot (the first builds a cold Searcher),
    tiered_compact.

    Set-up indexes most of the ``base`` turns as four segments in one
    bulk load, commits the rest through the stream's own calls, merges
    back to four segments, runs the one delete_term, and then each read
    shape once; their answers are checked against the oracle, untimed.
    So every timed batch runs warm code paths on an index of the same
    shape: four segments and the fresh one."""
    from sonar_tantivy_spark.operators.merge import tiered_compact
    from sonar_tantivy_spark.sources.transcripts import generate_transcripts

    def merge(idx):
        return tiered_compact(idx, max_segments=4)

    t0 = time.perf_counter()
    base, batch = sizes["base"], sizes["batch"]
    batches = max(3, round(seconds / sizes["batch_s"]))
    pdf = generate_transcripts(base + batch * batches, seed)
    head = base - base // 5
    idx = new_index(cat, "stream")
    commit(run, spark, idx, pdf[:head], 4, percolate=False)
    commit(run, spark, idx, pdf[head:base])
    run.write("operators.merge", lambda: merge(idx), bytes=merged_bytes)
    run.write("catalog.delete_term", lambda: idx.delete_term("text", "mundo"))
    mix = RequestMix(seed, list(pdf["text"][:base]),
                     int(pdf["conv_id"].nunique()))
    answered = []
    for cls in INGEST_READS:
        req = mix.make(cls)[0]
        resp = run.request(idx, req, traced=False, digest=True, verify=False)
        if resp is not None:
            answered.append((req, resp))
    setup_s = time.perf_counter() - t0
    for req, resp in answered:
        _oracle_check(run, idx, pdf[:base], req, resp)
    setup_walls = {k: [round(c[0], 3) for c in v]
                   for k, v in run.writes.items()}
    setup_walls["reads"] = [round(r[1], 3) for r in run.reads]
    # the stream's own calls are the measured ones
    run.reads.clear()
    run.repeat.clear()
    run.writes.clear()
    setup_done()
    t_timed = time.perf_counter()
    end = base
    for b in range(batches):
        commit(run, spark, idx, pdf[end:end + batch])
        end += batch
        for j, cls in enumerate(INGEST_READS):
            resp = run.request(idx, mix.make(cls)[0],
                               traced=(j + b) % 2 == 0, digest=b == 0,
                               verify=False)
            if j == 0 and resp is not None:
                run.fresh.append(run.reads[-1][1])
        run.write("operators.merge", lambda: merge(idx), bytes=merged_bytes)
    timed_s = time.perf_counter() - t_timed
    return {"idx": idx, "pdf": pdf[:end], "setup_s": setup_s,
            "timed_s": timed_s, "batches": batches,
            "setup_walls_s": setup_walls}


def _oracle_check(run: Run, idx, docs_pdf, req: dict, resp) -> None:
    """Untimed: the pure-Python oracle over every committed turn, minus
    those the delete_term tombstoned."""
    from tests.oracle import OracleIndex

    oracle = getattr(run, "_oracle", None)
    if oracle is None or oracle.N != len(docs_pdf):
        oracle = run._oracle = OracleIndex(docs_pdf.to_dict("records"),
                                           ORACLE_FIELDS)
    deleted = frozenset(oracle.postings.get(("text", "mundo"), {}))
    run.attempted += 1
    try:
        checks.check_oracle(oracle, idx, req, resp, run.chk, deleted)
    except Exception as e:
        traceback.print_exc()
        run.failed += 1
        run.errors[f"oracle.{req['cls']}:{type(e).__name__}"] += 1


WORKLOADS = {"search_mix": search_mix, "ingest_stream": ingest_stream}


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive
    method), defined for one sample too."""
    vs = sorted(values)
    if len(vs) <= 1:
        return vs[0] if vs else 0.0
    return statistics.quantiles(vs, n=100, method="inclusive")[
        round(q * 100) - 1]


def is_agg(cls: str) -> bool:
    return cls in AGG_CLASSES or cls.startswith("agg_")
