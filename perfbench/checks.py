"""Correctness checks on every response the benchmark receives.

Three tiers: per-response invariants (ordering, page size, filters,
cursors, agg counts against the exact total), parity of each hit page
with the exact unpruned ``Searcher.top_k`` plan, and parity with the
pure-Python oracle ``tests/oracle.OracleIndex``.  Plus ``Digest``, a hash
over all responses with scores rounded to ``SCORE_DECIMALS``, so two
commits can be compared for identical results.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import math

SCORE_DECIMALS = 6


class Checks:
    """Collects failed checks; the run fails if any is recorded."""

    def __init__(self):
        self.failures: list[str] = []
        self.passed = 0

    def expect(self, ok: bool, what: str) -> None:
        if ok:
            self.passed += 1
        else:
            self.failures.append(what)


def hits_of(req: dict, resp) -> list[dict]:
    return resp if req["api"] == "query" else resp["docs"]


def _ts(v) -> _dt.datetime:
    return v if isinstance(v, _dt.datetime) else \
        _dt.datetime.fromisoformat(str(v).replace("T", " "))


def _filters(query: dict) -> list[dict]:
    b = query.get("bool") if isinstance(query, dict) else None
    return list(b.get("filter", [])) if b else []


def check_response(req: dict, resp, chk: Checks) -> None:
    """Invariants every response must satisfy, whatever the corpus."""
    tag = f"{req['cls']}: {json.dumps(req['body'], default=str)[:160]}"
    body = req["body"]
    hits = hits_of(req, resp)
    limit = 10 if req["api"] == "query" else int(body.get("limit", 10))
    chk.expect(len(hits) <= limit, f"{tag}: {len(hits)} hits > limit")
    keys = [(h["score"], h["docid"]) for h in hits]
    chk.expect(all(a[0] > b[0] or (a[0] == b[0] and a[1] < b[1])
                   for a, b in zip(keys, keys[1:])),
               f"{tag}: hits not ordered by (score desc, docid asc)")
    if req["api"] == "query":
        return
    after = body.get("search_after")
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        chk.expect(all(s < s0 or (s == s0 and d > d0) for s, d in keys),
                   f"{tag}: hit not after the search_after cursor")
    for f in _filters(body["query"]):
        rng = f.get("range", {}).get("ts")
        if rng:
            lo, hi = _ts(rng["gte"]), _ts(rng["lte"])
            chk.expect(all(lo <= _ts(h["doc"]["ts"][0]) <= hi
                           for h in hits), f"{tag}: hit outside ts range")
    pf = body.get("post_filter")
    if pf:
        (field, value), = pf["term"].items()
        chk.expect(all(h["doc"].get(field) == [value] for h in hits),
                   f"{tag}: hit violates post_filter")
    src = body.get("_source")
    if isinstance(src, list):
        chk.expect(all(set(h["doc"]) <= set(src) for h in hits),
                   f"{tag}: _source returned unrequested fields")
    for h in hits:
        for frags in (h.get("highlight") or {}).values():
            chk.expect(all("<em>" in fr for fr in frags),
                       f"{tag}: highlight fragment without a match tag")
    total = (resp.get("total") or {}).get("value")
    if body.get("track_total_hits"):
        chk.expect(isinstance(total, int) and total >= len(hits),
                   f"{tag}: bad total {total}")
    aggs = resp.get("aggs") or {}
    cls = req["cls"]
    if cls == "agg_terms_stats":
        roles = sum(b["doc_count"] for b in aggs["roles"]["buckets"])
        chk.expect(roles == total, f"{tag}: role buckets {roles} != {total}")
        chk.expect(aggs["idx"]["count"] == total,
                   f"{tag}: stats count {aggs['idx']['count']} != {total}")
        for b in aggs["roles"]["buckets"]:
            m = b["mean_idx"]["value"]
            chk.expect(m is not None and 0 <= m <= 12,
                       f"{tag}: bucket mean turn_idx {m} out of range")
    elif cls == "facets_role":
        n = sum(resp["facets"]["role"].values())
        chk.expect(n == total, f"{tag}: role facets {n} != {total}")
    elif cls == "agg_date_hist":
        n = sum(b["doc_count"] for b in aggs["days"]["buckets"])
        chk.expect(n == total, f"{tag}: day buckets {n} != {total}")
    elif cls == "agg_hist_pipeline":
        counts = [b["doc_count"] for b in aggs["h"]["buckets"]]
        chk.expect(len(counts) <= 4, f"{tag}: bucket_sort size ignored")
        chk.expect(counts == sorted(counts, reverse=True),
                   f"{tag}: bucket_sort order")
        if counts:
            chk.expect(aggs["best"]["value"] == counts[0],
                       f"{tag}: max_bucket {aggs['best']['value']} != "
                       f"{counts[0]}")
    elif cls == "agg_composite_page2":
        after = body["aggs"]["c"]["composite"].get("after")
        if after is not None:
            a = (after["r"], after["t"])
            chk.expect(all((b["key"]["r"], b["key"]["t"]) > a
                           for b in aggs["c"]["buckets"]),
                       f"{tag}: composite page 2 not after its key")


def exact_plan(idx, req: dict):
    """The same request through the exact, unpruned top-k plan (a lazy
    DataFrame of docid_g, score)."""
    from sonar_tantivy_spark.plans import ast as A

    s = idx.searcher()
    body = req["body"]
    if req["api"] == "query":
        plan = s.top_k(A.parse_string(body, idx.schema), limit=10)
    else:
        node = A.parse_json(body["query"], idx.schema)
        if body.get("post_filter"):
            node = A.BoolQ(must=[node], filter=[
                A.parse_json(body["post_filter"], idx.schema)])
        after = body.get("search_after")
        plan = s.top_k(node, limit=int(body.get("limit", 10)),
                       sort_by=body.get("sort_by"),
                       after=tuple(after) if after else None)
    return plan.select("docid_g", "score")


def check_exact(idx, pages: list[tuple[dict, object]], chk: Checks) -> None:
    """Every (request, response) hit page against its exact plan; the
    plans run as one union, one Spark job."""
    import functools

    from pyspark.sql import functions as F

    plans = [exact_plan(idx, req).withColumn("page", F.lit(i))
             for i, (req, _) in enumerate(pages)]
    want: dict[int, list] = {i: [] for i in range(len(pages))}
    for r in functools.reduce(lambda a, b: a.unionByName(b), plans).collect():
        want[r["page"]].append((int(r["docid_g"]), float(r["score"])))
    for i, (req, resp) in enumerate(pages):
        w = sorted(want[i], key=lambda x: (-x[1], x[0]))
        got = [(h["docid"], h["score"]) for h in hits_of(req, resp)]
        chk.expect(got == w, f"{req['cls']}: pruned page {got[:3]}... != "
                   f"exact plan {w[:3]}...")


def check_oracle(oracle, idx, req: dict, resp, chk: Checks,
                 deleted: frozenset = frozenset()) -> None:
    """Rank and score parity with the oracle.  ``deleted``: docids
    tombstoned since the last merge; they keep counting in the term
    statistics (scores of the survivors do not change) but never match."""
    from sonar_tantivy_spark.plans import ast as A

    node = A.parse_json(req["body"]["query"], idx.schema)
    limit = int(req["body"].get("limit", 10))
    want = [(d, s) for d, s in oracle.top_k(node, oracle.N)
            if d not in deleted][:limit]
    got = [(h["docid"], h["score"]) for h in hits_of(req, resp)]
    chk.expect([d for d, _ in got] == [d for d, _ in want]
               and all(math.isclose(a, b, rel_tol=1e-9)
                       for (_, a), (_, b) in zip(got, want)),
               f"{req['cls']}: engine {got[:3]}... != oracle {want[:3]}...")


def _canon(x):
    if isinstance(x, float):
        return round(x, SCORE_DECIMALS)
    if isinstance(x, dict):
        return {str(k): _canon(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [_canon(v) for v in x]
    if isinstance(x, (_dt.datetime, _dt.date)):
        return x.isoformat()
    return x


class Digest:
    """sha256 over (request, response) pairs in request order."""

    def __init__(self):
        self.h = hashlib.sha256()
        self.n = 0

    def add(self, req: dict, resp) -> None:
        rec = {"req": _canon(req["body"]), "resp": _canon(resp)}
        self.h.update(json.dumps(rec, sort_keys=True,
                                 default=str).encode())
        self.n += 1

    def hexdigest(self) -> str:
        return self.h.hexdigest()[:16]
