"""Self-test of the correctness checks: feed them deliberately wrong
responses and require each to be caught (part of
``python3 perfbench/run.py --smoke``)."""

from __future__ import annotations

import copy

from perfbench import checks

_GOOD = {
    "cls": "ts_range", "api": "json",
    "body": {"query": {"bool": {
        "must": [{"term": {"text": "wbababa0"}}],
        "filter": [{"range": {"ts": {"gte": "2026-01-01 00:00:00",
                                     "lte": "2026-01-02 00:00:00"}}}]}},
        "limit": 2, "search_after": [9.0, 1], "_source": ["ts", "role"]},
}
_GOOD_RESP = {"docs": [
    {"score": 5.0, "docid": 7, "doc": {"ts": ["2026-01-01 03:00:00"],
                                       "role": ["user"]}},
    {"score": 5.0, "docid": 9, "doc": {"ts": ["2026-01-01 05:00:00"],
                                       "role": ["tool"]}}], "facets": {}}
_AGG = {"cls": "agg_terms_stats", "api": "json",
        "body": {"query": {"term": {"text": "the"}}, "limit": 0,
                 "track_total_hits": True}}
_AGG_RESP = {"docs": [], "facets": {}, "total": {"value": 5},
             "aggs": {"roles": {"buckets": [
                 {"key": "user", "doc_count": 3, "mean_idx": {"value": 2.0}},
                 {"key": "tool", "doc_count": 2, "mean_idx": {"value": 1.0}}]},
                 "idx": {"count": 5}}}


def _mutants():
    """(name, request, response) triples that each break one invariant."""
    out = []
    r = copy.deepcopy(_GOOD_RESP)
    r["docs"].reverse()
    out.append(("order", _GOOD, r))
    r = copy.deepcopy(_GOOD_RESP)
    r["docs"].append(dict(r["docs"][-1], docid=11))
    out.append(("limit", _GOOD, r))
    r = copy.deepcopy(_GOOD_RESP)
    r["docs"][0]["score"] = 9.5
    out.append(("search_after", _GOOD, r))
    r = copy.deepcopy(_GOOD_RESP)
    r["docs"][1]["doc"]["ts"] = ["2026-01-03 00:00:00"]
    out.append(("ts_range", _GOOD, r))
    r = copy.deepcopy(_GOOD_RESP)
    r["docs"][1]["doc"]["text"] = ["x"]
    out.append(("_source", _GOOD, r))
    r = copy.deepcopy(_AGG_RESP)
    r["total"]["value"] = 6
    out.append(("agg_total", _AGG, r))
    return out


def checker_selftest() -> list[str]:
    """Problems found: a good response flagged, or a mutant missed."""
    problems = []
    for req, resp in ((_GOOD, _GOOD_RESP), (_AGG, _AGG_RESP)):
        chk = checks.Checks()
        checks.check_response(req, resp, chk)
        if chk.failures:
            problems.append(f"good response flagged: {chk.failures}")
    for name, req, resp in _mutants():
        chk = checks.Checks()
        checks.check_response(req, resp, chk)
        if not chk.failures:
            problems.append(f"mutant {name!r} not caught")
    d1, d2 = checks.Digest(), checks.Digest()
    d1.add(_GOOD, _GOOD_RESP)
    d2.add(_GOOD, _mutants()[0][2])
    if d1.hexdigest() == d2.hexdigest():
        problems.append("digest blind to a reordered page")
    return problems

