"""Seeded request mixes.

Everything here is a pure function of the seed, so a run costs the same
every time and two commits see the same requests.  The engine only ever
receives the generated request dicts.
"""

from __future__ import annotations

import datetime as dt
import random

from sonar_tantivy_spark.sources.transcripts import VOCAB_SIZE, _vocab

MARKERS = ["hello", "mundo", "needle", "stems", "trendalpha"]

# request classes of the search workload; "hits" classes return a hit
# page only, "aggs" classes carry aggs / facets / track_total_hits
HIT_CLASSES = ["term", "bool_msm", "phrase", "slop", "prefix", "wildcard",
               "ts_range", "sort_ts", "page2", "highlight_source",
               "snippet"]
AGG_CLASSES = ["agg_terms_stats", "agg_hist_pipeline", "agg_date_hist",
               "agg_composite_page2", "facets_role"]
CLASSES = HIT_CLASSES + AGG_CLASSES

# the read requests issued on each fresh snapshot of the ingest workload:
# shapes the pure-Python oracle scores, the first on a cold Searcher.
# After the seeded first one come two fixed queries, as a dashboard re-runs
# after each commit: with three samples of a class per run, seeded draws of
# varying cost would move a run's median more than the engine does.
INGEST_READS = ["fresh", "watch_bool", "watch_phrase"]


class Vocab:
    """Zipf-ranked vocabulary of the transcript generator: rank r is
    drawn with weight r**-1.1, so low ranks are hot terms."""

    HOT = (0, 40)
    MID = (200, 3000)
    RARE = (8000, VOCAB_SIZE)

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.words = _vocab()

    def draw(self, band: tuple[int, int]) -> str:
        return self.words[self.rng.randrange(*band)]

    def any_term(self) -> str:
        """Zipf-style mix: hot, mid, rare or a marker word."""
        r = self.rng.random()
        if r < 0.35:
            return self.draw(self.HOT)
        if r < 0.65:
            return self.draw(self.MID)
        if r < 0.8:
            return self.draw(self.RARE)
        return self.rng.choice(MARKERS)

    def agg_term(self) -> str:
        """Hot or mid terms (match sets from ~1 % of the corpus to most
        of it) plus the 40 %-of-turns stopword "the"."""
        r = self.rng.random()
        if r < 0.25:
            return "the"
        if r < 0.7:
            return self.draw(self.HOT)
        return self.draw((40, 400))


def _term(f: str, t: str) -> dict:
    return {"term": {f: t}}


def _ts(hours: int) -> str:
    """The generator's clock: conversation c starts 2026-01-01 + c hours."""
    t = dt.datetime(2026, 1, 1) + dt.timedelta(hours=hours)
    return t.strftime("%Y-%m-%d %H:%M:%S")


class RequestMix:
    """Generates one request per class from the seed.  ``texts`` are
    corpus texts, used to pick phrases that occur; ``n_convs`` bounds the
    ts range filters (one conversation per hour from 2026-01-01)."""

    def __init__(self, seed: int, texts: list[str], n_convs: int):
        self.rng = random.Random(seed)
        self.vocab = Vocab(self.rng)
        self.texts = texts
        self.n_convs = max(2, n_convs)

    def _pair(self) -> list[str]:
        """Two adjacent words of a corpus turn (a phrase that matches),
        or the "hello world" marker phrase."""
        if self.rng.random() < 0.25:
            return ["hello", "world"]
        words = self.rng.choice(self.texts).split()
        i = self.rng.randrange(max(1, len(words) - 1))
        return words[i:i + 2] if len(words) > 1 else words * 2

    def make(self, cls: str) -> list[dict]:
        """The request(s) of one class slot.  Each request is
        ``{"cls", "api", "body"}``; ``api`` is "json" (Index.query_json)
        or "query" (Index.query with a snippet).  A page-2 slot emits its
        page-1 request first; the loop fills the cursor from it."""
        v, rng = self.vocab, self.rng
        if cls == "term":
            return [_json(cls, {"query": _term("text", v.any_term()),
                                "limit": 10})]
        if cls == "fresh":
            # the first request on a new snapshot: a hot term, so its cost
            # is the cold Searcher's and not the luck of the draw
            return [_json(cls, {"query": _term("text", v.draw(v.HOT)),
                                "limit": 10})]
        if cls == "watch_bool":
            return [_json(cls, {"query": {"bool": {
                "should": [_term("text", w) for w in MARKERS[:3]],
                "minimum_should_match": 2}}, "limit": 10})]
        if cls == "watch_phrase":
            return [_json(cls, {"query": {"phrase": {"text": {
                "terms": ["hello", "world"]}}}, "limit": 10})]
        if cls == "bool_msm":
            should = [_term("text", w) for w in
                      (v.draw(v.HOT), v.draw(v.MID), rng.choice(MARKERS))]
            return [_json(cls, {"query": {"bool": {
                "should": should, "minimum_should_match": 2}},
                "limit": 10})]
        if cls in ("phrase", "slop"):
            spec: dict = {"terms": self._pair()}
            if cls == "slop":
                spec["slop"] = 2
            return [_json(cls, {"query": {"phrase": {"text": spec}},
                                "limit": 10})]
        if cls == "prefix":
            return [_json(cls, {"query": {"prefix": {
                "text": v.draw(v.MID)[:5]}}, "limit": 10})]
        if cls == "wildcard":
            w = v.draw(v.HOT)
            i = rng.randrange(1, len(w))
            return [_json(cls, {"query": {"wildcard": {
                "text": w[:i] + "?" + w[i + 1:]}}, "limit": 10})]
        if cls == "ts_range":
            a = rng.randrange(self.n_convs // 2)
            b = a + rng.randrange(24, max(25, self.n_convs // 2))
            return [_json(cls, {"query": {"bool": {
                "must": [_term("text", v.draw(v.HOT))],
                "filter": [{"range": {"ts": {"gte": _ts(a),
                                             "lte": _ts(b)}}}]}},
                "limit": 10})]
        if cls == "sort_ts":
            return [_json(cls, {"query": _term("text", v.draw(v.HOT)),
                                "limit": 10, "sort_by": "ts"})]
        if cls == "page2":
            body = {"query": _term("text", v.draw(v.HOT)), "limit": 10}
            return [_json("term", dict(body)),
                    _json(cls, dict(body), cursor="search_after")]
        if cls == "highlight_source":
            return [_json(cls, {
                "query": {"bool": {"should": [
                    _term("text", v.draw(v.HOT)),
                    _term("text", rng.choice(MARKERS))]}},
                "limit": 10,
                "highlight": {"fields": {"text": {
                    "fragment_size": 40, "number_of_fragments": 2}}},
                "_source": ["conv_id", "role", "text"]})]
        if cls == "snippet":
            return [{"cls": cls, "api": "query",
                     "body": " ".join(self._pair())}]
        q = _term("text", v.agg_term())
        if cls == "agg_terms_stats":
            return [_json(cls, {
                "query": q, "limit": 10, "track_total_hits": True,
                "aggs": {"roles": {"terms": {"field": "role", "aggs": {
                    "mean_idx": {"avg": {"field": "turn_idx"}}}}},
                         "idx": {"stats": {"field": "turn_idx"}}}})]
        if cls == "agg_hist_pipeline":
            return [_json(cls, {
                "query": q, "limit": 0,
                "aggs": {"h": {"histogram": {
                    "field": "turn_idx", "interval": 2, "aggs": {
                        "cs": {"cumulative_sum":
                               {"buckets_path": "doc_count"}},
                        "dv": {"derivative": {"buckets_path": "doc_count"}},
                        "top": {"bucket_sort": {"sort": [
                            {"doc_count": {"order": "desc"}}],
                            "size": 4}}}}},
                    "best": {"max_bucket": {"buckets_path": "h>doc_count"}}
                }})]
        if cls == "agg_date_hist":
            role = rng.choice(["user", "assistant", "tool"])
            return [_json(cls, {
                "query": q, "limit": 10, "track_total_hits": True,
                "post_filter": _term("role", role),
                "aggs": {"days": {"date_histogram": {
                    "field": "ts", "calendar_interval": "day"}}}})]
        if cls == "agg_composite_page2":
            comp = {"sources": [{"r": {"terms": {"field": "role"}}},
                                {"t": {"terms": {"field": "tool"}}}],
                    "size": 3}
            body = {"query": q, "limit": 0, "aggs": {"c": {"composite": comp}}}
            page1 = _json("agg_composite_page1", body)
            page2 = _json(cls, {"query": q, "limit": 0,
                                "aggs": {"c": {"composite": dict(comp)}}},
                          cursor="after_key")
            return [page1, page2]
        if cls == "facets_role":
            return [_json(cls, {"query": q, "limit": 10,
                                "track_total_hits": True,
                                "facets": {"role": []}})]
        raise ValueError(f"unknown request class {cls!r}")

    def cycle(self, classes: list[str]) -> list[dict]:
        """One request per class, in a seeded order."""
        order = list(classes)
        self.rng.shuffle(order)
        out: list[dict] = []
        for cls in order:
            for req in self.make(cls):
                req["slot"] = cls  # a page-2 slot's page 1 shares its slot
                out.append(req)
        return out


def _json(cls: str, body: dict, cursor: str | None = None) -> dict:
    r = {"cls": cls, "api": "json", "body": body}
    if cursor:
        r["cursor"] = cursor
    return r


def fill_cursor(req: dict, prev: dict | None) -> dict:
    """Page 2 of a paged request: copy the cursor out of the page-1
    response ``prev`` into the request body."""
    body = req["body"]
    if req.get("cursor") == "search_after":
        last = prev["docs"][-1] if prev and prev["docs"] else None
        if last is not None:
            body["search_after"] = [last["score"], last["docid"]]
    elif req.get("cursor") == "after_key":
        after = ((prev or {}).get("aggs", {}).get("c") or {}).get("after_key")
        if after is not None:
            body["aggs"]["c"]["composite"]["after"] = after
    return req
