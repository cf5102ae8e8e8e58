"""Aggregation registry: every agg check runs before any Spark work.

``Searcher.check_aggs`` validates the whole ``aggs`` request from the
registry (``Searcher._AGGS``) before ``Index.query_json`` plans, persists
or counts its candidates.  So a bad request raises QueryError and
launches ZERO Spark jobs on a warm index — including the checks that
need the body's values (histogram interval, calendar_interval, range
bounds, percentile_ranks values, terms order, composite after key) and
the one sub-agg rule set every bucket parent shares.
"""

import pytest

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.operators.search import Searcher
from sonar_tantivy_spark.plans import ast as A
from sonar_tantivy_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts,
)

N_TURNS = 300
TEXT_AVG = {"aggs": {"m": {"avg": {"field": "text"}}}}

BAD_AGGS = {
    "unknown_kind": {"x": {"bogus": {"field": "role"}}},
    "histogram_interval": {"h": {"histogram": {"field": "turn_idx",
                                               "interval": 0}}},
    "calendar_interval": {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "fortnight"}}},
    "range_no_ranges": {"r": {"range": {"field": "turn_idx",
                                        "ranges": []}}},
    "range_no_bounds": {"r": {"range": {"field": "turn_idx",
                                        "ranges": [{"key": "x"}]}}},
    "percentile_ranks_values": {"p": {"percentile_ranks": {
        "field": "turn_idx"}}},
    "terms_order_key": {"t": {"terms": {"field": "role",
                                        "order": {"nope": "desc"}}}},
    "composite_after": {"c": {"composite": {
        "sources": [{"r": {"terms": {"field": "role"}}},
                    {"t": {"terms": {"field": "tool"}}}],
        "after": {"r": "user"}}}},
    # one sub-agg rule set: a numeric sub-agg on the text field fails
    # the same way under every bucket parent
    "composite_text_avg": {"c": {"composite": {
        "sources": [{"r": {"terms": {"field": "role"}}}], **TEXT_AVG}}},
    "multi_terms_text_avg": {"m": {"multi_terms": {
        "terms": [{"field": "role"}, {"field": "tool"}], **TEXT_AVG}}},
    "sampler_text_avg": {"s": {"sampler": {"shard_size": 5, **TEXT_AVG}}},
    "terms_text_avg": {"t": {"terms": {"field": "role", **TEXT_AVG}}},
    "global_text_avg": {"g": {"global": TEXT_AVG}},
    "composite_pipeline": {"c": {"composite": {
        "sources": [{"r": {"terms": {"field": "role"}}}],
        "aggs": {"cs": {"cumulative_sum": {"buckets_path": "_count"}}}}}},
}


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("aggregistry"))
    cat = IndexCatalog(spark, base)
    idx = cat.create_index("transcripts", TRANSCRIPT_SCHEMA)
    idx.add_df(spark.createDataFrame(generate_transcripts(N_TURNS)),
               order_cols=["conv_id", "turn_idx"], num_segments=2)
    return idx


def _job_ids(spark) -> set:
    # job events reach the status store asynchronously: drain first
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.mark.parametrize("case", sorted(BAD_AGGS))
def test_bad_aggs_fail_before_spark(spark, index, case):
    request = {"query": {"term": {"text": "hello"}}, "limit": 3,
               "track_total_hits": True}
    index.query_json({**request, "aggs": {
        "r": {"terms": {"field": "role"}}}})  # warm: Searcher + memos
    before = _job_ids(spark)
    with pytest.raises(A.QueryError):
        index.query_json({**request, "aggs": BAD_AGGS[case]})
    assert _job_ids(spark) == before


def test_unknown_kind_names_the_registry(index):
    with pytest.raises(A.QueryError) as e:
        index.searcher().check_aggs({"x": {"bogus": {}}})
    assert ", ".join(sorted(Searcher._AGGS)) in str(e.value)


def test_total_hits_counted_with_the_collectors(index):
    q = {"term": {"text": "the"}}
    res = index.query_json({"query": q, "limit": 2, "track_total_hits": True,
                            "facets": {"role": []},
                            "aggs": {"r": {"terms": {"field": "role"}}}})
    n = index.count(q)
    assert res["total"] == {"value": n, "relation": "eq"}
    assert sum(res["facets"]["role"].values()) == n
    assert sum(b["doc_count"] for b in res["aggs"]["r"]["buckets"]) == n
