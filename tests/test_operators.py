"""Per-operator tests on tiny deterministic corpora — the reference's
dominant test pattern (SearchTest.withIndex fixtures, SURVEY.md §5.1):
exact docID lists, reference semantics for bool/dismax/multi_match/filters/
facets/sorts/RRF."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig, IndexReader
from nixiesearch_spark.query import (
    BoolQuery,
    DisMaxQuery,
    MatchAllQuery,
    MatchQuery,
    MultiMatchQuery,
    RRFQuery,
    Searcher,
    parse_query,
)
from nixiesearch_spark.query.aggs import range_agg, term_agg
from nixiesearch_spark.query.rrf import rrf_fuse

# reference TestIndexMapping-style fixture: _id/title/price (+second text
# field `desc` for multi_match), one doc with missing title for sort tests
DOCS = [
    (1, "red dress", "cotton summer dress", 10, "a"),
    (2, "white dress", "silk evening dress", 20, "b"),
    (3, "red pajama", "flannel red pajama", 15, "a"),
    (4, "blue jeans", "denim jeans", 15, "c"),
    (5, None, "mystery item red", 5, "a"),
]


@pytest.fixture(scope="module")
def s(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idxops"))
    df = spark.createDataFrame(DOCS, "doc_id long, title string, desc string, price int, cat string")
    cfg = IndexConfig(text_fields=("title", "desc"), id_col="doc_id", n_shards=2)
    IndexBuilder(spark, cfg).build(df, d)
    return Searcher(IndexReader(spark, d))


def ids(df):
    return [r["docid"] for r in df.collect()]


def test_match_reference_fixture(s):
    # MatchQueryTest.scala: "pajama" → exactly ["3"]
    assert ids(s.search(MatchQuery("title", "pajama"))) == [3]


def test_match_all_default(s):
    assert sorted(ids(s.search(None, size=100))) == [1, 2, 3, 4, 5]
    assert sorted(ids(s.search(MatchAllQuery(), size=100))) == [1, 2, 3, 4, 5]


def test_bool_semantics(s):
    # must + must_not
    got = ids(
        s.search(
            BoolQuery(must=[MatchQuery("title", "red")], must_not=[MatchQuery("title", "pajama")])
        )
    )
    assert got == [1]
    # should-only: union with score sum
    got = sorted(
        ids(s.search(BoolQuery(should=[MatchQuery("title", "red"), MatchQuery("title", "jeans")])))
    )
    assert got == [1, 3, 4]
    # must restricts, should only boosts: doc must match all musts
    got = ids(
        s.search(BoolQuery(must=[MatchQuery("title", "red"), MatchQuery("title", "dress")]))
    )
    assert got == [1]


def test_bool_must_not_and_operator(s):
    # must_not=[match("pajama dress", and)] matches NO doc (no title has
    # both), so nothing is excluded; with operator=or it excludes 1,2,3
    got = sorted(ids(s.search(
        BoolQuery(must=[MatchQuery("title", "red")],
                  must_not=[MatchQuery("title", "pajama dress", "and")])
    )))
    assert got == [1, 3]
    got = sorted(ids(s.search(
        BoolQuery(must=[MatchQuery("title", "red")],
                  must_not=[MatchQuery("title", "pajama dress", "or")])
    )))
    assert got == []
    # must_not AND whose terms all co-occur in one doc excludes just that doc
    got = sorted(ids(s.search(
        BoolQuery(must=[MatchQuery("title", "red")],
                  must_not=[MatchQuery("title", "red pajama", "and")])
    )))
    assert got == [1]


def test_bool_should_boosts_rank(s):
    rows = s.search(
        BoolQuery(must=[MatchQuery("title", "red")], should=[MatchQuery("title", "pajama")])
    ).collect()
    assert [r["docid"] for r in rows] == [3, 1]  # pajama boost ranks 3 first


def test_dis_max_vs_most_fields(s):
    # dis_max takes max branch score; most_fields sums — for a doc matching
    # in both fields most_fields must score >= dis_max(tie=0)
    dm = {
        r["docid"]: r["score"]
        for r in s.search(
            MultiMatchQuery(query="red", fields=["title", "desc"], type="best_fields"), size=10
        ).collect()
    }
    mf = {
        r["docid"]: r["score"]
        for r in s.search(
            MultiMatchQuery(query="red", fields=["title", "desc"], type="most_fields"), size=10
        ).collect()
    }
    assert set(dm) == set(mf) == {1, 3, 5}
    assert mf[3] > dm[3]  # doc 3 matches "red" in both fields
    assert dm[5] == pytest.approx(mf[5])  # doc 5 matches only in desc


def test_dis_max_tie_breaker(s):
    q0 = {
        r["docid"]: r["score"]
        for r in s.search(
            DisMaxQuery(queries=[MatchQuery("title", "red"), MatchQuery("desc", "red")]), size=10
        ).collect()
    }
    q5 = {
        r["docid"]: r["score"]
        for r in s.search(
            DisMaxQuery(
                queries=[MatchQuery("title", "red"), MatchQuery("desc", "red")], tie_breaker=0.5
            ),
            size=10,
        ).collect()
    }
    assert q5[3] > q0[3] and q5[5] == pytest.approx(q0[5])


def test_filters(s):
    assert ids(s.search(None, filters={"term": {"cat": "a"}}, size=10, sort=[("_doc", "asc")])) == [1, 3, 5]
    assert ids(
        s.search(None, filters={"range": {"price": {"gte": 10, "lt": 20}}}, size=10,
                 sort=[("_doc", "asc")])
    ) == [1, 3, 4]
    assert ids(
        s.search(
            None,
            filters={"and": [{"term": {"cat": "a"}}, {"range": {"price": {"gt": 5}}}]},
            size=10, sort=[("_doc", "asc")],
        )
    ) == [1, 3]
    assert ids(
        s.search(None, filters={"not": {"term": {"cat": "a"}}}, size=10, sort=[("_doc", "asc")])
    ) == [2, 4]
    assert ids(
        s.search(None, filters={"or": [{"term": {"cat": "b"}}, {"term": {"cat": "c"}}]},
                 size=10, sort=[("_doc", "asc")])
    ) == [2, 4]
    # NOT keeps docs where the field is NULL (Lucene MUST_NOT beside
    # MatchAllDocs; doc 5 has title=NULL and must survive the negation)
    assert ids(
        s.search(None, filters={"not": {"term": {"title": "red dress"}}},
                 size=10, sort=[("_doc", "asc")])
    ) == [2, 3, 4, 5]


def test_term_facet(s):
    ms = s.score(MatchAllQuery())
    rows = term_agg(ms, s.reader.docs, "cat", 10).collect()
    assert [(r["term"], r["count"]) for r in rows] == [("a", 3), ("b", 1), ("c", 1)]


def test_range_facet(s):
    ms = s.score(MatchAllQuery())
    rows = range_agg(
        ms, s.reader.docs, "price", [{"lt": 10}, {"gte": 10, "lte": 15}, {"gt": 15}]
    ).collect()
    assert [r["count"] for r in rows] == [1, 3, 1]


def test_sort_missing_first_last(s):
    # SortSuite.scala matrix: missing title placed first/last x asc/desc
    r = s.search(None, size=10, sort=[("title", "asc", "last")])
    assert ids(r)[-1] == 5
    r = s.search(None, size=10, sort=[("title", "asc", "first")])
    assert ids(r)[0] == 5
    r = s.search(None, size=10, sort=[("price", "desc")])
    assert ids(r) == [2, 3, 4, 1, 5]  # 15-tie broken by docid asc


def test_rrf_fusion(s):
    b1 = s.score(MatchQuery("title", "red dress"))
    b2 = s.score(MatchQuery("desc", "red"))
    rows = rrf_fuse([b1, b2], size=10, window=10).collect()
    got = {r["docid"]: r["score"] for r in rows}
    # doc3 appears in both branches (red in title+desc) → two contributions
    assert set(got) == {1, 2, 3, 5}
    one_branch_max = 1.0 / 60.0
    assert got[3] > one_branch_max
    assert got[1] <= one_branch_max + 1.0 / 61.0  # sanity bound


def test_json_dsl_roundtrip(s):
    q = parse_query(
        {
            "bool": {
                "must": [{"match": {"title": "red"}}],
                "must_not": [{"match": {"title": {"query": "pajama", "operator": "or"}}}],
            }
        }
    )
    assert ids(s.search(q)) == [1]
    with pytest.raises(ValueError):
        parse_query({"match": {"title": "x"}, "bool": {}})
    with pytest.raises(ValueError):
        parse_query({"unknown_kind": {}})


def test_fetch_projection(s):
    rows = s.search(MatchQuery("title", "red"), size=10, fields=["title", "price"]).collect()
    assert {r["docid"] for r in rows} == {1, 3}
    assert all(set(r.asDict()) == {"docid", "title", "price", "score"} for r in rows)


def test_text_list_field(spark, tmp_path):
    """text[] lexical search (reference TextListFieldCodec.scala:89-92):
    repeated field instances share one norm — BM25 over the array equals
    BM25 over the space-joined string (our tokenizer treats the item
    boundary as a delimiter either way)."""
    rows = [
        (1, ["red dress", "summer cotton"]),
        (2, ["white dress"]),
        (3, ["red pajama", "flannel red"]),
        (4, []),
        (5, None),
        (6, ["red", None]),  # NULL item must not drop the whole field
    ]
    df = spark.createDataFrame(rows, "doc_id long, tags array<string>")
    d1 = str(tmp_path / "arr")
    cfg = IndexConfig(text_fields=("tags",), id_col="doc_id", n_shards=2)
    IndexBuilder(spark, cfg).build(df, d1)
    s1 = Searcher(IndexReader(spark, d1))
    # matches span items; doc 3 has tf(red)=2 across two instances; doc 6's
    # NULL item is skipped, its "red" still indexes
    got = {r["docid"]: r["score"] for r in s1.search(MatchQuery("tags", "red"), size=10).collect()}
    assert set(got) == {1, 3, 6}
    joined = df.select(
        "doc_id", F.array_join(F.col("tags"), " ").alias("tags")  # skips NULL items too
    ).na.fill({"tags": ""})
    d2 = str(tmp_path / "join")
    IndexBuilder(spark, IndexConfig(text_fields=("tags",), id_col="doc_id", n_shards=2)).build(
        joined, d2
    )
    s2 = Searcher(IndexReader(spark, d2))
    for q in (MatchQuery("tags", "red"), MatchQuery("tags", "red dress"), MatchQuery("tags", "summer flannel")):
        a = [(r["docid"], np.float32(r["score"])) for r in s1.search(q, size=10).collect()]
        b = [(r["docid"], np.float32(r["score"])) for r in s2.search(q, size=10).collect()]
        assert a == b, q


def test_rrf_fuse_matches_all_dead_branches(s):
    # every branch's terms absent from the index → empty frame, no crash
    from nixiesearch_spark.query.rrf import rrf_fuse_matches

    out = rrf_fuse_matches(s, [MatchQuery("title", "zzqqxx_nohit")], size=5)
    assert out.collect() == []


def test_ce_rerank_pipeline(s):
    """Cross-encoder rerank plumbing (reference CEQuery.scala:27-95):
    fetch-window → batch-score via mapInPandas → re-sort. The default
    deterministic lexical scorer makes the order hand-checkable; a custom
    scorer function is injectable (the ONNX surface)."""
    from nixiesearch_spark.analysis import tokenize_py
    from nixiesearch_spark.query.rerank import ce_rerank

    q = "red flannel pajama"
    out = ce_rerank(s, MatchQuery("desc", "red"), "desc", q, k=5, window=10).collect()
    # expected: the "red"-in-desc candidates (docs 3, 5) ranked by overlap
    texts = {3: "flannel red pajama", 5: "mystery item red"}
    def manual(t):
        qs, ds = set(tokenize_py(q)), set(tokenize_py(t))
        return len(qs & ds) / (len(qs) * len(ds)) ** 0.5
    want = sorted(((d, manual(t)) for d, t in texts.items()), key=lambda x: (-x[1], x[0]))
    assert [r["docid"] for r in out] == [d for d, _ in want]
    for r, (_, v) in zip(out, want):
        assert r["ce_score"] == pytest.approx(v)
    assert out[0]["docid"] == 3  # all three query tokens hit doc 3's desc
    # custom scorer injection: reverse-docid scorer must invert the order
    custom = lambda query, texts: [float(i) for i in range(len(texts))]  # noqa: E731
    got = ce_rerank(s, MatchQuery("desc", "red"), "desc", q, k=5, window=10,
                    scorer=custom).collect()
    assert len(got) == 2 and got[0]["ce_score"] >= got[-1]["ce_score"]


def test_multi_match_wildcard_expansion(spark, tmp_path):
    """multi_match field patterns expand against the mapping/index before
    compile (reference RetrieveQuery.scala:59-66)."""
    from nixiesearch_spark.mapping import IndexMapping

    df = spark.createDataFrame(
        [(1, "red dress", "rotes kleid", "x"), (2, "blue coat", "roter mantel", "red")],
        "doc_id long, title_en string, title_de string, other string",
    )
    d = str(tmp_path / "idx")
    cfg = IndexConfig(
        text_fields=("title_en", "title_de", "other"), id_col="doc_id", n_shards=2
    )
    IndexBuilder(spark, cfg).build(df, d)
    s = Searcher(IndexReader(spark, d))
    wild = s.search(
        MultiMatchQuery(query="red roter", fields=["title_*"], type="most_fields"), size=10
    ).collect()
    explicit = s.search(
        MultiMatchQuery(query="red roter", fields=["title_en", "title_de"], type="most_fields"),
        size=10,
    ).collect()
    assert [(r["docid"], r["score"]) for r in wild] == [
        (r["docid"], r["score"]) for r in explicit
    ]
    # doc 2's "red" in the non-matching field `other` must NOT contribute
    assert {r["docid"] for r in wild} == {1, 2}  # doc2 matches "roter" in title_de
    with pytest.raises(ValueError):
        s.search(MultiMatchQuery(query="x", fields=["nope_*"]), size=5)
    # mapping narrows the wildcard universe to searchable fields
    m = IndexMapping.from_dict(
        {"name": "t", "fields": {
            "title_en": {"type": "text", "search": True},
            "title_de": {"type": "text", "search": False},
            "other": {"type": "text", "search": True},
        }}
    )
    s2 = Searcher(IndexReader(spark, d), mapping=m)
    only_en = s2.search(
        MultiMatchQuery(query="red roter", fields=["title_*"], type="most_fields"), size=10
    ).collect()
    en = s2.search(MatchQuery("title_en", "red roter"), size=10).collect()
    assert [(r["docid"], r["score"]) for r in only_en] == [(r["docid"], r["score"]) for r in en]


def test_geo_filters(spark, tmp_path):
    # geopoint struct column (reference GeopointField: lat/lon doubles)
    from nixiesearch_spark.query.filters import compile_predicate

    df = spark.createDataFrame(
        [
            (1, {"lat": 52.52, "lon": 13.405}),   # Berlin
            (2, {"lat": 48.8566, "lon": 2.3522}), # Paris
            (3, {"lat": 40.7128, "lon": -74.006}),# NYC
        ],
        "id long, loc struct<lat:double,lon:double>",
    )
    near_berlin = df.where(
        compile_predicate(
            {"geo_distance": {"field": "loc", "lat": 52.5, "lon": 13.4, "distance_m": 50000}}
        )
    )
    assert [r["id"] for r in near_berlin.collect()] == [1]
    box_eu = df.where(
        compile_predicate(
            {
                "geo_box": {
                    "field": "loc",
                    "top_left": {"lat": 60.0, "lon": -5.0},
                    "bottom_right": {"lat": 40.0, "lon": 20.0},
                }
            }
        )
    )
    assert sorted(r["id"] for r in box_eu.collect()) == [1, 2]


def test_datetime_range_filter(spark):
    import datetime as dt

    from nixiesearch_spark.query.filters import compile_predicate

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 6, 1)), (3, dt.datetime(2024, 12, 31))],
        "id long, ts timestamp",
    )
    got = df.where(
        compile_predicate(
            {"range": {"ts": {"gte": dt.datetime(2024, 2, 1), "lt": dt.datetime(2024, 12, 1)}}}
        )
    )
    assert [r["id"] for r in got.collect()] == [2]


def test_rrf_fused_equals_generic(s):
    from nixiesearch_spark.query import MatchQuery as MQ
    from nixiesearch_spark.query.rrf import rrf_fuse, rrf_fuse_matches

    matches = [MQ("title", "red dress"), MQ("desc", "red")]
    generic = rrf_fuse([s.score(m) for m in matches], size=10, window=10).collect()
    fused = rrf_fuse_matches(s, matches, size=10, window=10).collect()
    ga = [(r["docid"], round(r["score"], 12)) for r in generic]
    fa = [(r["docid"], round(r["score"], 12)) for r in fused]
    assert ga == fa


def test_cross_field_head_equals_flat(s):
    """bool, dis_max and rrf over branches on two fields: the search-head
    drivers (one packed fetch per field) answer exactly like the flat plan."""
    from nixiesearch_spark.query.wand import LocalFrame

    t, d = MatchQuery("title", "red dress"), MatchQuery("desc", "red pajama jeans")
    queries = [
        BoolQuery(must=[t], should=[d]),
        BoolQuery(should=[t, MatchQuery("desc", "dress", "and")]),
        DisMaxQuery(queries=[t, d], tie_breaker=0.3),
        RRFQuery(retrieve=[t, d], k=60.0),
    ]
    for q in queries:
        head = s.search(q, size=10)
        assert isinstance(head, LocalFrame), q
        flat = s.search(q, size=10, mode="flat")
        a = [(r["docid"], np.float32(r["score"])) for r in head.collect()]
        b = [(r["docid"], np.float32(r["score"])) for r in flat.collect()]
        assert a == b and a, q
