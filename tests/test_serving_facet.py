"""Search-head facet/sort serving: identity with the cluster plans.

facet_term and sort-by-field auto-route through the driver (full match set
decoded from packed blocks, facet/sort columns cut from the head segment);
these tests pin that the served results equal the Catalyst plans row for
row, including missing-value placement and multi-key ties.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig, IndexReader
from nixiesearch_spark.query import MatchQuery, Searcher


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory, tiny_corpus_pd):
    d = str(tmp_path_factory.mktemp("idxfacet"))
    pdf = tiny_corpus_pd.copy()
    # int sort column + a string column with nulls for missing-value order
    pdf["nlen"] = pdf["content"].str.len().astype("int64")
    pdf["grp"] = [None if i % 7 == 0 else f"g{i % 3}" for i in range(len(pdf))]
    df = spark.createDataFrame(pdf)
    cfg = IndexConfig(text_fields=("content",), n_shards=4, quantize=True, block_size=16)
    IndexBuilder(spark, cfg).build(df, d)
    return IndexReader(spark, d)


def _is_local(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan or "EmptyRelation" in plan


def test_facet_term_driver_equals_cluster(built):
    s = Searcher(built)
    q = MatchQuery("content", "def import")
    auto = s.facet_term(q, "lang", 3)
    assert _is_local(auto), auto._jdf.queryExecution().executedPlan().toString()
    flat = s.term_facet(s.score(q), "lang", 3)
    assert [(r["term"], r["count"]) for r in auto.collect()] == [
        (r["term"], r["count"]) for r in flat.collect()
    ]
    # nullable facet column: driver drops nulls like the isNotNull filter
    auto2 = s.facet_term(q, "grp", 10)
    flat2 = s.term_facet(s.score(q), "grp", 10)
    assert [(r["term"], r["count"]) for r in auto2.collect()] == [
        (r["term"], r["count"]) for r in flat2.collect()
    ]


def test_facet_term_declines_to_cluster_on_filters(built):
    s = Searcher(built)
    q = MatchQuery("content", "def import")
    out = s.facet_term(q, "lang", 3, filters={"term": {"lang": "py"}})
    assert not _is_local(out)  # filtered facets stay on the cluster plan


def _sorted_pairs(s, q, sort, size, mode="auto", fields=None):
    out = s.search(q, size=size, sort=sort, mode=mode, fields=fields)
    cols = out.columns
    return [tuple(r[c] for c in cols) for r in out.collect()], out


def test_sort_driver_equals_flat(built):
    s = Searcher(built, plan_cache=False)
    q = MatchQuery("content", "def import return")
    for sort in (
        [("nlen", "desc", "last")],
        [("nlen", "asc")],
        [("repo", "desc")],
        # multi-key with a nullable string key, both missing placements
        [("grp", "asc", "first"), ("nlen", "desc")],
        [("grp", "desc", "last"), ("_score", "desc")],
        [("_doc", "asc")],
    ):
        got, df = _sorted_pairs(s, q, sort, 9)
        assert _is_local(df), (sort, df._jdf.queryExecution().executedPlan().toString())
        want, _ = _sorted_pairs(s, q, sort, 9, mode="flat")
        assert got == want, (sort, got, want)


def test_sort_driver_fetch_fields_order(built):
    s = Searcher(built, plan_cache=False)
    q = MatchQuery("content", "def import")
    got, _ = _sorted_pairs(s, q, [("nlen", "desc")], 7, fields=["nlen", "lang"])
    want, _ = _sorted_pairs(s, q, [("nlen", "desc")], 7, mode="flat", fields=["nlen", "lang"])
    assert got == want


def test_sort_driver_declines_geo_and_floats(built, spark, tmp_path, tiny_corpus_pd):
    s = Searcher(built, plan_cache=False)
    q = MatchQuery("content", "def import")
    # geo dict item → cluster plan (still correct, just not LocalTableScan)
    # (no geo column in this corpus; just assert the route declines cleanly
    # on a float column instead)
    d = str(tmp_path / "idxf")
    pdf = tiny_corpus_pd.copy()
    pdf["fscore"] = np.linspace(0.0, 1.0, len(pdf))
    cfg = IndexConfig(text_fields=("content",), n_shards=4, quantize=True, block_size=16)
    IndexBuilder(spark, cfg).build(spark.createDataFrame(pdf), d)
    s2 = Searcher(IndexReader(spark, d), plan_cache=False)
    out = s2.search(q, size=5, sort=[("fscore", "desc")])
    assert not _is_local(out)
    flat = s2.search(q, size=5, sort=[("fscore", "desc")], mode="flat")
    assert [(r["docid"], r["score"]) for r in out.collect()] == [
        (r["docid"], r["score"]) for r in flat.collect()
    ]


def test_facet_range_driver_equals_cluster(built):
    s = Searcher(built)
    q = MatchQuery("content", "def import")
    ranges = [{"lt": 400}, {"gte": 400, "lt": 800}, {"gte": 800}]
    auto = s.facet_range(q, "nlen", ranges)
    assert _is_local(auto), auto._jdf.queryExecution().executedPlan().toString()
    flat = s.range_facet(s.score(q), "nlen", ranges)
    assert [tuple(r) for r in auto.collect()] == [tuple(r) for r in flat.collect()]


def test_suggest_driver_equals_cluster(spark, tmp_path, tiny_corpus_pd):
    from nixiesearch_spark.query.suggest import (
        build_suggest,
        load_suggest,
        suggest,
        suggest_driver,
    )

    d = str(tmp_path / "sugg")
    df = spark.createDataFrame(tiny_corpus_pd)
    build_suggest(spark, df, "content", d, "content")
    for q in ("def imp", "return", "xyzzy", "d"):
        drv = suggest_driver(spark, d, "content", q, count=10)
        assert drv is not None
        got = [
            (r["suggestion"], round(r["score"], 6)) for r in drv.collect()
        ]
        want = [
            (r["suggestion"], round(r["score"], 6))
            for r in suggest(load_suggest(spark, d, "content"), q, count=10).collect()
        ]
        assert got == want, (q, got, want)


def test_facet_term_rrf_driver_equals_cluster(built):
    from nixiesearch_spark.query import ast as qast
    from nixiesearch_spark.query.aggs import merged_match_set, term_agg

    s = Searcher(built)
    rrf = qast.parse_query(
        {
            "rrf": {
                "retrieve": [
                    {"match": {"content": "def import"}},
                    {"match": {"content": "return else"}},
                ]
            }
        }
    )
    auto = s.facet_term(rrf, "lang", 4)
    assert _is_local(auto), auto._jdf.queryExecution().executedPlan().toString()
    merged = merged_match_set(
        [
            s.score(qast.MatchQuery("content", "def import")),
            s.score(qast.MatchQuery("content", "return else")),
        ]
    )
    flat = term_agg(merged, built.docs, "lang", 4)
    assert [(r["term"], r["count"]) for r in auto.collect()] == [
        (r["term"], r["count"]) for r in flat.collect()
    ]


def test_facet_range_rrf_driver_equals_cluster(built):
    from nixiesearch_spark.query import ast as qast
    from nixiesearch_spark.query.aggs import merged_match_set, range_agg

    s = Searcher(built)
    rrf = qast.parse_query(
        {
            "rrf": {
                "retrieve": [
                    {"match": {"content": "def import"}},
                    {"match": {"content": "return else"}},
                ]
            }
        }
    )
    ranges = [{"lt": 500}, {"gte": 500}]
    auto = s.facet_range(rrf, "nlen", ranges)
    assert _is_local(auto), auto._jdf.queryExecution().executedPlan().toString()
    merged = merged_match_set(
        [
            s.score(qast.MatchQuery("content", "def import")),
            s.score(qast.MatchQuery("content", "return else")),
        ]
    )
    flat = range_agg(merged, built.docs, "nlen", ranges)
    assert [tuple(r) for r in auto.collect()] == [tuple(r) for r in flat.collect()]


def test_facet_rrf_empty_retrieve_raises(built):
    import pytest as _pytest

    s = Searcher(built)
    with _pytest.raises(ValueError):
        s.facet_term({"rrf": {"retrieve": []}}, "lang", 5)
    with _pytest.raises(ValueError):
        s.facet_range({"rrf": {"retrieve": []}}, "nlen", [{"lt": 1}])


def test_driver_bounds_force_cluster_fallback(spark, built, monkeypatch):
    """The head segment's one bound is real: set between the segment's
    estimate and that estimate plus a facet or sort column, the facet and
    the sort take the flat plan and give its answer while a match still
    serves on the head; set to zero, the facet falls back too."""
    from nixiesearch_spark.index import segment

    r = IndexReader(spark, built.index_dir)
    seg = r.head_segment
    base = seg.estimate_bytes()
    extra = min(seg.estimate_bytes([c]) for c in ("lang", "nlen")) - base
    assert extra > 0
    monkeypatch.setattr(segment, "HEAD_SEGMENT_MAX_BYTES", base + extra - 1)
    s = Searcher(r, plan_cache=False)
    q = MatchQuery("content", "def import")
    out = s.facet_term(q, "lang", 3)
    assert not _is_local(out)
    flat = s.term_facet(s.score(q), "lang", 3)
    assert [(r["term"], r["count"]) for r in out.collect()] == [
        (r["term"], r["count"]) for r in flat.collect()
    ]
    sort = [("nlen", "desc")]
    got, sorted_out = _sorted_pairs(s, q, sort, 5)
    assert not _is_local(sorted_out)
    assert got == _sorted_pairs(s, q, sort, 5, mode="flat")[0]
    assert _is_local(s.search(q, size=5))
    assert not seg._columns and seg.estimate_bytes() == base

    # head segment over its bound (corpus "too big") → match-set decode
    # falls back
    monkeypatch.setattr(segment, "HEAD_SEGMENT_MAX_BYTES", 0)
    s2 = Searcher(built, plan_cache=False)
    out2 = s2.facet_term(q, "lang", 3)
    assert not _is_local(out2)
    assert [(r["term"], r["count"]) for r in out2.collect()] == [
        (r["term"], r["count"]) for r in flat.collect()
    ]


def test_hnsw_driver_bound_declines(spark, tmp_path, monkeypatch):
    from nixiesearch_spark.pipeline import hnsw

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = e.where(F.col("vec_id") == 3).first()["embedding"]
    d = str(tmp_path / "g")
    hnsw.build_hnsw(e, "vec_id", "embedding", d, n_shards=4)
    monkeypatch.setattr(hnsw, "DRIVER_MAX_GRAPH_ROWS", 0)
    assert hnsw.hnsw_topk_driver(spark, qv, k=5, graph_dir=d) is None
    # auto mode transparently serves from the cluster path instead
    got = [r["id"] for r in hnsw.hnsw_topk(spark, qv, k=5, graph_dir=d).collect()]
    assert len(got) == 5


def test_suggest_driver_bound_declines(spark, tmp_path, tiny_corpus_pd, monkeypatch):
    from nixiesearch_spark.query import suggest as smod

    d = str(tmp_path / "sugg")
    build_df = spark.createDataFrame(tiny_corpus_pd)
    smod.build_suggest(spark, build_df, "content", d, "content")
    monkeypatch.setattr(smod, "DRIVER_MAX_SUGG_ROWS", 0)
    assert smod.suggest_driver(spark, d, "content", "def", count=5) is None
