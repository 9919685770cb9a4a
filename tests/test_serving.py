"""Serving-path behavior: the compiled-plan cache and the search-head
routes (auto WAND match, driver-mode RRF) — every fast path must return
results identical to the pure-Catalyst plan it replaces."""

from __future__ import annotations

import functools

import numpy as np
import pytest

from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig, IndexReader
from nixiesearch_spark.query import MatchQuery, Searcher
from nixiesearch_spark.query.wand import packed_ready, rrf_topk_driver


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory, tiny_corpus_pd):
    d = str(tmp_path_factory.mktemp("idxsrv"))
    df = spark.createDataFrame(tiny_corpus_pd)
    cfg = IndexConfig(text_fields=("content",), n_shards=4, quantize=True, block_size=16)
    IndexBuilder(spark, cfg).build(df, d)
    return IndexReader(spark, d)


def _pairs(rows, r=None):
    if r is None:
        return [(x["docid"], np.float32(x["score"])) for x in rows]
    return [(x["docid"], round(float(x["score"]), r)) for x in rows]


RRF_Q2 = {
    "rrf": {
        "retrieve": [
            {"match": {"content": "def import return"}},
            {"match": {"content": "the for while"}},
        ],
        "rank_window_size": 30,
    }
}


def test_rrf_driver_equals_cluster_fused(built):
    s = Searcher(built, plan_cache=False)
    auto = s.search(RRF_Q2, size=10).collect()  # search-head kernel
    flat = s.search(RRF_Q2, size=10, mode="flat").collect()  # fused Catalyst
    # 2 branches → the float64 RRF sums are order-insensitive → exact equal
    assert _pairs(auto) == _pairs(flat)
    assert len(auto) == 10


def test_rrf_driver_three_branches_and_dead_branch(built):
    q = {
        "rrf": {
            "retrieve": [
                {"match": {"content": "def import"}},
                {"match": {"content": "the a"}},
                {"match": {"content": "zz_nosuchterm_zz"}},  # dead branch
            ],
            "rank_window_size": 25,
            "k": 42.0,
        }
    }
    s = Searcher(built, plan_cache=False)
    auto = s.search(q, size=8).collect()
    flat = s.search(q, size=8, mode="flat").collect()
    # ≥3 branches: float64 sum order may differ in the last ulp — compare
    # at 12 decimals (wider than any realistic rrf gap)
    assert _pairs(auto, 12) == _pairs(flat, 12)


def test_rrf_driver_all_dead(built):
    out = rrf_topk_driver(
        built, [("content", "zz_nope_a", "or"), ("content", "zz_nope_b", "or")]
    )
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["docid", "score"]


def test_rrf_driver_and_operator_branch(built):
    q = {
        "rrf": {
            "retrieve": [
                {"match": {"content": {"query": "def import", "operator": "and"}}},
                {"match": {"content": "return"}},
            ],
            "rank_window_size": 20,
        }
    }
    s = Searcher(built, plan_cache=False)
    assert _pairs(s.search(q, size=10).collect()) == _pairs(
        s.search(q, size=10, mode="flat").collect()
    )


def test_auto_match_routes_equal_flat(built):
    s = Searcher(built, plan_cache=False)
    for kwargs in (
        {},
        {"filters": {"range": {"commit": {"gte": "0"}}}},
        {"fields": ["lang"]},
    ):
        auto = s.search(MatchQuery("content", "def import return"), size=12, **kwargs)
        flat = s.search(
            MatchQuery("content", "def import return"), size=12, mode="flat", **kwargs
        )
        a, f = auto.collect(), flat.collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in f], kwargs


def test_plan_cache_hits_and_isolation(built):
    s = Searcher(built)
    q = MatchQuery("content", "def import")
    # flat plans cache: the same request returns the SAME DataFrame object
    # (whose QueryExecution compiles once)
    d1 = s.search(q, size=10, mode="flat")
    d2 = s.search(q, size=10, mode="flat")
    assert d1 is d2
    # different size → different plan
    assert s.search(q, size=11, mode="flat") is not d1
    # structural equality, not object identity, drives the key
    assert s.search(MatchQuery("content", "def import"), size=10, mode="flat") is d1
    # search-head (materialized) responses are never plan-cached
    a1 = s.search(q, size=10)
    a2 = s.search(q, size=10)
    assert a1 is not a2
    # cache off → no reuse
    s2 = Searcher(built, plan_cache=False)
    assert s2.search(q, size=10, mode="flat") is not s2.search(q, size=10, mode="flat")


def test_plan_cache_invalidates_on_tombstone(built, spark, tmp_path):
    import shutil
    import time

    d = str(tmp_path / "idxcopy")
    shutil.copytree(built.index_dir, d)
    r = IndexReader(spark, d)
    s = Searcher(r)
    q = MatchQuery("content", "def import return")
    before = s.search(q, size=5, mode="flat")
    top = before.collect()
    time.sleep(0.02)  # ensure a distinct tombstone-dir mtime
    dead = int(top[0]["docid"])
    spark.createDataFrame([(dead,)], "docid long").coalesce(1).write.mode(
        "append"
    ).parquet(d + "/tombstones")
    after = s.search(q, size=5, mode="flat")
    assert after is not before  # version token changed → fresh plan
    assert dead not in [x["docid"] for x in after.collect()]


def test_auto_falls_back_when_pack_stale(built, spark, tmp_path, tiny_corpus_pd):
    """Appending without re-packing makes packed stale; auto mode must fall
    back to the (fresh) flat path instead of raising or serving stale WAND."""
    import shutil

    d = str(tmp_path / "idxstale")
    shutil.copytree(built.index_dir, d)
    cfg = IndexConfig(text_fields=("content",), n_shards=4, quantize=True, block_size=16)
    b = IndexBuilder(spark, cfg)
    extra = spark.createDataFrame(
        [("zrepo", "zpath", "zc1", "def import zz_fresh_term")],
        "repo string, path string, commit string, content string",
    )
    b._build_shards(extra, d, list(range(4)))
    b.finalize(d, pack=False)
    r = IndexReader(spark, d)
    assert not packed_ready(r)
    s = Searcher(r)
    hits = s.search(MatchQuery("content", "zz_fresh_term"), size=5).collect()
    assert len(hits) == 1  # the fresh doc is visible → flat path served


def _flat_pairs(s, q, size=10):
    return _pairs(s.search(q, size=size, mode="flat").collect())


def test_bool_driver_equals_flat(built):
    from nixiesearch_spark.query import BoolQuery, MatchQuery

    s = Searcher(built, plan_cache=False)
    cases = [
        BoolQuery(must=[MatchQuery("content", "def import")],
                  should=[MatchQuery("content", "return")]),
        BoolQuery(must=[MatchQuery("content", "def"), MatchQuery("content", "the")]),
        BoolQuery(should=[MatchQuery("content", "def import")],
                  must_not=[MatchQuery("content", "return")]),
        BoolQuery(must=[MatchQuery("content", "def import", "and")],
                  should=[MatchQuery("content", "while for")]),
        BoolQuery(must=[MatchQuery("content", "def")],
                  must_not=[MatchQuery("content", "zz_nosuchterm")]),
        BoolQuery(must=[MatchQuery("content", "zz_nosuchterm")]),  # dead must
    ]
    for q in cases:
        auto = _pairs(s.search(q, size=12).collect())
        flat = _flat_pairs(s, q, 12)
        assert auto == flat, q


def test_dismax_driver_equals_flat(built):
    from nixiesearch_spark.query import DisMaxQuery, MatchQuery

    s = Searcher(built, plan_cache=False)
    for tie in (0.0, 0.3, 1.0):
        q = DisMaxQuery(
            queries=[MatchQuery("content", "def import"),
                     MatchQuery("content", "the return")],
            tie_breaker=tie,
        )
        auto = _pairs(s.search(q, size=12).collect())
        flat = _flat_pairs(s, q, 12)
        assert auto == flat, tie
    # tie > 1 breaks the Σ-bound → driver declines, flat serves (still equal)
    q = DisMaxQuery(
        queries=[MatchQuery("content", "def"), MatchQuery("content", "the")],
        tie_breaker=1.5,
    )
    assert _pairs(s.search(q, size=8).collect()) == _flat_pairs(s, q, 8)


@pytest.mark.parametrize("n_stripes", [1, 2, 4])
def test_bool_dismax_kernel_multi_stripe_equals_flat(built, n_stripes):
    """The one kernel with few stripes per shard (several stripes of every
    shard ranked against one global θ): bool with must_not and dis_max at
    tie 0 / 0.3 / 1.0 stay bit-identical to the flat plan."""
    from nixiesearch_spark.query import BoolQuery, DisMaxQuery
    from nixiesearch_spark.query.wand import bool_topk_driver

    s = Searcher(built, plan_cache=False)

    def bits(rows):
        return [(x["docid"], np.float32(x["score"]).tobytes()) for x in rows]

    bools = [
        BoolQuery(should=[MatchQuery("content", "def import")],
                  must_not=[MatchQuery("content", "return")]),
        BoolQuery(must=[MatchQuery("content", "the")],
                  should=[MatchQuery("content", "while for")],
                  must_not=[MatchQuery("content", "import def", "and")]),
    ]
    for q in bools:
        branches = ([("must", m) for m in q.must] + [("should", m) for m in q.should]
                    + [("must_not", m) for m in q.must_not])
        got = bool_topk_driver(built, branches, k=10, n_stripes=n_stripes).collect()
        assert bits(got) == bits(s.search(q, size=10, mode="flat").collect()), q
    for tie in (0.0, 0.3, 1.0):
        q = DisMaxQuery(queries=[MatchQuery("content", "def import"),
                                 MatchQuery("content", "the return")], tie_breaker=tie)
        got = bool_topk_driver(
            built, [("dismax", m) for m in q.queries], k=10, kind="dismax", tie=tie,
            n_stripes=n_stripes,
        ).collect()
        assert bits(got) == bits(s.search(q, size=10, mode="flat").collect()), tie


def test_match_scores_driver_after_append_with_avgdl_drift(spark, tmp_path):
    """Facet match set after an incremental append of LONGER docs: the
    stored block bounds were packed at a smaller avgdl, so bound_scale > 1;
    the full match set (docids and float32 bits) must equal the flat
    score() set, and the search-head top-k the flat top-k."""
    from nixiesearch_spark.corpus import make_corpus
    from nixiesearch_spark.query import wand
    from nixiesearch_spark.streaming import IncrementalIndexer

    cfg = IndexConfig(text_fields=("content",), id_col="doc_id", n_shards=2, block_size=16)
    idx = str(tmp_path / "drift")
    full = make_corpus(240, seed=9)
    full.insert(0, "doc_id", range(240))
    IndexBuilder(spark, cfg).build(spark.createDataFrame(full.iloc[:200]), idx)
    extra = full.iloc[200:].copy()
    extra["content"] = extra["content"] + " " + extra["content"]
    IncrementalIndexer(spark, cfg, idx, pack_each_batch=True).process_batch(
        spark.createDataFrame(extra), batch_id=1
    )
    r = IndexReader(spark, idx)
    assert packed_ready(r)
    s = Searcher(r, plan_cache=False)
    for text, op in (("def import return", "or"), ("the", "or"), ("def import", "and")):
        assert wand._match_plan(r, "content", text, op)["bound_scale"] > 1.0
        q = MatchQuery("content", text, op)
        ms = wand.match_scores_driver(r, "content", text, op)
        flat = s.score(q).toPandas()
        got = sorted(zip(ms["docid"].tolist(), [np.float32(x).tobytes() for x in ms["score"]]))
        want = sorted(zip(flat["docid"].tolist(), [np.float32(x).tobytes() for x in flat["score"]]))
        assert len(got) > 0 and got == want, text
        assert _pairs(s.search(q, size=10).collect()) == _pairs(
            s.search(q, size=10, mode="flat").collect()
        )


_GAP_ROWS = [
    ("zrepo", f"zpath{i}", f"zc{i}", "py", f"def import return zzgap{i}", 24 + i,
     ("t1", "t2", None)[i % 3], (None if i % 4 == 0 else 100 * i))
    for i in range(12)
]


@pytest.fixture(scope="module")
def routed(spark, tmp_path_factory, tiny_corpus_pd):
    """Readers over one fresh index with an int column, a float column and
    an int column holding nulls; a copy of it with a tombstone; a copy with
    an append that was not packed (stale); and a copy with a packed append
    that brings a string and an int column the first docs file lacks
    (gap)."""
    import glob
    import os
    import shutil

    import pandas as pd
    import pyarrow.parquet as pq

    from nixiesearch_spark.streaming import IncrementalIndexer

    root = tmp_path_factory.mktemp("idxroute")
    pdf = tiny_corpus_pd.copy()
    pdf["nlen"] = pdf["content"].str.len().astype("int64")
    pdf["ratio"] = pdf["nlen"] / 7.0
    pdf["nlen_null"] = pd.array(
        [None if i % 5 == 0 else n for i, n in enumerate(pdf["nlen"])], dtype="Int64"
    )
    cfg = IndexConfig(text_fields=("content",), n_shards=4, quantize=True, block_size=16)
    fresh, tomb, stale, gap = (str(root / n) for n in ("fresh", "tomb", "stale", "gap"))
    IndexBuilder(spark, cfg).build(spark.createDataFrame(pdf), fresh)
    shutil.copytree(fresh, tomb)
    dead = IndexReader(spark, fresh).docs.select("docid").first()["docid"]
    spark.createDataFrame([(dead,)], "docid long").write.parquet(tomb + "/tombstones")
    shutil.copytree(fresh, stale)
    b = IndexBuilder(spark, cfg)
    extra = spark.createDataFrame(
        [("zrepo", "zpath", "zc1", "py", "def import zz_fresh_term", 24)],
        "repo string, path string, commit string, lang string, content string, nlen long",
    )
    b._build_shards(extra, stale, list(range(4)))
    b.finalize(stale, pack=False)
    shutil.copytree(fresh, gap)
    pushed = spark.createDataFrame(
        _GAP_ROWS,
        "repo string, path string, commit string, lang string, content string, "
        "nlen long, tag string, stars long",
    )
    IncrementalIndexer(spark, cfg, gap, pack_each_batch=True).process_batch(pushed, batch_id=1)
    # name the pushed docs files last, so the first file lacks tag and stars
    for f in glob.glob(gap + "/docs/*.parquet"):
        if "tag" in pq.read_schema(f).names:
            os.rename(f, os.path.join(os.path.dirname(f), "zz-" + os.path.basename(f)))
    first = sorted(glob.glob(gap + "/docs/*.parquet"))[0]
    assert "tag" not in pq.read_schema(first).names
    return {"fresh": fresh, "tomb": tomb, "stale": stale, "gap": gap}


def _dismax(tie):
    from nixiesearch_spark.query import DisMaxQuery

    return DisMaxQuery(
        queries=[MatchQuery("content", "def import"), MatchQuery("content", "the return")],
        tie_breaker=tie,
    )


def _bool():
    from nixiesearch_spark.query import BoolQuery

    return BoolQuery(must=[MatchQuery("content", "def import")],
                     should=[MatchQuery("content", "return")])


_M = MatchQuery("content", "def import return")
_FILT = {"range": {"commit": {"gte": "0"}}}
_SORT = [("nlen", "desc")]
_RANGES = [{"lt": 500}, {"gte": 500}]
_MULTI = {"multi_match": {"query": "def import", "fields": ["content"]}}

ROUTE_CASES = [
    ("match", "fresh", lambda s: s.search(_M), "head"),
    ("match_sort", "fresh", lambda s: s.search(_M, sort=_SORT), "head"),
    ("bool", "fresh", lambda s: s.search(_bool()), "head"),
    ("dis_max_tie_0.3", "fresh", lambda s: s.search(_dismax(0.3)), "head"),
    ("rrf_2_branches", "fresh", lambda s: s.search(RRF_Q2), "head"),
    ("facet_term", "fresh", lambda s: s.facet_term(_M, "lang"), "head"),
    ("facet_range", "fresh", lambda s: s.facet_range(_M, "nlen", _RANGES), "head"),
    ("facet_rrf", "fresh", lambda s: s.facet_term(RRF_Q2, "lang"), "head"),
    ("match_filter", "fresh", lambda s: s.search(_M, filters=_FILT), "distributed"),
    ("match_tombstone", "tomb", lambda s: s.search(_M), "distributed"),
    ("match_sort_filter", "fresh", lambda s: s.search(_M, filters=_FILT, sort=_SORT), "flat"),
    ("dis_max_tie_1.5", "fresh", lambda s: s.search(_dismax(1.5)), "flat"),
    ("bool_filter", "fresh", lambda s: s.search(_bool(), filters=_FILT), "flat"),
    ("facet_filter", "fresh", lambda s: s.facet_term(_M, "lang", filters=_FILT), "flat"),
    ("multi_match", "fresh", lambda s: s.search(_MULTI), "flat"),
    ("match_mode_flat", "fresh", lambda s: s.search(_M, mode="flat"), "flat"),
    ("bool_mode_flat", "fresh", lambda s: s.search(_bool(), mode="flat"), "flat"),
    ("rrf_mode_flat", "fresh", lambda s: s.search(RRF_Q2, mode="flat"), "flat"),
    ("facet_mode_flat", "fresh", lambda s: s.facet_term(_M, "lang", mode="flat"), "flat"),
    ("match_stale", "stale", lambda s: s.search(_M), "flat"),
    ("rrf_stale", "stale", lambda s: s.search(RRF_Q2), "flat"),
    ("facet_stale", "stale", lambda s: s.facet_term(_M, "lang"), "flat"),
    ("match_sort_float", "fresh", lambda s: s.search(_M, sort=[("ratio", "desc")]), "flat"),
    ("facet_range_float", "fresh", lambda s: s.facet_range(_M, "ratio", _RANGES), "flat"),
    ("facet_range_int_nulls", "fresh",
     lambda s: s.facet_range(_M, "nlen_null", _RANGES), "head"),
    ("facet_term_gap", "gap", lambda s: s.facet_term(_M, "tag"), "head"),
    ("match_sort_gap", "gap",
     lambda s: s.search(_M, size=15, sort=[("stars", "desc", "last"), ("tag", "asc", "first")]),
     "head"),
]


@pytest.mark.parametrize("name, index, request_fn, route", ROUTE_CASES,
                         ids=[c[0] for c in ROUTE_CASES])
def test_auto_routes_are_pinned(spark, routed, name, index, request_fn, route):
    """Which of the three paths answers each request shape: a LocalFrame is
    the search head, a plan running the kernel through mapInArrow is the
    distributed WAND plan, anything else is the flat Catalyst plan."""
    from nixiesearch_spark.query.wand import LocalFrame

    out = request_fn(Searcher(IndexReader(spark, routed[index]), plan_cache=False))
    if isinstance(out, LocalFrame):
        got = "head"
    else:
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = "distributed" if "MapInArrow" in plan else "flat"
    assert got == route


HEAD_CASES = [c for c in ROUTE_CASES if c[3] == "head"]


def _flat_searcher(s, monkeypatch):
    """``s`` with mode="flat" pinned on every public entry."""
    for m in ("search", "facet_term", "facet_range"):
        monkeypatch.setattr(s, m, functools.partial(getattr(s, m), mode="flat"))
    return s


@pytest.mark.parametrize("name, index, request_fn, route", HEAD_CASES,
                         ids=[c[0] for c in HEAD_CASES])
def test_head_routes_equal_flat(spark, routed, monkeypatch, name, index, request_fn, route):
    """Every head answer equals mode="flat" row for row: (term, count)
    rows, range counts, and (docid, float32 score) order."""
    r = IndexReader(spark, routed[index])
    got = [tuple(x) for x in request_fn(Searcher(r, plan_cache=False)).collect()]
    flat = _flat_searcher(Searcher(r, plan_cache=False), monkeypatch)
    want = [tuple(x) for x in request_fn(flat).collect()]
    assert got == want and len(got) > 0


@pytest.mark.parametrize("name, index, request_fn, route", HEAD_CASES,
                         ids=[c[0] for c in HEAD_CASES])
def test_head_segment_bound_declines(spark, routed, monkeypatch, name, index, request_fn, route):
    """Above HEAD_SEGMENT_MAX_BYTES every head shape declines — a match to
    the distributed plan, the others to the flat plan — with the answer of
    mode="flat", and no part of the segment loads: term stats come from a
    filtered read of just the query's terms."""
    from nixiesearch_spark.index import segment
    from nixiesearch_spark.query.wand import LocalFrame

    monkeypatch.setattr(segment, "HEAD_SEGMENT_MAX_BYTES", 0)
    r = IndexReader(spark, routed[index])
    out = request_fn(Searcher(r, plan_cache=False))
    assert not isinstance(out, LocalFrame)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("MapInArrow" in plan) == (name == "match")
    flat = _flat_searcher(Searcher(r, plan_cache=False), monkeypatch)
    assert [tuple(x) for x in out.collect()] == [tuple(x) for x in request_fn(flat).collect()]
    seg = r.head_segment
    assert seg._packed is None and seg._dictionary is None and seg._ordinals is None
    assert not seg._columns and seg.nbytes == 0
