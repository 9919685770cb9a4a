"""Engine vs oracle: rank-identical and float32-score-equal BM25.

The Spark engine must reproduce the numpy Lucene-10.3 oracle exactly
(scores bit-equal as float32, order score desc / docid asc) — the stand-in
for the reference trusting Lucene as ground truth (SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np
import pytest

from nixiesearch_spark.corpus import MARKERS
from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig, IndexReader
from nixiesearch_spark.oracle import build_oracle_index, score_match
from nixiesearch_spark.query import MatchQuery, Searcher

N_DOCS = 300


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory, tiny_corpus_pd):
    d = str(tmp_path_factory.mktemp("idx"))
    pdf = tiny_corpus_pd
    df = spark.createDataFrame(pdf)
    cfg = IndexConfig(text_fields=("content",), n_shards=8, quantize=True)
    builder = IndexBuilder(spark, cfg)
    stats = builder.build(df, d)
    reader = IndexReader(spark, d)
    # oracle over the same corpus keyed by the engine's own docids
    ids = builder.with_docid(df).select("docid", "content").collect()
    docs = [(r["docid"], r["content"]) for r in ids]
    oracle = build_oracle_index(docs)
    return reader, oracle, stats


QUERIES = [
    (MARKERS[0], "or"),  # rare marker term → exact planted docs
    ("def import return", "or"),  # high-DF head terms
    ("def import return", "and"),
    ("ident00001 ident00200 the", "or"),  # mixed DF
    ("ident00001 ident00200 the", "and"),
    ("def def the", "or"),  # duplicate query terms count twice
    ("nosuchterm_xyz", "or"),  # absent term → empty
    ("nosuchterm_xyz def", "and"),  # AND with absent term → empty
    ("nosuchterm_xyz def", "or"),  # OR with absent term → just "def"
]


# "auto" serves a match from the packed index on the search head; "flat"
# forces the Catalyst plan — both must equal the oracle
MODES = ("auto", "flat")


@pytest.mark.parametrize(
    "text,op,mode",
    [pytest.param(t, o, "auto", id=f"{t}-{o}") for t, o in QUERIES]
    + [pytest.param(t, o, "flat", id=f"{t}-{o}-flat") for t, o in QUERIES],
)
def test_match_rank_and_score_identical(built, text, op, mode):
    reader, oracle, _ = built
    searcher = Searcher(reader)
    for k in (1, 10, 100):
        expected = score_match(oracle, text.split(), op, k)
        got = searcher.search(MatchQuery("content", text, op), size=k, mode=mode).collect()
        got_pairs = [(r["docid"], r["score"]) for r in got]
        assert [g[0] for g in got_pairs] == [e[0] for e in expected], (
            f"rank mismatch for {text!r} op={op} k={k}"
        )
        for (gd, gs), (ed, es) in zip(got_pairs, expected):
            assert np.float32(gs) == np.float32(es), (
                f"score mismatch doc {gd}: engine={gs!r} oracle={es!r}"
            )


def test_stats_match_oracle(built):
    reader, oracle, stats = built
    fs = stats["fields"]["content"]
    assert fs["doc_count"] == oracle.doc_count
    assert fs["sum_ttf"] == oracle.sum_ttf
    assert np.float32(fs["avgdl"]) == np.float32(oracle.avgdl)


def test_sha256_row_invariant(built, spark, tiny_corpus_pd):
    """Per-row invariant: docs table sha256 equals sha256(content) computed
    independently (BASELINE.json input_hint)."""
    import hashlib

    reader, _, _ = built
    rows = reader.docs.select("sha256", "content").collect()
    assert len(rows) == N_DOCS
    for r in rows:
        assert r["sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_marker_terms_hit_planted_docs(built):
    reader, oracle, _ = built
    searcher = Searcher(reader)
    got = searcher.search(MatchQuery("content", MARKERS[3], "or"), size=10).collect()
    # marker j planted in docs j and j+n/2 → exactly 2 hits
    assert len(got) == 2


def test_fused_bool_dismax_equal_unfused(built):
    """Branch-fused scoring (one scan+agg) must be bit-identical to the
    generic join-based plan for bool/dis_max of match queries."""
    from nixiesearch_spark.query import ast as A

    reader, _, _ = built
    s = Searcher(reader)
    cases = [
        A.BoolQuery(
            must=[A.MatchQuery("content", "def import")],
            should=[A.MatchQuery("content", "return")],
            must_not=[A.MatchQuery("content", MARKERS[0])],
        ),
        A.BoolQuery(should=[A.MatchQuery("content", "def"), A.MatchQuery("content", "the a")]),
        A.BoolQuery(
            must=[A.MatchQuery("content", "def import", "and")],
            should=[A.MatchQuery("content", "ident00001")],
        ),
        A.DisMaxQuery(
            queries=[A.MatchQuery("content", "def import"), A.MatchQuery("content", "return the")],
            tie_breaker=0.35,
        ),
        # must_not with operator='and' excludes only docs matching ALL its
        # terms — regression for the fused path treating any-term as a match
        A.BoolQuery(
            must=[A.MatchQuery("content", "def")],
            must_not=[A.MatchQuery("content", f"{MARKERS[0]} import", "and")],
        ),
        A.BoolQuery(
            must=[A.MatchQuery("content", "return")],
            must_not=[A.MatchQuery("content", "def import", "and")],
        ),
    ]
    for q in cases:
        fused = s._score(q)  # dispatcher picks the fused plan
        if isinstance(q, A.BoolQuery):
            generic = s._bool(q)
        else:
            generic = s._dis_max([s._score(m) for m in q.queries], q.tie_breaker)
        a = sorted((r["docid"], np.float32(r["score"])) for r in fused.collect())
        b = sorted((r["docid"], np.float32(r["score"])) for r in generic.collect())
        assert a == b, f"fused != generic for {q}"


@pytest.mark.parametrize("mode", MODES)
def test_random_query_fuzz_vs_oracle(built, mode):
    """Property-style sweep: random OR/AND bags of mixed-DF terms must be
    rank- and float32-score-identical to the oracle (beyond the fixed
    query list)."""
    import random

    reader, oracle, _ = built
    searcher = Searcher(reader)
    vocab = ["def", "import", "return", "the", "a", "int", "string",
             "ident00001", "ident00010", "ident00200", "ident00500",
             MARKERS[1], MARKERS[5], "nosuchterm_zz"]
    rng = random.Random(42)
    for trial in range(8):
        n = rng.randint(1, 5)
        terms = rng.choices(vocab, k=n)  # duplicates allowed on purpose
        op = rng.choice(["or", "and"])
        k = rng.choice([3, 10, 25])
        text = " ".join(terms)
        expected = score_match(oracle, terms, op, k)
        got = searcher.search(MatchQuery("content", text, op), size=k, mode=mode).collect()
        assert [r["docid"] for r in got] == [e[0] for e in expected], (text, op, k)
        for r, e in zip(got, expected):
            assert np.float32(r["score"]) == np.float32(e[1]), (text, op, k)
