"""Reciprocal-rank fusion of ranked result lists.

Reference ``api/query/rerank/RRFQuery.scala:23-79``: each branch retrieves a
``window`` of ranked hits; fused score = Σ_branches 1/(k + rank) with
k=60 default and rank = position in the branch list (0-based); sort desc,
take size. Sorting is rejected under RRF (reference Searcher.scala:119).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nixiesearch_spark.query.ranks import rank_limited

DEFAULT_RRF_K = 60.0


def rrf_fuse(
    branches: list[DataFrame],
    size: int = 10,
    window: int = 100,
    k: float = DEFAULT_RRF_K,
) -> DataFrame:
    """branches: score frames (docid, score). Returns (docid, score) where
    score is the fused RRF score, ordered desc, docid asc, limit size.

    Each branch is rank-truncated to ``window`` first (per-branch top-k via
    TakeOrderedAndProject — tiny frames), then fused with a cheap union +
    groupBy; no large shuffle at any point.
    """
    return _fuse_ranked(
        [
            b.orderBy(F.desc("score"), F.asc("docid")).limit(window)
            for b in branches
        ],
        size,
        k,
    )


def _fuse_ranked(tops: list[DataFrame], size: int, k: float) -> DataFrame:
    """Rank each branch's top-window frame in place (window-free: see
    ranks.rank_limited — no WindowExec node, no global-window warning),
    union, then hash-aggregate the RRF sum. Single job, fully on-cluster,
    no driver loop."""
    ranked = [
        rank_limited(t, [F.desc("score"), F.asc("docid")], ["docid"], "rank")
        for t in tops
    ]
    union = ranked[0]
    for t in ranked[1:]:
        union = union.unionByName(t)
    fused = union.groupBy("docid").agg(
        F.sum(1.0 / (F.lit(float(k)) + F.col("rank"))).alias("score")
    )
    return fused.orderBy(F.desc("score"), F.asc("docid")).limit(size)


def rrf_fuse_matches(searcher, matches, size: int = 10, window: int = 100,
                     k: float = DEFAULT_RRF_K) -> DataFrame:
    """Branch-fused RRF for match-query branches: ONE postings scan + one
    aggregation produces every branch's scores as columns; each branch's
    top-window then reads off that shared frame and fusion runs on-cluster
    in the same job (no per-branch collect, no driver loop). Results
    identical to rrf_fuse over separate score frames.

    The shared frame stays persisted for the searcher's lifetime (it's the
    searcher's own cache, registered via _track_persisted — release() or
    session end drops it): unpersisting eagerly would force a driver
    round-trip to materialize the k fused rows first, breaking plan
    composability (a downstream facet would re-plan from a literal frame).
    """
    per_doc, live, plans = searcher._fused(
        [("dismax", m) for m in matches], kind="branches"
    )
    if not live:
        return searcher.spark.createDataFrame([], "docid long, score double")
    per_doc = searcher._track_persisted(per_doc)
    tops = [
        per_doc.where(F.col(f"_n{i}") >= (plans[i]["n_required"] or 1))
        .select("docid", F.col(f"_s{i}").cast("double").alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(window)
        for i in live
    ]
    return _fuse_ranked(tops, size, k)
