"""Searcher: compile the query AST to DataFrame plans and execute.

The Spark lifecycle equivalent of the reference's search path
(``index/Searcher.scala:115-274``, SURVEY.md §3.1): query JSON → AST →
DataFrame plan (broadcast query-term stats ⋈ posting scan → per-doc score
aggregation → TakeOrderedAndProject top-k → optional broadcast doc-fetch
join) → Catalyst optimizes → distributed execute.

Physical shape of a match query at scale:
- the postings scan carries ``term IN (...)`` + ``field = ...`` predicates →
  parquet row-group skip via min/max on the sorted ``term`` column (the
  analog of Lucene's term-dictionary seek);
- term weights (float32 idf) and the 256-entry norm cache join via
  ``broadcast()`` — no shuffle;
- per-doc score sum is one hash aggregation (map-side partial) on docid;
- top-k is ``orderBy(desc(score), asc(docid)).limit(k)`` which Catalyst
  executes as TakeOrderedAndProject (per-partition heap + driver merge —
  exactly the "heap-based top-k accumulator" shape, no global sort).

Scoring is bit-exact Lucene 10.3 BM25 when the index is quantized (norm
byte + float32 op chain, see nixiesearch_spark.lucene); with
``quantize=False`` it is the plain double-precision BM25 used for
SQL-oracle cross-checks.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nixiesearch_spark import lucene
from nixiesearch_spark.analysis import analyzer_py
from nixiesearch_spark.index.builder import IndexReader
from nixiesearch_spark.query import ast
from nixiesearch_spark.query.filters import compile_predicate
from nixiesearch_spark.query.wand import LocalFrame, local_schema

K1 = 1.2
B = 0.75
SCORE_SCHEMA = "docid long, score float"


def _lut_positions(docids, mdoc):
    """Positions of match-set docids inside the sorted field-LUT docids —
    None unless EVERY docid is present (a packed/docs drift would otherwise
    silently read a neighboring doc's value; callers decline to the
    cluster plan instead, mirroring ordinal_lookup's membership check)."""
    if len(mdoc) == 0:
        return np.empty(0, dtype=np.int64)
    if len(docids) == 0:
        return None
    pos = np.minimum(np.searchsorted(docids, mdoc), len(docids) - 1)
    if not np.array_equal(docids[pos], mdoc):
        return None
    return pos


class Searcher:
    def __init__(
        self, reader: IndexReader, mapping=None, embedder=None, plan_cache: bool = True
    ):
        """``mapping``: optional IndexMapping enforcing per-field capability
        flags — filter/sort/facet/search violations become user errors at
        query time, matching the reference (RetrieveQuery.scala:117-119,
        Predicate.scala:132-133). ``embedder``: callable
        ``(text, model) -> list[float]`` used by ``semantic`` queries;
        defaults to the deterministic feature-hash embedder
        (nixiesearch_spark.embed) — the ONNX plug point.

        ``plan_cache``: memoize the lazy result DataFrame per structurally
        identical request (query + filters + size + fields + sort + index
        version). A PySpark DataFrame's QueryExecution compiles its
        analyzed/optimized/physical plans ONCE, so a repeated query skips
        Catalyst entirely and pays only execution — the prepared-statement
        analog (BENCH.md r3: ~85% of a warm-index query was plan compile).
        Plans are lazy, so this caches COMPILATION, never results; keys
        include the index seqnum + tombstone mtime, so any index mutation
        invalidates. Search-head (driver-mode) responses are driver-side
        answers (wand.LocalFrame) and are deliberately NOT cached."""
        self.reader = reader
        self.mapping = mapping
        self.embedder = embedder
        self.spark: SparkSession = reader.spark
        self._cache_df = {}  # ("arr", field) -> norm-cache array literal
        self._persisted: list[DataFrame] = []  # searcher-lifetime cached frames
        self._plan_cache_on = plan_cache
        self._plan_cache: dict = {}
        self._ms_cache: dict = {}
        # observability counters (metrics.export_prometheus renders them).
        # "autorouted" counts requests the auto physical router took off
        # the plain Catalyst plan — search-head kernels AND the
        # size-adaptive distributed WAND both land here (the router's
        # driver-vs-distributed choice is internal to wand_topk)
        self.counters = {"searches": 0, "autorouted": 0, "plan_cache_hits": 0}
        self._ann: dict = {}  # field -> attached ANN index (attach_ann)
        # quantized mode scores are float32 (Lucene parity); unquantized mode
        # keeps full double precision (SQL-oracle parity)
        self._stype = "float" if reader.quantize else "double"

    # distinct fused-RRF term sets each persist a shared-scan frame; bound
    # the searcher-lifetime cache so a long-lived server can't grow it
    # unboundedly (oldest unpersists FIFO — downstream plans built on an
    # evicted frame just recompute instead of reading cache)
    MAX_PERSISTED = 16

    def _track_persisted(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` for the searcher's lifetime (shared-scan frames the
        fused RRF path hangs plans off); release() drops them all; beyond
        MAX_PERSISTED the oldest is evicted non-blocking."""
        df = df.persist()
        self._persisted.append(df)
        if len(self._persisted) > self.MAX_PERSISTED:
            self._persisted.pop(0).unpersist(blocking=False)
        return df

    def release(self) -> None:
        """Unpersist searcher-lifetime cached frames (non-blocking)."""
        for df in self._persisted:
            df.unpersist(blocking=False)
        self._persisted.clear()

    # ---------- plan cache ----------

    PLAN_CACHE_MAX = 256

    def _index_version(self) -> tuple | None:
        """Cache-invalidation token: stats seqnum + tombstone-dir mtime (a
        delete between queries must evict every cached plan). On a
        NON-local index dir the mtime probe can't see mutations at all —
        return None and the callers skip plan caching entirely (correctness
        over speed; local file: deployments, including spark-submit ones,
        keep the cache)."""
        import os as _os

        if not _os.path.isdir(self.reader.index_dir):
            return None  # object-store / remote index — mtime can't be probed
        tpath = _os.path.join(self.reader.index_dir, "tombstones")
        try:
            # mtime alone is too coarse on 1s-granularity filesystems (two
            # deletes in one tick would collide) — fold in the file listing
            names = sorted(_os.listdir(tpath))
            tver = (_os.path.getmtime(tpath), tuple(names))
        except OSError:
            tver = None  # local dir, no tombstones yet
        return (self.reader.stats.get("seqnum"), tver)

    def _plan_key(self, *parts) -> tuple | None:
        """None = caching unavailable (non-probeable index dir)."""
        import json as _json

        version = self._index_version()
        if version is None:
            return None

        def canon(x):
            if isinstance(x, dict):
                return _json.dumps(x, sort_keys=True, default=repr)
            return repr(x)

        return tuple(canon(p) for p in parts) + (version,)

    def _cache_plan(self, key: tuple, df: DataFrame) -> DataFrame:
        if key not in self._plan_cache and len(self._plan_cache) >= self.PLAN_CACHE_MAX:
            self._plan_cache.pop(next(iter(self._plan_cache)))
        self._plan_cache[key] = df
        return df

    # ---------- public API ----------

    def search(
        self,
        query: ast.Query | dict | None,
        filters: dict | None = None,
        size: int = 10,
        fields: list[str] | None = None,
        sort: list | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        """Top-``size`` hits. ``sort``: list of (field, asc|desc, first|last)
        replacing score order (reference RetrieveQuery.scala:82-87);
        ``fields``: stored columns to fetch (default [docid, score]).

        ``mode``: physical strategy. "auto" (default) routes score-ordered
        match queries on a fresh quantized packed index through the WAND
        serving path (query/wand.py — search-head driver mode for small
        block volumes, distributed block-max pruning otherwise), all-match
        RRF queries through the search-head fused kernel, and all-match
        bool/dis_max through the multi-branch kernel (bool_topk_driver;
        declines back to Catalyst for tie_breaker > 1 or large block
        volumes). Every fast path is bit-identical to the flat plan
        (tests/test_wand.py, tests/test_serving.py). "flat" forces the
        pure-Catalyst plan everywhere."""
        if isinstance(query, dict) or query is None:
            query = ast.parse_query(query)
        self.counters["searches"] += 1
        key = None
        if self._plan_cache_on:
            key = self._plan_key("search", query, filters, size, fields, sort, mode)
            hit = self._plan_cache.get(key)
            if hit is not None:
                self.counters["plan_cache_hits"] += 1
                return hit
        df, cacheable = self._search_impl(query, filters, size, fields, sort, mode)
        if not cacheable:  # non-cacheable == an auto-routed serving response
            self.counters["autorouted"] += 1
        if key is not None and cacheable:
            self._cache_plan(key, df)
        return df

    def _search_impl(
        self,
        query: ast.Query,
        filters: dict | None,
        size: int,
        fields: list[str] | None,
        sort: list | None,
        mode: str,
    ) -> tuple[DataFrame, bool]:
        if isinstance(query, ast.RRFQuery):
            # rerank query: fuse per-branch top-windows; sorting is rejected
            # (reference Searcher.scala:119)
            if sort:
                raise ValueError("sorting is not supported for rrf queries")
            fused, cacheable = self._rrf(query, filters, size, mode)
            if fields:
                return self.fetch(fused, fields), cacheable
            return fused, cacheable
        if self.mapping is not None and sort:
            for item in sort:
                if item[0] not in ("_score", "_doc"):
                    self.mapping.require(item[0], "sort")
        if (
            mode == "auto"
            and sort is not None
            and filters is None
            and self.reader.tombstones is None
            and isinstance(query, ast.MatchQuery)
            and self._wand_routable(query)
        ):
            topk = self._sort_search_driver(query, sort, size)
            if topk is not None:  # driver declined → fall through to flat
                if fields:
                    return self.fetch(topk, fields), False
                return topk.drop("_rank"), False
        if mode == "auto" and sort is None and self._wand_routable(query):
            topk = self._wand_search(query, filters, size)
            if fields:
                return self.fetch(topk, fields), False
            return topk, False  # may be a driver-side LocalFrame
        if (
            mode == "auto"
            and sort is None
            and filters is None
            and self.reader.tombstones is None
            and self._bool_routable(query)
        ):
            topk = self._bool_search(query, size)
            if topk is not None:  # driver declined → fall through to flat
                if fields:
                    return self.fetch(topk, fields), False
                return topk, False
        scored = self.score(query, filters)
        if sort:
            topk = self._sorted_topk(scored, sort, size)
            if fields:
                return self.fetch(topk, fields), True
            return topk.drop("_rank"), True
        topk = scored.orderBy(F.desc("score"), F.asc("docid")).limit(size)
        if fields:
            return self.fetch(topk, fields), True
        return topk, True

    def _wand_routable(self, query: ast.Query) -> bool:
        from nixiesearch_spark.query.wand import packed_ready

        return isinstance(query, ast.MatchQuery) and packed_ready(self.reader)

    def _bool_routable(self, query: ast.Query) -> bool:
        """Fused bool/dis_max of match branches on a fresh packed index —
        the same shapes engine._fused handles, served by the search-head
        kernel (wand.bool_topk_driver, bit-identical)."""
        from nixiesearch_spark.query.wand import packed_ready

        if not packed_ready(self.reader):
            return False
        if isinstance(query, ast.BoolQuery):
            subs = [*query.must, *query.should, *query.must_not]
            return bool(query.must or query.should) and all(
                isinstance(s, ast.MatchQuery) for s in subs
            )
        if isinstance(query, ast.DisMaxQuery):
            return all(isinstance(s, ast.MatchQuery) for s in query.queries)
        return False

    def _bool_search(self, q: ast.Query, size: int) -> LocalFrame | None:
        from nixiesearch_spark.query.wand import bool_topk_driver

        if self.mapping is not None:
            self._validate_query(q)
        if isinstance(q, ast.BoolQuery):
            branches = (
                [("must", m) for m in q.must]
                + [("should", m) for m in q.should]
                + [("must_not", m) for m in q.must_not]
            )
            return bool_topk_driver(self.reader, branches, k=size, kind="bool")
        branches = [("dismax", m) for m in q.queries]
        return bool_topk_driver(
            self.reader, branches, k=size, kind="dismax", tie=q.tie_breaker
        )

    def _wand_search(self, q: ast.MatchQuery, filters: dict | None, size: int) -> DataFrame:
        """Score-ordered match top-k via the packed/WAND serving path —
        bit-identical to the flat plan (same float32 chain, same tie rules;
        filters and tombstones ride inside the pruned search)."""
        from nixiesearch_spark.query.wand import wand_topk

        if self.mapping is not None:
            self.mapping.require(q.field, "search")
            if filters is not None:
                from nixiesearch_spark.query.filters import collect_filter_fields

                for f in collect_filter_fields(filters):
                    self.mapping.require(f, "filter")
        return wand_topk(
            self.reader, q.field, q.query, k=size, operator=q.operator, filters=filters
        )

    def fetch(self, topk: DataFrame, fields: list[str]) -> DataFrame:
        """Doc-fetch join: tiny top-k frame broadcast against the docs table
        (reference Searcher.collect, ``index/Searcher.scala:253-274``).
        Preserves the top-k frame's order via its ``_rank`` column if present
        (sort queries), else re-orders by (score desc, docid asc). A
        search-head LocalFrame joins as its Spark frame."""
        if isinstance(topk, LocalFrame):
            topk = topk.to_spark()
        docs = self.reader.docs.select("docid", *fields)
        out = docs.join(F.broadcast(topk), "docid")
        if "_rank" in topk.columns:
            return out.orderBy(F.asc("_rank")).drop("_rank")
        order = [F.desc("score"), F.asc("docid")] if "score" in topk.columns else [F.asc("docid")]
        return out.orderBy(*order)

    def score(self, query: ast.Query, filters: dict | None = None) -> DataFrame:
        """Full match-set scores (docid, float score) — facets and sorts run
        over this, mirroring the reference's FacetsCollector running beside
        the top-k collector (RetrieveQuery.scala:88-90). Plans memoize per
        (query, filters, index version) like search() — score frames are
        always lazy, so this is pure compile caching."""
        key = None
        if self._plan_cache_on:
            key = self._plan_key("score", query, filters)
            hit = self._plan_cache.get(key)
            if hit is not None:
                return hit
        df = self._score_impl(query, filters)
        if key is not None:
            self._cache_plan(key, df)
        return df

    def _score_impl(self, query: ast.Query, filters: dict | None = None) -> DataFrame:
        if isinstance(query, ast.RRFQuery):
            raise ValueError("rrf is a top-level rerank query — use search()")
        if isinstance(query, ast.SemanticQuery):
            # embed the query text (pluggable; deterministic hash embedder by
            # default — reference SemanticQuery.scala:16-38 embeds with the
            # field's configured model), then it IS a knn query
            query = self._embed_semantic(query)
        if isinstance(query, ast.KnnQuery):
            # filters + tombstones apply INSIDE knn (pre-filter semantics:
            # Lucene KnnFloatVectorQuery takes the filter as an argument, so
            # the k survivors all satisfy it — a post-filter would return
            # fewer than k)
            return self._score_knn(query, filters)
        query = self._expand_wildcards(query)
        if self.mapping is not None:
            self._validate_query(query)
        scored = self._score(query)
        tombs = self.reader.tombstones
        if tombs is not None:
            scored = scored.join(tombs, "docid", "left_anti")
        if filters is not None:
            if self.mapping is not None:
                from nixiesearch_spark.query.filters import collect_filter_fields

                for f in collect_filter_fields(filters):
                    self.mapping.require(f, "filter")
            pred = compile_predicate(filters)
            keep = self.reader.docs.where(pred).select("docid")
            scored = scored.join(keep, "docid", "left_semi")
        return scored

    def _rrf(
        self, q: ast.RRFQuery, filters: dict | None, size: int, mode: str = "auto"
    ) -> tuple[DataFrame, bool]:
        """RRF fusion over retrieve branches (reference RRFQuery.topDocs):
        each branch retrieves its top ``rank_window_size`` (default = size)
        WITH the request filters, then ranks fuse as Σ 1/(k + rank). One
        branch passes through with raw scores (combine's head::Nil case).
        All-match branches with no filters take the search-head driver
        kernel on a fresh quantized packed index (rrf_topk_driver — zero
        Catalyst compiles), else the single-scan fused path
        (rrf_fuse_matches: one postings scan feeds every branch). Returns
        (frame, plan-cacheable) — driver results are LocalFrames and not
        plan-cached."""
        from nixiesearch_spark.query.rrf import rrf_fuse, rrf_fuse_matches

        if not q.retrieve:
            raise ValueError("rrf requires at least one retrieve query")
        window = q.rank_window_size if q.rank_window_size is not None else size
        if len(q.retrieve) == 1:
            return (
                self.score(q.retrieve[0], filters)
                .orderBy(F.desc("score"), F.asc("docid"))
                .limit(size)
            ), True
        if (
            filters is None
            and self.reader.tombstones is None
            and all(isinstance(s, ast.MatchQuery) for s in q.retrieve)
        ):
            if self.mapping is not None:
                # the fast paths must enforce the same field contract as the
                # per-branch score() route they replace
                for m in q.retrieve:
                    self._validate_query(m)
            from nixiesearch_spark.query.wand import packed_ready, rrf_topk_driver

            if mode == "auto" and packed_ready(self.reader):
                return (
                    rrf_topk_driver(
                        self.reader, q.retrieve, size=size, window=window, rrf_k=q.k
                    ),
                    False,
                )
            return (
                rrf_fuse_matches(self, q.retrieve, size=size, window=window, k=q.k),
                True,
            )
        branches = [self.score(s, filters) for s in q.retrieve]
        return rrf_fuse(branches, size=size, window=window, k=q.k), True

    def _embed_semantic(self, q: ast.SemanticQuery) -> ast.KnnQuery:
        if self.embedder is not None:
            vec = self.embedder(q.query, q.model)
        else:
            from nixiesearch_spark.embed import hash_embed_py

            vec = hash_embed_py(q.query)
        return ast.KnnQuery(
            field=q.field, query_vector=[float(x) for x in vec],
            k=q.k, num_candidates=q.num_candidates,
        )

    def attach_ann(self, field: str, path: str, centroids, n_probe: int = 4) -> None:
        """Register a serving ANN index for a stored vector ``field`` — an
        :func:`nixiesearch_spark.pipeline.similarity.ivf_build` table
        (hive-partitioned by ``bucket``). DSL knn/semantic queries on the
        field then scan ONLY the probed bucket partitions (directory-level
        pruning, ``PartitionFilters`` in the scan) and exact-rerank the
        candidates, instead of brute-force scanning the corpus — the 100×
        scale path. The reference serves knn from Lucene's per-segment HNSW
        graphs (KnnQuery.scala:20-88); IVF partition pruning is the
        Spark-native equivalent trade (probe more buckets ⇔ raise
        num_candidates ⇔ Lucene efSearch).

        ``n_probe`` is the floor; a query's ``num_candidates`` raises the
        probe count so the expected candidate pool covers it
        (num_candidates / avg_bucket_size, capped at nlist)."""
        import numpy as np

        self._ann[field] = {
            "path": path,
            "centroids": np.asarray(centroids, dtype=np.float64),
            "n_probe": int(n_probe),
            # the ANN table's own row count drives num_candidates→probes
            # (the text corpus size is the wrong denominator when vector
            # coverage is partial); one count job at attach time
            "n_vecs": int(self.spark.read.parquet(path).count()),
        }
        self._plan_cache.clear()  # knn plans for this field change shape

    def _score_knn_ann(self, q: ast.KnnQuery, filters: dict | None, ann: dict) -> DataFrame:
        """IVF-indexed knn scoring: probe partitions → pre-filter semantics
        (tombstones + request filters applied to the candidate set, so all k
        survivors satisfy them — KnnQuery.scala:20-88 takes the filter as an
        argument) → exact cosine rerank with the SAME float chain as the
        brute-force path. Approximation is exactly "candidates limited to
        probed buckets"; the oracle restricts its scan the same way."""
        from nixiesearch_spark.pipeline.similarity import cosine_sim, ivf_probes

        if not q.query_vector:
            raise ValueError("knn query_vector must be non-empty")
        cents = ann["centroids"]
        nlist = len(cents)
        n_probe = ann["n_probe"]
        if ann.get("n_vecs"):
            import math

            # expected candidates per probe ≈ n_vecs/nlist; probe enough
            # buckets that the pool covers the query's candidate budget
            n_probe = max(
                n_probe, math.ceil(q.final_k * nlist / ann["n_vecs"])
            )
        n_probe = min(n_probe, nlist)
        probes = ivf_probes(q.query_vector, cents, n_probe)
        cand = self.spark.read.parquet(ann["path"]).where(
            F.col("bucket").isin([int(p) for p in probes])
        )
        tombs = self.reader.tombstones
        if tombs is not None:
            cand = cand.join(tombs, "docid", "left_anti")
        if filters is not None:
            if self.mapping is not None:
                from nixiesearch_spark.query.filters import collect_filter_fields

                for f in collect_filter_fields(filters):
                    self.mapping.require(f, "filter")
            keep = self.reader.docs.where(compile_predicate(filters)).select("docid")
            cand = cand.join(keep, "docid", "left_semi")
        vec = F.col(q.field)
        qv = F.array(*[F.lit(float(x)) for x in q.query_vector])
        sim = F.nanvl(cosine_sim(vec, qv), F.lit(-1.0))
        score = (F.lit(1.0) + sim) / F.lit(2.0)
        return (
            cand.where(vec.isNotNull())
            .select("docid", score.cast(self._stype).alias("score"))
            .where(F.col("score").isNotNull())
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(q.final_k)
        )

    def _score_knn(self, q: ast.KnnQuery, filters: dict | None) -> DataFrame:
        """Vector top-final_k as a score frame (reference KnnQuery.compile):
        brute-force exact cosine over the stored embedding column — one scan,
        JVM-side fold, TakeOrderedAndProject (see pipeline.similarity for the
        LSH/IVF scale paths; exact scan is the correctness baseline and the
        right plan for single queries). Score = (1 + cosine) / 2, Lucene
        VectorSimilarityFunction.COSINE. A nested array<array<float>> field
        scores max-over-children per parent doc — the
        DiversifyingChildrenFloatKnnVectorQuery analog (KnnQuery.scala:42-58);
        pure Catalyst (array_max ∘ transform), no explode, no shuffle."""
        from nixiesearch_spark.pipeline.similarity import cosine_sim

        if q.field in self._ann:
            return self._score_knn_ann(q, filters, self._ann[q.field])
        docs = self.reader.docs
        if q.field not in docs.columns:
            raise ValueError(
                f"field '{q.field}' is not stored in this index — knn needs a "
                "stored array<float> (or nested array<array<float>>) column"
            )
        if not q.query_vector:
            raise ValueError("knn query_vector must be non-empty")
        tombs = self.reader.tombstones
        if tombs is not None:
            docs = docs.join(tombs, "docid", "left_anti")
        if filters is not None:
            if self.mapping is not None:
                from nixiesearch_spark.query.filters import collect_filter_fields

                for f in collect_filter_fields(filters):
                    self.mapping.require(f, "filter")
            docs = docs.where(compile_predicate(filters))
        vec = F.col(q.field)
        qv = F.array(*[F.lit(float(x)) for x in q.query_vector])
        dtype = dict(docs.dtypes).get(q.field, "")
        if dtype.startswith("array<array"):
            sim = F.array_max(F.transform(vec, lambda x: cosine_sim(x, qv)))
        else:
            sim = cosine_sim(vec, qv)
        # a zero stored vector makes cosine 0/0 = NaN, which Spark sorts
        # ABOVE every real score — pin it to -1 (score 0) instead; Lucene
        # rejects zero vectors at index time, we degrade them to last place.
        # Nested docs with no children produce NULL sims — drop those rows.
        sim = F.nanvl(sim, F.lit(-1.0))
        score = (F.lit(1.0) + sim) / F.lit(2.0)
        return (
            docs.where(vec.isNotNull())
            .select("docid", score.cast(self._stype).alias("score"))
            .where(F.col("score").isNotNull())
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(q.final_k)
        )

    def _expand_wildcards(self, q: ast.Query) -> ast.Query:
        """Expand multi_match field patterns like ``title_*`` before
        compiling (reference RetrieveQuery.scala:59-66). Candidates come
        from the mapping's searchable text fields when a mapping is set,
        else from the index's actually-built fields."""
        from nixiesearch_spark.mapping import _wildcard_matches

        if isinstance(q, ast.MultiMatchQuery):
            out: list[str] = []
            for p in q.fields:
                if p.endswith("_*") or p.startswith("*_"):
                    # universe = fields actually built into the index,
                    # narrowed to mapping-searchable ones when a mapping is
                    # set (works for wildcard-declared mappings too: lookup
                    # resolves concrete names against wildcard schemas)
                    cands = list(self.reader.stats["fields"])
                    if self.mapping is not None:
                        cands = [
                            f for f in cands
                            if (s := self.mapping.lookup(f)) is not None and s.search
                        ]
                    hits = [f for f in sorted(cands) if _wildcard_matches(p, f)]
                    if not hits:
                        raise ValueError(f"multi_match field pattern {p!r} matched no fields")
                    out.extend(h for h in hits if h not in out)
                elif p not in out:
                    out.append(p)
            return ast.MultiMatchQuery(
                query=q.query, fields=out, type=q.type,
                tie_breaker=q.tie_breaker, operator=q.operator,
            )
        if isinstance(q, ast.BoolQuery):
            return ast.BoolQuery(
                must=[self._expand_wildcards(s) for s in q.must],
                should=[self._expand_wildcards(s) for s in q.should],
                must_not=[self._expand_wildcards(s) for s in q.must_not],
            )
        if isinstance(q, ast.DisMaxQuery):
            return ast.DisMaxQuery(
                queries=[self._expand_wildcards(s) for s in q.queries],
                tie_breaker=q.tie_breaker,
            )
        return q

    def _validate_query(self, q: ast.Query) -> None:
        if isinstance(q, ast.MatchQuery):
            self.mapping.require(q.field, "search")
        elif isinstance(q, ast.MultiMatchQuery):
            for f in q.fields:
                self.mapping.require(f, "search")
        elif isinstance(q, ast.BoolQuery):
            for sub in [*q.must, *q.should, *q.must_not]:
                self._validate_query(sub)
        elif isinstance(q, ast.DisMaxQuery):
            for sub in q.queries:
                self._validate_query(sub)

    def term_facet(self, match_set: DataFrame, field: str, size=10) -> DataFrame:
        from nixiesearch_spark.query.aggs import term_agg

        if self.mapping is not None:
            self.mapping.require(field, "facet")
        return term_agg(match_set, self.reader.docs, field, size)

    def range_facet(self, match_set: DataFrame, field: str, ranges: list) -> DataFrame:
        from nixiesearch_spark.query.aggs import range_agg

        if self.mapping is not None:
            self.mapping.require(field, "facet")
        return range_agg(match_set, self.reader.docs, field, ranges)

    def facet_term(
        self,
        query: ast.Query | dict,
        field: str,
        size: int | str = 10,
        filters: dict | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        """Query-level term facet: counts over the FULL match set (reference
        FacetsCollector semantics, core/aggregate/TermAggregator.scala).
        mode="auto" serves unfiltered match queries on a fresh packed index
        from the search head: the full match set decodes driver-side
        (wand.match_scores_driver — facet membership needs no top-k) and the
        facet column rides a pyarrow docid LUT (IndexReader.field_lut), so
        the whole facet costs zero Spark jobs. Identical (term, count) rows
        to the cluster plan (tests/test_serving_facet.py); declines (large
        corpus, remote dir, filters, tombstones) fall back to term_agg over
        score()."""
        if isinstance(query, dict) or query is None:
            query = ast.parse_query(query)
        if self.mapping is not None:
            self.mapping.require(field, "facet")
        if (
            mode == "auto"
            and filters is None
            and isinstance(query, ast.MatchQuery)
            and self.reader.tombstones is None
            and self._wand_routable(query)
        ):
            out = self._facet_term_driver(query, field, size)
            if out is not None:
                return out
        # RRF facet = union of per-branch match sets then one aggregate
        # (reference MergedFacetCollector, core/search/
        # MergedFacetCollector.scala:17-33); all-match-branch RRF rides the
        # same driver route with the branch match-set memo
        if isinstance(query, ast.RRFQuery):
            if not query.retrieve:  # same error the retrieve path raises
                raise ValueError("rrf requires at least one retrieve query")
            if self._facet_rrf_routable(query, filters, mode):
                out = self._facet_term_rrf_driver(query, field, size)
                if out is not None:
                    return out
            from nixiesearch_spark.query.aggs import merged_match_set, term_agg

            merged = merged_match_set(
                [self.score(b, filters) for b in query.retrieve]
            )
            return term_agg(merged, self.reader.docs, field, size)
        from nixiesearch_spark.query.aggs import term_agg

        return term_agg(self.score(query, filters), self.reader.docs, field, size)

    def _facet_term_rrf_driver(self, q: ast.RRFQuery, field: str, size) -> LocalFrame | None:
        if self.reader.field_lut(field) is None:  # cheap gate first
            return None
        union = self._union_match_sets_driver(q.retrieve)
        if union is None:
            return None
        return self._facet_values_local(union, field, size)

    MATCH_SET_CACHE_MAX = 8

    def _match_set_driver(self, q: ast.MatchQuery):
        """Version-keyed memo around wand.match_scores_driver: a request
        serving hits + facets (+ a sorted page) for the same query decodes
        the full match set ONCE instead of per consumer. Small FIFO cap —
        the frames are match-set-sized, not top-k-sized."""
        from nixiesearch_spark.query.wand import match_scores_driver

        key = self._plan_key("matchset", q.field, q.query, q.operator)
        if key is not None:
            hit = self._ms_cache.get(key)
            if hit is not None:
                return hit
        ms = match_scores_driver(self.reader, q.field, q.query, q.operator)
        if ms is not None and key is not None:
            if key not in self._ms_cache and len(self._ms_cache) >= self.MATCH_SET_CACHE_MAX:
                self._ms_cache.pop(next(iter(self._ms_cache)))
            self._ms_cache[key] = ms
        return ms

    def _facet_term_driver(self, q: ast.MatchQuery, field: str, size) -> LocalFrame | None:
        # cheap gate FIRST: no LUT means the cluster plan runs anyway, so
        # don't pay the full match-set decode just to find that out
        if self.reader.field_lut(field) is None:
            return None
        ms = self._match_set_driver(q)
        if ms is None:
            return None
        return self._facet_values_local(ms, field, size)

    def _facet_values_local(self, ms, field: str, size) -> LocalFrame | None:
        """Term-facet counting over a driver-side match frame (docid col):
        facet values via the field LUT, count-desc/term-asc ties like the
        cluster agg, returned as a LocalFrame typed from the docs schema
        (None when the LUT cannot serve)."""
        from pyspark.sql.types import LongType, StructField, StructType

        from nixiesearch_spark.query.aggs import MAX_TERM_FACETS

        lut = self.reader.field_lut(field)
        if lut is None:
            return None
        n = MAX_TERM_FACETS if size == "all" else int(size)
        docids, vals = lut
        ftype = next(
            f.dataType for f in self.reader.docs.schema.fields if f.name == field
        )
        schema = StructType(
            [StructField("term", ftype), StructField("count", LongType(), False)]
        )
        mdoc = ms["docid"].to_numpy(np.int64)
        pos = _lut_positions(docids, mdoc)
        if pos is None:
            return None
        if not len(mdoc):
            return LocalFrame.empty(self.spark, schema)
        vc = vals.iloc[pos].value_counts(dropna=True)  # matches the isNotNull filter
        pdf = vc.rename_axis("term").reset_index(name="count")
        # same tie order as the cluster plan: count desc, term asc
        pdf = pdf.sort_values(["count", "term"], ascending=[False, True], kind="stable").head(n)
        return LocalFrame(self.spark, pdf, schema)

    def facet_range(
        self,
        query: ast.Query | dict,
        field: str,
        ranges: list,
        filters: dict | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        """Query-level range facet with the same driver route as
        facet_term (bucket counts need only match-set membership +
        the numeric LUT column). Integer columns only on the fast path —
        other dtypes fall back to the cluster plan."""
        if isinstance(query, dict) or query is None:
            query = ast.parse_query(query)
        if self.mapping is not None:
            self.mapping.require(field, "facet")
        if (
            mode == "auto"
            and filters is None
            and isinstance(query, ast.MatchQuery)
            and self.reader.tombstones is None
            and self._wand_routable(query)
        ):
            out = self._facet_range_driver(query, field, ranges)
            if out is not None:
                return out
        # RRF range facet: union of branch match sets, one bucket count
        # (MergedFacetCollector semantics, same as facet_term)
        if isinstance(query, ast.RRFQuery):
            if not query.retrieve:
                raise ValueError("rrf requires at least one retrieve query")
            # cheap gates FIRST (same discipline as every facet driver
            # route): LUT+dtype before any branch decode
            if self._facet_rrf_routable(query, filters, mode) and self._range_lut_ok(field):
                union = self._union_match_sets_driver(query.retrieve)
                if union is not None:
                    out = self._range_values_local(union, field, ranges)
                    if out is not None:
                        return out
            from nixiesearch_spark.query.aggs import merged_match_set, range_agg

            merged = merged_match_set(
                [self.score(b, filters) for b in query.retrieve]
            )
            return range_agg(merged, self.reader.docs, field, ranges)
        from nixiesearch_spark.query.aggs import range_agg

        return range_agg(self.score(query, filters), self.reader.docs, field, ranges)

    def _facet_rrf_routable(self, q: ast.RRFQuery, filters, mode: str) -> bool:
        """ONE spelling of the RRF facet driver-route guard (term and range
        share it, so the conditions cannot diverge again)."""
        return (
            mode == "auto"
            and filters is None
            and self.reader.tombstones is None
            and all(isinstance(b, ast.MatchQuery) for b in q.retrieve)
            and all(self._wand_routable(b) for b in q.retrieve)
        )

    def _range_lut_ok(self, field: str) -> bool:
        lut = self.reader.field_lut(field)
        return lut is not None and lut[1].dtype.kind in "iu"

    def _union_match_sets_driver(self, branches: list):
        """Driver-side union of branch match sets (docid frame) or None."""
        import pandas as pd

        parts = []
        for b in branches:
            ms = self._match_set_driver(b)
            if ms is None:
                return None
            parts.append(ms[["docid"]])
        return pd.concat(parts, ignore_index=True).drop_duplicates("docid")

    def _facet_range_driver(self, q: ast.MatchQuery, field: str, ranges: list) -> LocalFrame | None:
        if not self._range_lut_ok(field):  # cheap gate (incl. dtype) first
            return None
        ms = self._match_set_driver(q)
        if ms is None:
            return None
        return self._range_values_local(ms, field, ranges)

    def _range_values_local(self, ms, field: str, ranges: list) -> LocalFrame | None:
        """Range-bucket counts over a driver-side match frame as a
        LocalFrame; an open bound is NaN in the frame and collects as None
        (None when the LUT cannot serve)."""
        import pandas as pd

        lut = self.reader.field_lut(field)
        if lut is None or lut[1].dtype.kind not in "iu":
            return None
        docids, vals = lut
        mdoc = ms["docid"].to_numpy(np.int64)
        pos = _lut_positions(docids, mdoc)
        if pos is None:
            return None
        v = vals.to_numpy()[pos] if len(mdoc) else vals.to_numpy()[:0]
        rows = []
        for r in ranges:
            mask = np.ones(len(v), dtype=bool)
            if "gt" in r:
                mask &= v > r["gt"]
            if "gte" in r:
                mask &= v >= r["gte"]
            if "lt" in r:
                mask &= v < r["lt"]
            if "lte" in r:
                mask &= v <= r["lte"]
            lo = r.get("gt", r.get("gte"))
            hi = r.get("lt", r.get("lte"))
            rows.append(
                (
                    float(lo) if lo is not None else None,
                    float(hi) if hi is not None else None,
                    int(mask.sum()),
                )
            )
        pdf = pd.DataFrame(rows, columns=["range_from", "range_to", "count"])
        return LocalFrame(
            self.spark, pdf, local_schema("range_from double, range_to double, count long")
        )

    def _sort_search_driver(self, q: ast.MatchQuery, sort: list, size: int) -> LocalFrame | None:
        """Search-head sort-by-field: full match set decoded driver-side,
        sort columns via the pyarrow docid LUT, the multi-key order applied
        as reversed stable pandas sorts (docid-asc tiebreak first) — the
        exact TakeOrderedAndProject semantics including per-key
        missing-first/last — returned as a (docid, score, _rank) LocalFrame.
        Declines (None) on geo items, float sort
        columns (their pandas form conflates null and NaN, which Spark
        orders differently), or columns whose LUT/match-set can't serve
        driver-side."""
        import pandas as pd

        items = []
        for item in sort:
            fld, direction = item[0], item[1]
            if isinstance(fld, dict):
                return None
            missing = item[2] if len(item) > 2 else ("last" if direction == "asc" else "first")
            items.append((fld, direction, missing))
        luts = {}
        for fld, _, _ in items:
            if fld in ("_score", "_doc"):
                continue
            lut = self.reader.field_lut(fld)
            if lut is None:
                return None
            if lut[1].dtype.kind == "f":
                return None
            luts[fld] = lut
        ms = self._match_set_driver(q)
        if ms is None:
            return None
        df = ms.copy()
        mdoc = df["docid"].to_numpy(np.int64)
        for fld, (docids, vals) in luts.items():
            pos = _lut_positions(docids, mdoc)
            if pos is None:
                return None
            df[fld] = vals.iloc[pos].reset_index(drop=True)
        df = df.sort_values("docid", ascending=True, kind="stable")
        for fld, direction, missing in reversed(items):
            col = "score" if fld == "_score" else ("docid" if fld == "_doc" else fld)
            df = df.sort_values(
                col,
                ascending=(direction == "asc"),
                na_position=("first" if missing == "first" else "last"),
                kind="stable",
            )
        top = df.head(size).reset_index(drop=True)
        out = pd.DataFrame(
            {
                "docid": top["docid"].to_numpy(np.int64),
                "score": top["score"].to_numpy(np.float32),
                "_rank": np.arange(1, len(top) + 1, dtype=np.int64),
            }
        )
        return LocalFrame(self.spark, out, local_schema("docid long, score float, _rank long"))

    # ---------- score compilation ----------

    def _score(self, q: ast.Query) -> DataFrame:
        if isinstance(q, ast.MatchQuery):
            return self._score_match(q.field, q.query, q.operator)
        if isinstance(q, ast.MatchAllQuery):
            return self.reader.docs.select(
                "docid", F.lit(1.0).cast(self._stype).alias("score")
            )
        if isinstance(q, ast.MultiMatchQuery):
            subs = [ast.MatchQuery(f, q.query, q.operator) for f in q.fields]
            if q.type == "most_fields":
                return self._score(ast.BoolQuery(should=subs))
            return self._score(ast.DisMaxQuery(queries=subs, tie_breaker=q.tie_breaker))
        if isinstance(q, ast.DisMaxQuery):
            if all(isinstance(s, ast.MatchQuery) for s in q.queries):
                return self._fused(
                    [("dismax", s) for s in q.queries], kind="dismax", tie=q.tie_breaker
                )
            return self._dis_max([self._score(s) for s in q.queries], q.tie_breaker)
        if isinstance(q, ast.BoolQuery):
            flat = all(
                isinstance(s, ast.MatchQuery) for s in [*q.must, *q.should, *q.must_not]
            )
            if flat and (q.must or q.should):
                branches = (
                    [("must", s) for s in q.must]
                    + [("should", s) for s in q.should]
                    + [("must_not", s) for s in q.must_not]
                )
                return self._fused(branches, kind="bool")
            return self._bool(q)
        raise ValueError(f"unsupported query: {q}")

    def _fused(self, branches, kind: str, tie: float = 0.0) -> DataFrame:
        """Branch-fused scoring: ONE postings scan + ONE per-doc aggregation
        for a bool/dis_max whose children are all match queries — instead of
        N score frames joined pairwise. Per-branch sums round to float32
        before combination (quantized mode), matching Lucene's nested-scorer
        rounding, so results stay bit-identical to the unfused plan.
        Physically: postings scan (term IN superset pushed down) ⋈ broadcast
        (branch, field, term → weight) ⋈ broadcast norm cache → hash agg on
        docid with per-branch conditional sums. Zero joins between branches.
        """
        quant = self.reader.quantize
        wrows, metas = [], []
        for bi, (role, m) in enumerate(branches):
            terms = analyzer_py(self.reader.field_analyzer(m.field))(m.query)
            mult = Counter(terms)
            tstats = self.reader.term_stats(m.field, list(mult))
            present = [t for t in mult if t in tstats]
            fs = self.reader.field_stats(m.field)
            dead = (not present) or (m.operator == "and" and len(present) < len(mult))
            metas.append(
                {"role": role, "field": m.field, "op": m.operator, "n": len(present),
                 "dead": dead}
            )
            if dead:
                continue
            for t in present:
                if quant:
                    w = tstats[t][1]
                else:
                    w = float(lucene.idf(tstats[t][0], fs["doc_count"]))
                wrows.append((bi, m.field, t, float(w), int(mult[t])))
        # a dead MUST kills the query; dead should/must_not branches drop out
        # (kind="branches" callers unpack a 3-tuple — keep the shape on the
        # empty early-returns too)
        def _empty():
            e = self._empty_scores()
            return (e, [], metas) if kind == "branches" else e

        if any(x["dead"] and x["role"] == "must" for x in metas):
            return _empty()
        live = [i for i, x in enumerate(metas) if not x["dead"]]
        if not any(metas[i]["role"] in ("must", "should", "dismax") for i in live):
            return _empty()
        fields = sorted({x["field"] for i, x in enumerate(metas) if i in set(live)})
        all_terms = sorted({r[2] for r in wrows})
        postings = self.reader.postings.where(
            F.col("field").isin(fields) & F.col("term").isin(all_terms)
        )
        # everything folds in as literal expressions — one scan, one agg,
        # zero joins/exchanges (same trick as _score_match)
        ft = F.concat_ws("\x1f", F.col("field"), F.col("term"))
        if quant:
            caches = {
                f: self._norm_cache_arr(f) for f in fields
            }
            cache = None
            for f in fields:
                c = F.element_at(caches[f], F.col("norm") + 1)
                cache = c if cache is None else F.when(F.col("field") == f, c).otherwise(cache)
        else:
            avg = {f: float(self.reader.field_stats(f)["avgdl"]) for f in fields}

        def _lit_map(pairs):
            return F.create_map(*[x for kv in pairs for x in (F.lit(kv[0]), F.lit(kv[1]))])

        aggs = []
        for bi in live:
            rows_b = [r for r in wrows if r[0] == bi]
            keys = [f"{r[1]}\x1f{r[2]}" for r in rows_b]
            wmap = _lit_map([(k, float(r[3])) for k, r in zip(keys, rows_b)])
            mmap = _lit_map([(k, int(r[4])) for k, r in zip(keys, rows_b)])
            w_b = wmap[ft]
            is_b = w_b.isNotNull()
            if quant:
                wf = w_b.cast("float")
                prod = (F.col("tf").cast("float") * cache).cast("float")
                denom = (F.lit(1.0).cast("float") + prod).cast("float")
                contrib = ((wf - (wf / denom).cast("float")).cast("float")).cast("double")
            else:
                dl = F.col("norm").cast("double")
                tf = F.col("tf").cast("double")
                avgdl = None
                for f in fields:
                    a = F.lit(avg[f])
                    avgdl = a if avgdl is None else F.when(F.col("field") == f, a).otherwise(avgdl)
                contrib = w_b * tf / (tf + K1 * (1 - B + B * dl / avgdl))
            weighted = mmap[ft].cast("double") * contrib
            s = F.sum(F.when(is_b, weighted))
            if quant:
                s = s.cast("float")  # per-branch float32 like a nested scorer
            aggs.append(s.alias(f"_s{bi}"))
            aggs.append(F.count(F.when(is_b, F.lit(1))).alias(f"_n{bi}"))
        per_doc = postings.groupBy("docid").agg(*aggs)
        if kind == "branches":
            return per_doc, live, metas
        cond = F.lit(True)
        score = None
        if kind == "bool":
            musts = [i for i in live if metas[i]["role"] == "must"]
            shoulds = [i for i in live if metas[i]["role"] == "should"]
            nots = [i for i in live if metas[i]["role"] == "must_not"]
            for i in musts:
                need = metas[i]["n"] if metas[i]["op"] == "and" else 1
                cond = cond & (F.col(f"_n{i}") >= need)
            for i in nots:
                # a must_not sub-query excludes a doc only when the sub-query
                # MATCHES it — for operator='and' that means ALL its terms
                # match (need = n), not any one of them (Lucene MUST_NOT wraps
                # the whole sub-scorer; parity with the unfused _bool path)
                need = metas[i]["n"] if metas[i]["op"] == "and" else 1
                cond = cond & (F.col(f"_n{i}") < need)
            if not musts and shoulds:
                ok = None
                for i in shoulds:
                    need = metas[i]["n"] if metas[i]["op"] == "and" else 1
                    c = F.col(f"_n{i}") >= need
                    ok = c if ok is None else (ok | c)
                cond = cond & ok
            parts = []
            for i in musts:
                parts.append(F.col(f"_s{i}").cast("double"))
            for i in shoulds:
                need = metas[i]["n"] if metas[i]["op"] == "and" else 1
                parts.append(
                    F.when(F.col(f"_n{i}") >= need, F.col(f"_s{i}").cast("double")).otherwise(0.0)
                )
            score = parts[0]
            for p in parts[1:]:
                score = score + p
        else:  # dismax
            ds = [i for i in live]
            vals = []
            for i in ds:
                need = metas[i]["n"] if metas[i]["op"] == "and" else 1
                vals.append(
                    F.when(F.col(f"_n{i}") >= need, F.col(f"_s{i}").cast("double"))
                )
            ok = None
            for i in ds:
                need = metas[i]["n"] if metas[i]["op"] == "and" else 1
                c = F.col(f"_n{i}") >= need
                ok = c if ok is None else (ok | c)
            cond = cond & ok
            filled_max = [F.coalesce(v, F.lit(float("-inf"))) for v in vals]
            mx = F.greatest(*filled_max) if len(vals) > 1 else filled_max[0]
            total = None
            for v in vals:
                z = F.coalesce(v, F.lit(0.0))
                total = z if total is None else total + z
            score = mx + F.lit(float(tie)) * (total - mx)
        return per_doc.where(cond).select(
            "docid", score.cast(self._stype).alias("score")
        )

    def _empty_scores(self) -> DataFrame:
        return self.spark.createDataFrame([], f"docid long, score {self._stype}")

    def _norm_cache_arr(self, field: str) -> Column:
        """256-entry norm cache as an inline array literal — element_at by
        norm byte replaces a broadcast join (no exchange, no per-query
        createDataFrame round-trip)."""
        key = ("arr", field)
        if key not in self._cache_df:
            avgdl = np.float32(self.reader.field_stats(field)["avgdl"])
            cache = lucene.norm_cache(avgdl)
            self._cache_df[key] = F.array(*[F.lit(float(c)) for c in cache]).cast(
                "array<float>"
            )
        return self._cache_df[key]

    def _score_match(self, field: str, text: str, operator: str = "or") -> DataFrame:
        # analyze the query with the FIELD's analyzer — the same invariant
        # the reference keeps (Indexer.scala:207 == MatchQuery.scala:43-49)
        terms = analyzer_py(self.reader.field_analyzer(field))(text)
        if not terms:
            return self._empty_scores()
        mult = Counter(terms)
        tstats = self.reader.term_stats(field, list(mult))
        present = [t for t in mult if t in tstats]
        if not present or (operator == "and" and len(present) < len(mult)):
            return self._empty_scores()
        fs = self.reader.field_stats(field)
        postings = self.reader.postings.where(
            (F.col("field") == field) & F.col("term").isin(present)
        )
        # term weights and multiplicities fold in as literal map lookups —
        # no broadcast exchanges, no per-query createDataFrame: the whole
        # match query is ONE scan + ONE aggregation.
        def _lit_map(pairs):
            return F.create_map(*[x for kv in pairs for x in (F.lit(kv[0]), F.lit(kv[1]))])

        mult_col = (
            _lit_map([(t, int(mult[t])) for t in present])[F.col("term")]
            if any(mult[t] > 1 for t in present)
            else F.lit(1)
        )
        if self.reader.quantize:
            wcol = _lit_map([(t, float(tstats[t][1])) for t in present])[F.col("term")].cast(
                "float"
            )
            cache = F.element_at(self._norm_cache_arr(field), F.col("norm") + 1)
            # float32 op chain identical to BM25Scorer.score:
            # w - w / (1f + freq * cache[norm]).
            # Spark evaluates float arithmetic in double; casting after every
            # op restores IEEE float32 rounding (exact for *, +, - since a
            # double op over two float32s is exact before the cast).
            prod = (F.col("tf").cast("float") * cache).cast("float")
            denom = (F.lit(1.0).cast("float") + prod).cast("float")
            frac = (wcol / denom).cast("float")
            contrib = (wcol - frac).cast("float")
            score = F.sum(mult_col.cast("double") * contrib.cast("double")).cast("float")
        else:
            wcol = _lit_map(
                [(t, float(lucene.idf(tstats[t][0], fs["doc_count"]))) for t in present]
            )[F.col("term")]
            # unquantized: norm column holds the exact doc length
            dl = F.col("norm").cast("double")
            tf = F.col("tf").cast("double")
            contrib = wcol * tf / (tf + K1 * (1 - B + B * dl / fs["avgdl"]))
            score = F.sum(mult_col * contrib)  # keep double
        agg = postings.groupBy("docid").agg(
            score.alias("score"), F.count(F.lit(1)).alias("_nt")
        )
        if operator == "and":
            agg = agg.where(F.col("_nt") == len(present))
        return agg.select("docid", "score")

    def _bool(self, q: ast.BoolQuery) -> DataFrame:
        """Lucene BooleanQuery semantics: doc matches all musts and (if no
        musts) ≥1 should; score = float32(Σ float64 matching sub-scores);
        must_not excludes (reference BoolQuery.scala:15-57, §2.7 join
        algebra: MUST=inner join, SHOULD=full outer, MUST_NOT=anti join)."""
        if not (q.must or q.should or q.must_not):
            raise ValueError("bool query requires at least one clause")
        base = None  # DataFrame[docid, _sum double]
        for i, sub in enumerate(q.must):
            sc = self._score(sub).select("docid", F.col("score").cast("double").alias(f"_m{i}"))
            base = sc if base is None else base.join(sc, "docid", "inner")
        if base is not None and q.must:
            sum_cols = [F.col(f"_m{i}") for i in range(len(q.must))]
            base = base.select("docid", sum(sum_cols[1:], sum_cols[0]).alias("_sum"))
        should_sum = None
        for i, sub in enumerate(q.should):
            sc = self._score(sub).select("docid", F.col("score").cast("double").alias(f"_s{i}"))
            should_sum = sc if should_sum is None else should_sum.join(sc, "docid", "outer")
        if should_sum is not None and q.should:
            cols = [F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(len(q.should))]
            should_sum = should_sum.select("docid", sum(cols[1:], cols[0]).alias("_ssum"))
        if base is None and should_sum is None:
            # must_not only: reference requires ≥1 positive clause; we model
            # it as match_all minus must_not (ConstantScore), like filter-only
            base = self.reader.docs.select("docid", F.lit(1.0).alias("_sum"))
        elif base is None:
            base = should_sum.withColumnRenamed("_ssum", "_sum")
        elif should_sum is not None:
            base = base.join(should_sum, "docid", "left").select(
                "docid",
                (F.col("_sum") + F.coalesce(F.col("_ssum"), F.lit(0.0))).alias("_sum"),
            )
        for sub in q.must_not:
            excl = self._score(sub).select("docid")
            base = base.join(excl, "docid", "left_anti")
        return base.select("docid", F.col("_sum").cast(self._stype).alias("score"))

    def _dis_max(self, frames: list[DataFrame], tie_breaker: float) -> DataFrame:
        """DisjunctionMaxQuery: max(sub) + tie_breaker * Σ(other subs)
        (reference DisMaxQuery.scala:14-41)."""
        out = None
        for i, f in enumerate(frames):
            sc = f.select("docid", F.col("score").cast("double").alias(f"_d{i}"))
            out = sc if out is None else out.join(sc, "docid", "outer")
        cols = [F.col(f"_d{i}") for i in range(len(frames))]
        filled = [F.coalesce(c, F.lit(float("-inf"))) for c in cols]
        mx = F.greatest(*filled) if len(cols) > 1 else filled[0]
        total = None
        for c in cols:
            z = F.coalesce(c, F.lit(0.0))
            total = z if total is None else total + z
        score = mx + F.lit(float(tie_breaker)) * (total - mx)
        return out.select("docid", score.cast(self._stype).alias("score"))

    # ---------- sort ----------

    def _sorted_topk(self, scored: DataFrame, sort: list, size: int) -> DataFrame:
        """Sort-by-fields top-k (reference RetrieveQuery.scala:82-87,103-138;
        missing-value matrix api/SearchRoute.scala:395-417). ``sort`` items:
        (field, "asc"|"desc") or (field, "asc"|"desc", "first"|"last");
        pseudo-fields _score / _doc supported. Executes as
        TakeOrderedAndProject — per-partition heap, no full sort."""
        need = [
            s[0] for s in sort if s[0] not in ("_score", "_doc") and not isinstance(s[0], dict)
        ]
        geo_fields = [s[0]["field"] for s in sort if isinstance(s[0], dict)]
        df = scored
        if need or geo_fields:
            df = scored.join(
                self.reader.docs.select("docid", *need, *geo_fields), "docid", "left"
            )
        order = []
        for item in sort:
            fld, direction = item[0], item[1]
            missing = item[2] if len(item) > 2 else ("last" if direction == "asc" else "first")
            if isinstance(fld, dict):
                # geo-distance sort (reference RetrieveQuery.scala:120-126,
                # LatLonDocValuesField.newDistanceSort):
                # {"field": "loc", "lat": .., "lon": ..}
                from nixiesearch_spark.query.filters import haversine_meters

                g = fld["field"]
                col = haversine_meters(
                    F.col(g + ".lat"), F.col(g + ".lon"), F.lit(fld["lat"]), F.lit(fld["lon"])
                )
            elif fld == "_score":
                col = F.col("score")
            elif fld == "_doc":
                col = F.col("docid")
            else:
                col = F.col(fld)
            if direction == "asc":
                order.append(col.asc_nulls_first() if missing == "first" else col.asc_nulls_last())
            else:
                order.append(
                    col.desc_nulls_first() if missing == "first" else col.desc_nulls_last()
                )
        order.append(F.asc("docid"))  # stable tiebreak
        top = df.orderBy(*order).limit(size)
        # rank over the k-row frame so a later fetch can restore this order;
        # window-free (ranks.rank_limited) — no WindowExec node, no warning
        from nixiesearch_spark.query.ranks import rank_limited

        return rank_limited(top, order, ["docid", "score"], "_rank", base=1)
