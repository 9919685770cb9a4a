"""Searcher: compile the query AST to DataFrame plans and execute.

The Spark lifecycle equivalent of the reference's search path
(``index/Searcher.scala:115-274``, SURVEY.md §3.1): query JSON → AST →
DataFrame plan (posting scan → per-doc score aggregation →
TakeOrderedAndProject top-k → optional broadcast doc-fetch join) →
Catalyst optimizes → distributed execute.

Physical shape of a match query at scale — the one-"should"-branch case
of the fused bool/dis_max plan (``Searcher._fused``), as Lucene compiles a
match query to a BooleanQuery of its terms:
- wand._match_plan resolves the query's terms, multiplicities and weights
  against the dictionary, the same function the search-head and
  distributed routes use;
- the postings scan carries ``term IN (...)`` + ``field IN (...)``
  predicates → parquet row-group skip via min/max on the sorted ``term``
  column (the analog of Lucene's term-dictionary seek);
- term weights (float32 idf), multiplicities and the 256-entry norm cache
  fold in as literal expressions — no join, no shuffle;
- per-doc score sums (one per branch) are one hash aggregation (map-side
  partial) on docid;
- top-k is ``orderBy(desc(score), asc(docid)).limit(k)`` which Catalyst
  executes as TakeOrderedAndProject (per-partition heap + driver merge —
  exactly the "heap-based top-k accumulator" shape, no global sort).

Scoring is bit-exact Lucene 10.3 BM25 when the index is quantized (norm
byte + float32 op chain, see nixiesearch_spark.lucene); with
``quantize=False`` it is the plain double-precision BM25 used for
SQL-oracle cross-checks.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nixiesearch_spark import lucene
from nixiesearch_spark.index.builder import IndexReader
from nixiesearch_spark.query import ast
from nixiesearch_spark.query.filters import compile_predicate
from nixiesearch_spark.query.wand import LocalFrame, _match_plan, local_schema

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


def _bool_branches(q: ast.BoolQuery) -> list:
    """A bool query's (role, sub-query) branches: musts, shoulds, must_nots."""
    return (
        [("must", m) for m in q.must]
        + [("should", m) for m in q.should]
        + [("must_not", m) for m in q.must_not]
    )


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

        ``mode``: physical strategy, "auto" (default) or "flat". The
        mapping checks run first, on every route. Then ``_plan_route``
        picks the producer, in this order of checks: mode "auto", a fresh
        quantized packed index (wand.packed_ready), a score-ordered match
        query (→ wand_topk: search-head driver mode for small block
        volumes, distributed block-max pruning otherwise, and always
        distributed under filters or tombstones), no filters, a query shape
        a search-head driver serves (sort-by-field over one match query,
        all-match rrf with ≥ 2 branches, all-match bool, all-match dis_max
        with tie_breaker ≤ 1), no tombstones. A search-head driver may
        still decline on the data (driver size bounds, docs/packed drift);
        the flat plan then serves. Every fast path is bit-identical to the
        flat plan (tests/test_wand.py, tests/test_serving.py). "flat"
        forces the pure-Catalyst plan everywhere."""
        if isinstance(query, dict) or query is None:
            query = ast.parse_query(query)
        if isinstance(query, ast.RRFQuery) and sort:
            # reference Searcher.scala:119
            raise ValueError("sorting is not supported for rrf queries")
        self._check_mapping(query, filters, sort=sort)
        self.counters["searches"] += 1
        key = None
        if self._plan_cache_on:
            key = self._plan_key("search", query, filters, size, fields, sort, mode)
            hit = self._plan_cache.get(key)
            if hit is not None:
                self.counters["plan_cache_hits"] += 1
                return hit
        topk = self._served_topk(query, filters, size, sort, mode)
        if topk is None:  # the flat route, or a driver declined on the data
            topk = self._flat_topk(query, filters, size, sort)
        else:  # served off the flat plan: never plan-cached
            self.counters["autorouted"] += 1
            key = None
        if fields:
            topk = self.fetch(topk, fields)
        elif sort:
            topk = topk.drop("_rank")
        if key is not None:
            self._cache_plan(key, topk)
        return topk

    def _plan_route(
        self, query: ast.Query, filters: dict | None, mode: str,
        sort: list | None = None, facet: bool = False,
    ) -> str:
        """The one route decision for search(), facet_term() and
        facet_range() (``facet=True``): which producer serves the request —

        - "head": a search-head driver (bool_topk_driver, rrf_topk_driver,
          or the full match set of _match_set_driver for sort-by-field and
          facets);
        - "wand": wand_topk, which picks its own driver or distributed
          plan from block volume, filters and tombstones;
        - "flat": the Catalyst plan.

        Checks, in order: mode, a fresh packed index, a score-ordered match
        search, filters, the query shape, tombstones (last: reading them is
        a Spark read when they exist). The mapping checks have already run.
        A head driver may still decline on the data by returning None (the
        ordinal and field LUT doc-count bounds, DRIVER_MAX_BLOCKS,
        docs/packed drift); the caller then serves the flat plan."""
        from nixiesearch_spark.query import wand

        if mode != "auto" or not wand.packed_ready(self.reader):
            return "flat"
        match = isinstance(query, ast.MatchQuery)
        if match and not sort and not facet:
            return "wand"
        if filters is not None:
            return "flat"
        if isinstance(query, ast.RRFQuery):
            # a one-branch rrf search passes the branch's raw scores through
            # the flat plan; a facet needs only the branch match sets
            ok = all(isinstance(b, ast.MatchQuery) for b in query.retrieve) and (
                len(query.retrieve) > (0 if facet else 1)
            )
        elif sort or facet:
            # the full match set of one match query; geo sort items need
            # the distance expression of the flat plan
            ok = match and not any(isinstance(item[0], dict) for item in sort or ())
        elif isinstance(query, ast.BoolQuery):
            subs = [*query.must, *query.should, *query.must_not]
            ok = bool(query.must or query.should) and all(
                isinstance(s, ast.MatchQuery) for s in subs
            )
        elif isinstance(query, ast.DisMaxQuery):
            # a tie_breaker above 1 breaks the kernel's Σ upper bound
            ok = 0.0 <= float(query.tie_breaker) <= 1.0 and all(
                isinstance(s, ast.MatchQuery) for s in query.queries
            )
        else:
            ok = False
        return "head" if ok and self.reader.tombstones is None else "flat"

    def _served_topk(
        self, query: ast.Query, filters: dict | None, size: int, sort: list | None, mode: str
    ) -> DataFrame | None:
        """The top-k of the producer _plan_route picks, or None for the flat
        plan (the flat route, or a search-head driver declining on the
        data)."""
        from nixiesearch_spark.query import wand

        route = self._plan_route(query, filters, mode, sort=sort)
        if route == "wand":
            # filters and tombstones ride inside the pruned search
            return wand.wand_topk(
                self.reader, query.field, query.query, k=size,
                operator=query.operator, filters=filters,
            )
        if route == "flat":
            return None
        if sort:
            return self._sort_search_driver(query, sort, size)
        if isinstance(query, ast.RRFQuery):
            window = query.rank_window_size if query.rank_window_size is not None else size
            return wand.rrf_topk_driver(
                self.reader, query.retrieve, size=size, window=window, rrf_k=query.k
            )
        if isinstance(query, ast.BoolQuery):
            return wand.bool_topk_driver(self.reader, _bool_branches(query), k=size, kind="bool")
        branches = [("dismax", m) for m in query.queries]
        return wand.bool_topk_driver(
            self.reader, branches, k=size, kind="dismax", tie=query.tie_breaker
        )

    def _flat_topk(
        self, query: ast.Query, filters: dict | None, size: int, sort: list | None
    ) -> DataFrame:
        """The Catalyst plan's top-k (sorted frames carry ``_rank``)."""
        if isinstance(query, ast.RRFQuery):
            return self._rrf(query, filters, size)
        scored = self._scores(query, filters)
        if sort:
            return self._sorted_topk(scored, sort, size)
        return scored.orderBy(F.desc("score"), F.asc("docid")).limit(size)

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
        self._check_mapping(query, filters)
        return self._scores(query, filters)

    def _scores(self, query: ast.Query, filters: dict | None = None) -> DataFrame:
        """score() after its mapping checks: the flat plans of every public
        entry build on this."""
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
        scored = self._score(self._expand_wildcards(query))
        tombs = self.reader.tombstones
        if tombs is not None:
            scored = scored.join(tombs, "docid", "left_anti")
        if filters is not None:
            pred = compile_predicate(filters)
            keep = self.reader.docs.where(pred).select("docid")
            scored = scored.join(keep, "docid", "left_semi")
        return scored

    def _rrf(self, q: ast.RRFQuery, filters: dict | None, size: int) -> DataFrame:
        """The flat plan of RRF fusion over retrieve branches (reference
        RRFQuery.topDocs): each branch retrieves its top
        ``rank_window_size`` (default = size) WITH the request filters, then
        ranks fuse as Σ 1/(k + rank). One branch passes through with raw
        scores (combine's head::Nil case). All-match branches with no
        filters or tombstones take the single-scan fused path
        (rrf_fuse_matches: one postings scan feeds every branch); the
        search-head route is rrf_topk_driver (_served_topk)."""
        from nixiesearch_spark.query.rrf import rrf_fuse, rrf_fuse_matches

        if not q.retrieve:
            raise ValueError("rrf requires at least one retrieve query")
        window = q.rank_window_size if q.rank_window_size is not None else size
        if len(q.retrieve) == 1:
            return (
                self._scores(q.retrieve[0], filters)
                .orderBy(F.desc("score"), F.asc("docid"))
                .limit(size)
            )
        if (
            filters is None
            and self.reader.tombstones is None
            and all(isinstance(s, ast.MatchQuery) for s in q.retrieve)
        ):
            return rrf_fuse_matches(self, q.retrieve, size=size, window=window, k=q.k)
        branches = [self._scores(s, filters) for s in q.retrieve]
        return rrf_fuse(branches, size=size, window=window, k=q.k)

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

    def _check_mapping(
        self, query: ast.Query, filters: dict | None = None,
        sort: list | None = None, facet: str | None = None,
    ) -> None:
        """The mapping's capability checks for one request — the query's
        searched fields (multi_match patterns expanded), filter fields, sort
        fields and the facet field. Each public entry runs them once, before
        any route: an undeclared capability is a user error on every route
        (reference RetrieveQuery.scala:117-119, Predicate.scala:132-133)."""
        if self.mapping is None:
            return
        self._validate_query(query)
        if filters is not None:
            from nixiesearch_spark.query.filters import collect_filter_fields

            for f in collect_filter_fields(filters):
                self.mapping.require(f, "filter")
        for item in sort or ():
            if item[0] not in ("_score", "_doc"):
                self.mapping.require(item[0], "sort")
        if facet is not None:
            self.mapping.require(facet, "facet")

    def _validate_query(self, q: ast.Query) -> None:
        if isinstance(q, ast.MatchQuery):
            self.mapping.require(q.field, "search")
        elif isinstance(q, ast.MultiMatchQuery):
            for f in self._expand_wildcards(q).fields:
                self.mapping.require(f, "search")
        elif isinstance(q, ast.BoolQuery):
            for sub in [*q.must, *q.should, *q.must_not]:
                self._validate_query(sub)
        elif isinstance(q, ast.DisMaxQuery):
            for sub in q.queries:
                self._validate_query(sub)
        elif isinstance(q, ast.RRFQuery):
            for sub in q.retrieve:
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
        FacetsCollector semantics, core/aggregate/TermAggregator.scala; an
        RRF facet counts the union of the branch match sets, reference
        MergedFacetCollector, core/search/MergedFacetCollector.scala:17-33).
        When _plan_route picks the search head (unfiltered match or
        all-match RRF on a fresh packed index, no tombstones), the full
        match set decodes driver-side (wand.match_scores_driver — facet
        membership needs no top-k) and the facet column rides a pyarrow
        docid LUT (IndexReader.field_lut), so the whole facet costs zero
        Spark jobs. Identical (term, count) rows to the cluster plan
        (tests/test_serving_facet.py); every other request, and a head the
        data declines (_facet_values), runs term_agg over score()."""
        from nixiesearch_spark.query.aggs import term_agg

        query = self._facet_query(query, field, filters)
        vals = self._facet_values(query, field, filters, mode)
        if vals is not None:
            return self._facet_values_local(vals, field, size)
        return term_agg(self._flat_match_set(query, filters), self.reader.docs, field, size)

    def facet_range(
        self,
        query: ast.Query | dict,
        field: str,
        ranges: list,
        filters: dict | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        """Query-level range facet, routed like facet_term (bucket counts
        need only match-set membership + the numeric LUT column). Integer
        columns only on the search head — other dtypes take the cluster
        plan."""
        from nixiesearch_spark.query.aggs import range_agg

        query = self._facet_query(query, field, filters)
        vals = self._facet_values(query, field, filters, mode, numeric=True)
        if vals is not None:
            return self._range_values_local(vals, ranges)
        return range_agg(self._flat_match_set(query, filters), self.reader.docs, field, ranges)

    def _facet_query(self, query, field: str, filters: dict | None) -> ast.Query:
        """A facet request's parsed query, after its mapping checks."""
        if isinstance(query, dict) or query is None:
            query = ast.parse_query(query)
        if isinstance(query, ast.RRFQuery) and not query.retrieve:
            # same error the retrieve path raises
            raise ValueError("rrf requires at least one retrieve query")
        self._check_mapping(query, filters, facet=field)
        return query

    def _flat_match_set(self, query: ast.Query, filters: dict | None) -> DataFrame:
        """The cluster plan's match set of a facet request."""
        if isinstance(query, ast.RRFQuery):
            from nixiesearch_spark.query.aggs import merged_match_set

            return merged_match_set([self._scores(b, filters) for b in query.retrieve])
        return self._scores(query, filters)

    def _facet_values(
        self, query: ast.Query, field: str, filters: dict | None, mode: str,
        numeric: bool = False,
    ):
        """The facet column's values over the match set, read on the search
        head (a pandas Series; for RRF, the union of the branch match sets),
        or None for the cluster plan: the route is flat, or the data
        declines — no field LUT (or, with ``numeric``, a non-integer
        column), a match set the ordinal LUT cannot resolve, or docs/packed
        drift. The LUT is checked before any match-set decode."""
        if self._plan_route(query, filters, mode, facet=True) != "head":
            return None
        lut = self.reader.field_lut(field)
        if lut is None or (numeric and lut[1].dtype.kind not in "iu"):
            return None
        parts = []
        for b in query.retrieve if isinstance(query, ast.RRFQuery) else [query]:
            ms = self._match_set_driver(b)
            if ms is None:
                return None
            parts.append(ms["docid"].to_numpy(np.int64))
        pos = _lut_positions(lut[0], np.unique(np.concatenate(parts)))
        return None if pos is None else lut[1].iloc[pos]

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

    def _facet_values_local(self, vals, field: str, size) -> LocalFrame:
        """Term-facet counts over the match set's facet values, count-desc/
        term-asc ties like the cluster agg, returned as a LocalFrame typed
        from the docs schema."""
        from pyspark.sql.types import LongType, StructField, StructType

        from nixiesearch_spark.query.aggs import MAX_TERM_FACETS

        n = MAX_TERM_FACETS if size == "all" else int(size)
        ftype = next(
            f.dataType for f in self.reader.docs.schema.fields if f.name == field
        )
        schema = StructType(
            [StructField("term", ftype), StructField("count", LongType(), False)]
        )
        if not len(vals):
            return LocalFrame.empty(self.spark, schema)
        vc = vals.value_counts(dropna=True)  # matches the isNotNull filter
        pdf = vc.rename_axis("term").reset_index(name="count")
        # same tie order as the cluster plan: count desc, term asc
        pdf = pdf.sort_values(["count", "term"], ascending=[False, True], kind="stable").head(n)
        return LocalFrame(self.spark, pdf, schema)

    def _range_values_local(self, vals, ranges: list) -> LocalFrame:
        """Range-bucket counts over the match set's (integer) facet values
        as a LocalFrame; an open bound is NaN in the frame and collects as
        None."""
        import pandas as pd

        v = vals.to_numpy()
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
        Declines (None) on float sort columns (their pandas form conflates
        null and NaN, which Spark orders differently), or columns whose
        LUT/match-set can't serve driver-side; geo items never get here
        (_plan_route)."""
        import pandas as pd

        items = []
        for item in sort:
            fld, direction = item[0], item[1]
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
            return self._fused([("should", q)], kind="bool")
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
            branches = _bool_branches(q)
            if (q.must or q.should) and all(isinstance(m, ast.MatchQuery) for _, m in branches):
                return self._fused(branches, kind="bool")
            return self._bool(q)
        raise ValueError(f"unsupported query: {q}")

    def _fused(self, branches, kind: str, tie: float = 0.0) -> DataFrame:
        """Branch-fused scoring: ONE postings scan + ONE per-doc aggregation
        for a bool/dis_max whose children are all match queries — instead of
        N score frames joined pairwise. A match query is the one-"should"-
        branch bool (Lucene compiles it to a BooleanQuery of its terms,
        reference MatchQuery.scala:26-54). Per-branch sums round to float32
        before combination (quantized mode), matching Lucene's nested-scorer
        rounding, so results stay bit-identical to the unfused plan.
        Physically: postings scan (term IN superset pushed down) → literal
        (field, term → weight, multiplicity) maps and the norm-cache array →
        hash agg on docid with per-branch conditional sums. Zero joins.

        Branches resolve through wand._match_plan, the same function the
        search-head and distributed routes use. ``kind="branches"`` returns
        (per-doc frame, live branch indexes, plans) for rrf_fuse_matches."""
        quant = self.reader.quantize
        plans = [_match_plan(self.reader, m.field, m.query, m.operator, role)
                 for role, m in branches]
        live = [i for i, p in enumerate(plans) if p is not None]
        # a dead MUST kills the query; dead should/must_not branches drop out
        # (kind="branches" callers unpack a 3-tuple — keep the shape on the
        # empty early-return too)
        if any(p is None and role == "must" for (role, _), p in zip(branches, plans)) or not any(
            plans[i]["role"] in ("must", "should", "dismax") for i in live
        ):
            e = self._empty_scores()
            return (e, [], plans) if kind == "branches" else e
        fields = sorted({plans[i]["field"] for i in live})
        all_terms = sorted({t for i in live for t in plans[i]["present"]})
        postings = self.reader.postings.where(
            F.col("field").isin(fields) & F.col("term").isin(all_terms)
        )
        # everything folds in as literal expressions — one scan, one agg,
        # zero joins/exchanges
        ft = F.concat_ws("\x1f", F.col("field"), F.col("term"))

        def per_field(value):
            out = None
            for f in fields:
                v = value(f)
                out = v if out is None else F.when(F.col("field") == f, v).otherwise(out)
            return out

        if quant:
            cache = per_field(lambda f: F.element_at(self._norm_cache_arr(f), F.col("norm") + 1))
        else:
            avgdl = per_field(lambda f: F.lit(float(self.reader.field_stats(f)["avgdl"])))

        def _lit_map(pairs):
            return F.create_map(*[x for kv in pairs for x in (F.lit(kv[0]), F.lit(kv[1]))])

        aggs = []
        for i in live:
            p = plans[i]
            keys = [(f"{p['field']}\x1f{t}", t) for t in p["present"]]
            w_b = _lit_map([(key, float(p["weights"][t])) for key, t in keys])[ft]
            mult = _lit_map([(key, p["mults"][t]) for key, t in keys])[ft]
            is_b = w_b.isNotNull()
            if quant:
                # float32 op chain identical to BM25Scorer.score:
                # w - w / (1f + freq * cache[norm]). Spark evaluates float
                # arithmetic in double; casting after every op restores IEEE
                # float32 rounding (exact for *, +, - since a double op over
                # two float32s is exact before the cast).
                wf = w_b.cast("float")
                prod = (F.col("tf").cast("float") * cache).cast("float")
                denom = (F.lit(1.0).cast("float") + prod).cast("float")
                contrib = ((wf - (wf / denom).cast("float")).cast("float")).cast("double")
            else:
                # unquantized: the norm column holds the exact doc length
                dl = F.col("norm").cast("double")
                tf = F.col("tf").cast("double")
                contrib = w_b * tf / (tf + K1 * (1 - B + B * dl / avgdl))
            s = F.sum(F.when(is_b, mult.cast("double") * contrib))
            if quant:
                s = s.cast("float")  # per-branch float32 like a nested scorer
            aggs.append(s.alias(f"_s{i}"))
            aggs.append(F.count(F.when(is_b, F.lit(1))).alias(f"_n{i}"))
        per_doc = postings.groupBy("docid").agg(*aggs)
        if kind == "branches":
            return per_doc, live, plans
        # a branch matches a doc when it holds the plan's required term
        # count: every present term under AND, any one under OR
        hit = {i: F.col(f"_n{i}") >= (plans[i]["n_required"] or 1) for i in live}
        branch = {i: F.col(f"_s{i}").cast("double") for i in live}

        def any_hit(ids):
            out = None
            for i in ids:
                out = hit[i] if out is None else (out | hit[i])
            return out

        if kind == "bool":
            musts, shoulds, nots = (
                [i for i in live if plans[i]["role"] == role]
                for role in ("must", "should", "must_not")
            )
            cond = F.lit(True)
            for i in musts:
                cond = cond & hit[i]
            for i in nots:
                # a must_not sub-query excludes a doc only when the sub-query
                # MATCHES it — under AND, all its terms (Lucene MUST_NOT
                # wraps the whole sub-scorer; parity with the unfused _bool)
                cond = cond & ~hit[i]
            if not musts:
                cond = cond & any_hit(shoulds)
            parts = [branch[i] for i in musts] + [
                F.when(hit[i], branch[i]).otherwise(0.0) for i in shoulds
            ]
            score = parts[0]
            for p in parts[1:]:
                score = score + p
        else:  # dismax
            cond = any_hit(live)
            vals = [F.when(hit[i], branch[i]) for i in live]
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
