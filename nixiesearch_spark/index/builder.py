"""Inverted-index build: corpus DataFrame → sharded posting-list tables.

Spark-first re-design of the reference's indexer path
(``index/Indexer.scala:41-164``: stream → analyze → Lucene segments →
commit/manifest/seqnum → merge policies). Instead of translating Lucene we
use the document-sharded layout every distributed search engine converges on
— a shard here plays the role of a Lucene segment, and shard count is the
unit of build parallelism, resume granularity, and query fan-out:

- ``docs/``      docid, dense per-shard ordinal, shard, stored fields,
                 sha256(text), per-field doclen/norm
- ``postings/``  flat rows (shard, field, term, docid, ordinal, tf, norm),
                 term-sorted files → parquet row-group min/max on ``term``
                 gives query-time skip. All tables are FLAT parquet dirs
                 (shard is a column, not a hive partition): build exchanges
                 mix shards per task, so directory-partitioning would write
                 tasks×shards files, and no query path prunes by shard dir
- ``packed/``    (shard, field, term, block_id..block_last, n, doc_gaps,
                 tfs, norms, max_impact, tf_sum) — delta+VByte blocks over
                 dense ORDINALS (not hash docids — uniform 64-bit gaps
                 would not compress) + block-max metadata for WAND
- ``dictionary/`` (field, term, df, cf) global term stats
- ``lineage/``   per-shard build metrics + status → resumable re-runs
- ``stats.json`` per-field doc_count/sum_ttf/avgdl, config, seqnum
                 (manifest analog, reference ``index/manifest/IndexManifest.scala:10-57``)

Fields mirror the reference's per-field Lucene structures
(``core/field/TextFieldCodec.scala:49-94``): the base table is the row store
(StoredField), plain columns serve sort/facet/filter (DocValues/points), and
``postings`` is the analyzed inverted index.

Scale notes (100 TB / 1000 executors):
- shard = pmod(xxhash64-docid, n_shards): uniform, no skew by construction —
  a high-DF term ("the", "import") is split across ALL shards, so no single
  reducer ever sees a full posting list. This is the explicit skew handling
  the north rule demands; n_shards scales with corpus size so one shard's
  postings fit an executor (sandbox: 32, cluster: 10^4-10^5).
- the groupBy posting aggregation is one shuffle with map-side partial
  aggregation; AQE splits any residual skew.
- ordinal assignment is two-level (see _with_ordinals): hash-bucketed
  ranks + broadcast prefix offsets — parallelism never caps at n_shards
  and no task sorts a whole shard. Below a row bound the slim map is
  broadcast-joined back so the document payload crosses no exchange.
- packed posting groups sub-split by ordinal range (see _pack): no pack
  shuffle key exceeds block_size·K postings even for stopword terms.
- resume: shards whose lineage rows are committed are skipped on re-run; the
  build is idempotent per shard (deterministic docids + deterministic
  tokenize), so re-runs produce byte-identical postings (north rule).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from nixiesearch_spark import lucene
from nixiesearch_spark.analysis import analyzer_col
from nixiesearch_spark.index import codec

# Python workers must run the pack/WAND closures even when this package is
# not on the executors' import path (e.g. a host-created SparkSession with a
# different cwd): serialize our numeric modules by VALUE into the closures.
try:
    from pyspark import cloudpickle as _cp

    from nixiesearch_spark import lucene as _l
    from nixiesearch_spark.index import codec as _c

    _cp.register_pickle_by_value(_c)
    _cp.register_pickle_by_value(_l)
except Exception:  # pragma: no cover - best effort on older pyspark
    pass

TOKENIZER_VERSION = "ascii-standard-v1"
# Largest row count the driver holds for one table: the broadcast ordinal
# map at build time, the field LUT, and the search head's ordinal resolve.
# Above it those steps take their cluster-side plans.
DRIVER_MAX_ROWS = 5_000_000
# Largest corpus whose (shard, ordinal) → docid map the search head pulls
# into memory (two sorted int64 arrays, ~16 B per doc): IndexReader.ordinal_lookup
DRIVER_MAX_ORDINAL_ROWS = 50_000_000
# (shard << KEY_SHIFT) | ordinal: one int64 key per document across shards
KEY_SHIFT = 40


@dataclass
class IndexConfig:
    text_fields: tuple = ("content",)
    id_col: str | None = None  # existing long column; if None, hash id_cols
    id_cols: tuple = ("repo", "path", "commit")  # xxhash64 input when id_col is None
    stored_cols: tuple | None = None  # None = all input columns
    analyzers: dict = dc_field(default_factory=dict)  # field -> analyzer name
    n_shards: int = 32
    quantize: bool = True  # Lucene SmallFloat norm quantization; False → norm col = exact dl
    block_size: int = codec.BLOCK_SIZE
    extra: dict = dc_field(default_factory=dict)


def _norm_expr(dl: str) -> str:
    """Catalyst expression for SmallFloat.intToByte4(doclen) — exact integer
    bit math via length(bin(x)) = bit_length(x), JVM-side only."""
    return (
        f"CASE WHEN {dl} < 8 THEN {dl} "
        f"ELSE int(shiftright({dl}, length(bin({dl})) - 4)) & 7 "
        f"| shiftleft(length(bin({dl})) - 3, 3) END"
    )


PACKED_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("field", StringType()),
        StructField("term", StringType()),
        StructField("block_id", LongType()),
        StructField("block_last", LongType()),
        StructField("n", IntegerType()),
        StructField("doc_gaps", BinaryType()),
        StructField("tfs", BinaryType()),
        StructField("norms", BinaryType()),
        StructField("max_impact", FloatType()),
        StructField("tf_sum", LongType()),
        # ordinal group = floor(ordinal / group_span): the packed table's
        # partition key. Appends only ever create ordinals ABOVE a shard's
        # committed base, so a new batch touches only the tail og groups —
        # the unit of incremental re-pack (finalize overwrites only changed
        # og partitions; older ones are immutable files on disk).
        StructField("og", IntegerType()),
    ]
)


class IndexBuilder:
    def __init__(self, spark: SparkSession, config: IndexConfig | None = None):
        self.spark = spark
        self.config = config or IndexConfig()
        # wall-clock per build phase (docs_write/postings_write/pack/...)
        # — observability only, nothing reads it in the engine
        self.timings: dict[str, float] = {}

    def _mark(self, name: str, t0: float) -> float:
        now = time.time()
        self.timings[name] = round(self.timings.get(name, 0.0) + (now - t0), 3)
        return now

    @contextmanager
    def _session_overrides(self, confs: dict | None = None, job: str | None = None):
        """Set session-wide SQL ``confs`` (and the job description ``job``)
        for the body, and restore every previous value — the job
        description too, which the body may relabel — on every exit path:
        a failed build must not leave its split size, shuffle width, Arrow
        batch size or job label on the session's later jobs."""
        confs = confs or {}
        sc = self.spark.sparkContext
        prev_job = sc.getLocalProperty("spark.job.description")
        prev = {k: self.spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                self.spark.conf.set(k, v)
            if job is not None:
                sc.setJobDescription(job)
            yield
        finally:
            for k, v in prev.items():
                self.spark.conf.set(k, v)
            sc.setJobDescription(prev_job)

    # ---------- docid / shard assignment ----------

    def with_docid(self, df: DataFrame) -> DataFrame:
        c = self.config
        if c.id_col is not None:
            df = df.withColumn("docid", F.col(c.id_col).cast("long"))
        else:
            # deterministic 64-bit id; at >10^10 docs switch to a 128-bit
            # hash pair — 64-bit birthday collisions become material there
            df = df.withColumn("docid", F.xxhash64(*[F.col(x) for x in c.id_cols]))
        return df.withColumn("shard", F.pmod(F.col("docid"), F.lit(c.n_shards)).cast("int"))

    # ---------- build ----------

    def build(self, df: DataFrame, index_dir: str, resume: bool = True) -> dict:
        """Build (or resume) the index at ``index_dir`` from corpus ``df``.

        Lineage rows committed per shard make the build resumable: re-runs
        skip committed shards and rebuild only the rest (reference analog:
        seqnum manifest diff, ``index/sync/SlaveIndex.scala:24-60``).
        """
        c = self.config
        os.makedirs(index_dir, exist_ok=True)
        done = self._committed_shards(index_dir) if resume else set()
        todo = [s for s in range(c.n_shards) if s not in done]
        if todo:
            self._build_shards(df, index_dir, todo)
        return self.finalize(index_dir)

    def _build_shards(self, df: DataFrame, index_dir: str, shards: list[int]) -> None:
        c = self.config
        t0 = time.time()
        # layout guard: appending flat part files into a directory written by
        # the old hive-partitioned layout (shard=N subdirs) would make the
        # table unreadable ("conflicting directory structures") — fail loudly
        import glob as _glob

        for tbl in ("docs", "postings"):
            if _glob.glob(os.path.join(index_dir, tbl, "shard=*")):
                raise ValueError(
                    f"{tbl}/ uses the legacy hive-partitioned layout; "
                    "rebuild the index (or compact() with the old version) "
                    "before appending with this version"
                )
        base = self.with_docid(df)
        parallelism = self.spark.sparkContext.defaultParallelism
        # guarantee enough input splits for the CPU-bound tokenize stage.
        # For file-based inputs, derive the split size from the input's own
        # byte size (guide §2/§6: scale-adaptive partitioning, not a
        # constant) instead of a round-robin repartition — that repartition
        # was a full shuffle of the document payload, paid once per build
        # job. Non-file inputs (createDataFrame) keep the repartition guard.
        self._last_input_bytes = 0  # no stale carry-over between builds
        split_bytes = self._tune_input_splits(base, parallelism)
        confs = {}
        if split_bytes is not None:
            confs["spark.sql.files.maxPartitionBytes"] = split_bytes
        # initial shuffle-partition count derived from input size (guide
        # §2.2: size partitions, don't inherit a core-count constant): the
        # token shuffle at 8 partitions holds multi-GB agg state per task
        # and spills; a higher INITIAL count is safe under AQE, which only
        # coalesces DOWN to its advisory size. A/B at 120k docs/local[4]:
        # 156.0 s -> 144.3 s.
        if self._last_input_bytes:
            sp_conf = "spark.sql.shuffle.partitions"
            want_sp = min(4096, self._last_input_bytes // (16 * 1024 * 1024))
            if want_sp > int(self.spark.conf.get(sp_conf)):
                confs[sp_conf] = str(int(want_sp))
        ordmap = None  # set inside; cleaned up in the finally
        with self._session_overrides(confs):
            try:
                if split_bytes is None and base.rdd.getNumPartitions() < max(parallelism // 2, 2):
                    # non-file input (or already-fine splits): the .rdd partition
                    # probe costs a full plan->RDD conversion, so it only runs when
                    # split tuning could not size the scan itself
                    base = base.repartition(parallelism * 2)
                if len(shards) < c.n_shards:
                    base = base.where(F.col("shard").isin(shards))
                stored = list(c.stored_cols) if c.stored_cols else [
                    x for x in df.columns if x not in ("docid", "shard")
                ]
                # dense per-shard ordinals (Lucene segment-local docids): delta+VByte
                # over uniformly-hashed 64-bit docids compresses nothing (avg gap
                # ~2^59/df), over dense ordinals the gaps are ~shard_size/df — the
                # packed table shrinks ~5x. Appends offset by the shard's committed
                # row count (from lineage) so ordinals never collide.
                #
                # The map is computed ONCE on a slim (docid, shard) projection and
                # broadcast-joined back to the payload rows (guide §8: decide with
                # small rows, never shuffle the heavy payload). Below the broadcast
                # bound this removes every full-payload exchange from the build —
                # the docs and postings jobs both consume input-split partitioning
                # straight through to their writes. Above the bound (cluster-scale
                # corpora), and whenever a batch contains DUPLICATE docids, the
                # old payload-window path is used unchanged: a docid-keyed join
                # against k duplicate rows would fan out to k*k payload rows and
                # double-count tf, while the window gives each row its own ordinal
                # (duplicates within a batch are legitimate — last-write-wins
                # resolves them at compact()).
                bases = self._shard_bases(index_dir, shards)
                ord_cap = int(c.extra.get("ordinal_broadcast_max_rows", DRIVER_MAX_ROWS))
                # row count first (metadata-only for unfiltered parquet scans) so
                # the above-cap path never computes, persists, or discards the map
                n_rows = base.count()
                if n_rows <= ord_cap:
                    from pyspark import StorageLevel

                    ordmap = self._with_ordinals(base.select("docid", "shard"), bases).select(
                        "docid", "ordinal"
                    ).persist(StorageLevel.MEMORY_AND_DISK)
                    # one agg materializes the cache AND detects duplicate docids
                    stats_row = ordmap.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.count_distinct(F.col("docid")).alias("nd"),
                    ).collect()[0]
                    if int(stats_row["n"]) == int(stats_row["nd"]):
                        base = base.join(F.broadcast(ordmap), "docid")
                    else:  # duplicate docids in this batch — window path
                        ordmap.unpersist(blocking=False)
                        ordmap = None
                        base = self._with_ordinals(base, bases)
                else:  # payload window path: ordinals recomputed per action
                    base = self._with_ordinals(base, bases)
                base = base.withColumn(
                    "sha256", F.sha2(F.coalesce(F.col(c.text_fields[0]).cast("string"), F.lit("")), 256)
                )
                # Lineage metrics ride the write jobs via Observation (computed
                # inside the same action — zero extra jobs, no persist of the
                # tokenized frame: recompute beats caching 30M-token arrays, and
                # at 100 TB caching them is not an option at all).
                from pyspark.sql import Observation

                per_shard = len(shards) <= 64  # per-shard metric exprs; totals beyond
                groups = shards if per_shard else [-1]

                def shard_pred(s):
                    return F.lit(True) if s == -1 else (F.col("shard") == s)

                # ---------- docs job: row store only, ZERO tokenization ----------
                # The docs table stores docid/ordinal/shard/sha + stored fields;
                # norms live in the postings rows (the only place scoring reads
                # them), so the expensive analyze pass runs exactly ONCE — in the
                # postings job below — instead of once per output table.
                self._mark("prelude", t0)
                obs_docs = Observation()
                doc_exprs = [
                    F.sum(F.when(shard_pred(s), 1).otherwise(0)).alias(f"rows__{s}") for s in groups
                ]
                docs_out = base.select("docid", "ordinal", "shard", "sha256", *stored).observe(
                    obs_docs, *doc_exprs
                )
                # flat write (no partitionBy): hive-partitioning by shard would
                # explode into tasks×shards files. On the broadcast-ordinal path
                # rows stay in input order (no exchange at all — the win); shard
                # row-group stats are loose until a merge() re-clusters, which the
                # rare compact/swap paths tolerate. On the payload-window fallback
                # rows arrive sorted by (shard, bucket, docid) as before. Docs
                # access paths are docid joins + shard column filters, neither
                # needs directory pruning.
                # the docs and postings writes are INDEPENDENT actions over the
                # same inputs — run the docs write on a driver thread so the
                # postings job's tasks back-fill as the docs tail drains (guide
                # §2.6: overlap independent jobs; job descriptions/groups are
                # thread-local so each stays labeled). The join happens right
                # before the lineage rows, which need both Observations.
                from pyspark import inheritable_thread_target

                t_ph = time.time()

                def _write_docs():
                    self.spark.sparkContext.setJobDescription("index-build: docs row store")
                    docs_out.write.mode("append").parquet(os.path.join(index_dir, "docs"))

                from concurrent.futures import ThreadPoolExecutor

                pool = ThreadPoolExecutor(max_workers=1)
                docs_future = pool.submit(inheritable_thread_target(_write_docs))

                try:
                    out, obs_len, obs_post = self._postings_plan(
                        df, base, index_dir, shards, groups, shard_pred
                    )
                    self.spark.sparkContext.setJobDescription("index-build: postings")
                    # snappy for the numeric-heavy postings rows: A/B at 8.9M rows
                    # (bench_extra r6) — write 7.8->5.5-6.2 s, scan-back 1.3->0.8 s,
                    # +12% bytes vs zstd; the text-heavy docs table stays on the
                    # session codec (zstd), where ratio matters more than encode
                    # speed. (lz4 was fastest but Spark's Hadoop-framed lz4 is
                    # unreadable by pyarrow, and lz4_raw does not round-trip
                    # through Spark's own reader without native hadoop libs.)
                    out.write.mode("append").option("compression", "snappy").parquet(
                        os.path.join(index_dir, "postings")
                    )
                    t_ph = self._mark("postings_write", t_ph)
                finally:
                    # joined on EVERY exit path, so a failed build never leaves
                    # the docs write running behind the caller's back
                    try:
                        docs_future.result()  # surface docs-write failures here
                    finally:
                        pool.shutdown()
                t_ph = self._mark("docs_join", t_ph)
                dvals, lvals = obs_docs.get, obs_len.get
                if obs_post is not None:
                    pvals = obs_post.get
                else:  # count from the files the write just made — the dir held
                    # nothing before a full build, so the dir count IS the batch
                    src = self.spark.read.parquet(os.path.join(index_dir, "postings"))
                    pc = {
                        (int(r["shard"]), r["field"]): int(r["cnt"])
                        for r in src.groupBy("shard", "field")
                        .agg(F.count(F.lit(1)).alias("cnt"))
                        .collect()
                    }
                    pvals = {
                        f"post__{s}__{f}": sum(
                            v for (ps, pf), v in pc.items() if pf == f and (s == -1 or ps == s)
                        )
                        for s in groups
                        for f in c.text_fields
                    }
                wall_ms = int((time.time() - t0) * 1000)
                rows = []
                for s in shards:
                    g = s if per_shard else -1
                    for f in c.text_fields:
                        rows.append(
                            {
                                "shard": s,
                                "field": f,
                                "rows_in": int(dvals[f"rows__{g}"]) if per_shard else None,
                                "docs_with_field": int(lvals[f"docs__{g}__{f}"]) if per_shard else None,
                                "sum_dl": int(lvals[f"dl__{g}__{f}"]) if per_shard else None,
                                "postings_out": int(pvals[f"post__{g}__{f}"]) if per_shard else None,
                                "wall_ms": wall_ms,
                                "status": "committed",
                                "tokenizer": TOKENIZER_VERSION,
                            }
                        )
                if not per_shard:
                    # totals-only summary row carries the field-level metrics
                    for f in c.text_fields:
                        rows.append(
                            {
                                "shard": -1,
                                "field": f,
                                "rows_in": int(dvals["rows__-1"]),
                                "docs_with_field": int(lvals[f"docs__-1__{f}"]),
                                "sum_dl": int(lvals[f"dl__-1__{f}"]),
                                "postings_out": int(pvals[f"post__-1__{f}"]),
                                "wall_ms": wall_ms,
                                "status": "summary",
                                "tokenizer": TOKENIZER_VERSION,
                            }
                        )
                t_ph = self._mark("postings_count", t_ph)
                lineage = self.spark.createDataFrame(
                    pd.DataFrame(rows),
                    schema=(
                        "shard int, field string, rows_in long, docs_with_field long, "
                        "sum_dl long, postings_out long, wall_ms long, status string, "
                        "tokenizer string"
                    ),
                )
                lineage.coalesce(1).write.mode("append").parquet(os.path.join(index_dir, "lineage"))
                self._mark("lineage_write", t_ph)
            finally:
                # the MEMORY_AND_DISK ordmap would otherwise pin executor
                # storage for the application lifetime
                if ordmap is not None:
                    ordmap.unpersist(blocking=False)

    def _postings_plan(self, df, base, index_dir, shards, groups, shard_pred):
        """The postings job's plan (no action runs here): tokenize once,
        explode, per-doc tf aggregate, sorted for the write. Returns
        (out, obs_len, obs_post)."""
        from pyspark.sql import Observation

        c = self.config
        # ---------- postings job: the single tokenize pass ----------
        docs = base
        field_types = dict(df.dtypes)
        for f in c.text_fields:
            tok = analyzer_col(c.analyzers.get(f, "standard"))
            if field_types.get(f, "").startswith("array"):
                # text[] (reference TextListFieldCodec.scala:89-92): each item
                # is an extra TextField instance sharing ONE norm — tokens
                # concatenate across items, doc length = sum over items; the
                # 32000-char analyzer cut applies per item, like Lucene's
                # per-field-instance truncation
                from nixiesearch_spark.analysis import UDF_ANALYZERS

                if c.analyzers.get(f, "standard") in UDF_ANALYZERS:
                    # pandas_udf analyzers can't run inside transform lambdas;
                    # space-join items first (space is a delimiter in every
                    # chain, so tokens are identical; the 32000 cut then
                    # applies to the joined string)
                    toks = tok(F.concat_ws(" ", F.col(f)))
                else:
                    # drop NULL items first: flatten over a NULL element
                    # returns NULL and would silently drop the whole field
                    toks = F.flatten(
                        F.transform(
                            F.filter(F.col(f), lambda x: x.isNotNull()),
                            lambda x: tok(x),
                        )
                    )
            else:
                toks = tok(F.col(f))
            docs = docs.withColumn(f"_toks_{f}", toks)
            # size(NULL) is -1 — clamp so null-field docs don't pollute sum_dl
            docs = docs.withColumn(
                f"doclen_{f}", F.greatest(F.size(F.col(f"_toks_{f}")), F.lit(0))
            )
            norm = (
                F.expr(_norm_expr(f"doclen_{f}")).cast("int")
                if c.quantize
                else F.col(f"doclen_{f}").cast("int")
            )
            docs = docs.withColumn(f"norm_{f}", norm)
        # doc-length field stats observe the tokenized frame BEFORE the
        # explode, inside the same postings action — every row flows through
        # the observe node even when it yields zero postings
        len_exprs = []
        for s in groups:
            for f in c.text_fields:
                p = shard_pred(s)
                len_exprs.append(
                    F.sum(F.when(p & (F.col(f"doclen_{f}") > 0), 1).otherwise(0)).alias(
                        f"docs__{s}__{f}"
                    )
                )
                len_exprs.append(
                    F.sum(F.when(p, F.col(f"doclen_{f}")).otherwise(0)).alias(
                        f"dl__{s}__{f}"
                    )
                )
        obs_len = Observation()
        docs = docs.observe(obs_len, *len_exprs)
        # per-doc tf via explode + groupBy with map-side partial aggregation
        # (guide §2.3). Two alternatives were measured and REJECTED in r6:
        # a run-length encode over array_sort with indexed HOF lambdas hit
        # the alias-inlining trap (array_sort re-evaluated per element — a
        # 50-doc build never finished), and the inlining-immune whole-array
        # zip_with form ran 4x slower than this shuffle (130 s vs 30 s at
        # 20k docs/local[4]: HOF lambdas evaluate interpreted, ~7k lambda
        # calls per 1000-token doc, while explode+hash-agg is codegen'd).
        posting_parts = [
            docs.select(
                "docid",
                "ordinal",
                "shard",
                F.lit(f).alias("field"),
                F.col(f"norm_{f}").alias("norm"),
                F.explode(F.col(f"_toks_{f}")).alias("term"),
            )
            for f in c.text_fields
        ]
        exploded = posting_parts[0]
        for p in posting_parts[1:]:
            exploded = exploded.unionByName(p)
        postings = exploded.groupBy(
            "shard", "field", "term", "docid", "ordinal", "norm"
        ).agg(F.count(F.lit(1)).cast("int").alias("tf"))
        # finalize's pack re-reads the written postings files: persisting
        # the rows for it instead measured slower at 20k docs/local[4]
        # (bench_extra r6, warm JVM: re-read 29.9-35.3 s total vs cache
        # 36.4 s — the MEMORY_AND_DISK serialization inside the postings
        # action costs more than the local re-read).
        full_build = (
            c.quantize
            and len(shards) == c.n_shards
            and not os.path.isdir(os.path.join(index_dir, "postings"))
        )
        # postings_out metric: an observe on the pre-agg exploded stream
        # costs ~20% of the whole postings job (measured r4: 47.4s → 39.7s
        # at 120k docs/14M tokens — 32 conditional sums ride every token
        # row), while a post-hoc count is one small aggregation job. Full
        # builds therefore count AFTER the write; append batches keep the
        # observe (the write is append-mode, so a post-hoc dir count would
        # include other batches' rows).
        obs_post = Observation() if not full_build else None
        # the groupBy already shuffled once; write straight out of the
        # aggregation partitions (sorted so parquet row-group min/max on
        # term stays tight for query-time skipping). Flat write: the agg
        # exchange mixes shards per task, so hive-partitioning by shard
        # would write tasks×shards files; queries filter postings by
        # (field, term), never by shard directory.
        out = postings
        if obs_post is not None:
            post_exprs = [
                F.sum(
                    F.when(shard_pred(s) & (F.col("field") == f), 1).otherwise(0)
                ).alias(f"post__{s}__{f}")
                for s in groups
                for f in c.text_fields
            ]
            out = out.observe(obs_post, *post_exprs)
        out = out.sortWithinPartitions("shard", "field", "term", "docid")
        return out, obs_len, obs_post

    def _tune_input_splits(self, base: DataFrame, parallelism: int) -> str | None:
        """Size input splits to the corpus so the CPU-bound tokenize stage
        gets ~3 tasks per core even when the input arrives as one big file
        (guide §2.2/§6.1: partitioning derived from input size, not a
        constant). Returns the maxPartitionBytes value the build should
        run under, or None when the input is not file-based / already
        splits finely enough."""
        try:
            files = base.inputFiles()
            total = 0
            for fp in files:
                p = fp[7:] if fp.startswith("file:") and fp[5:7] == "//" else fp
                p = p[5:] if p.startswith("file:") else p
                if os.path.isfile(p):
                    total += os.path.getsize(p)
            if not files or total <= 0:
                return None
            self._last_input_bytes = total  # reused for shuffle sizing
            want = max(total // max(parallelism * 3, 1), 4 * 1024 * 1024)
            prev = self.spark.conf.get("spark.sql.files.maxPartitionBytes")
            s = str(prev).strip().lower().rstrip("b")
            mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
            prev_bytes = (
                int(s[:-1]) * mult[s[-1]] if s and s[-1] in mult else int(s)
            )
            if want >= prev_bytes:
                return None  # input already splits at least this finely
            return str(int(want))
        except Exception:  # non-file sources, exotic conf — leave as-is
            return None

    def _with_ordinals(self, base: DataFrame, bases: dict) -> DataFrame:
        """Two-level dense per-shard ordinals without a per-shard global sort.

        A plain ``Window.partitionBy("shard")`` caps parallelism at n_shards
        and makes one task sort a whole shard (corpus/n_shards rows) — the
        100 TB scale hazard. Instead the docid space splits into R hash
        buckets: ordinal = prefix_offset(shard, bucket) + local rank within
        (shard, bucket). The exchange now has n_shards·R keys (full
        parallelism at any shard count) and each task sorts only its own
        slice. The bucket prefix offsets come from a tiny counts aggregation
        (n_shards·R rows) cumulated per shard and broadcast back — no driver
        collect, all one job.

        Ordinals stay a pure function of the data (docid → bucket → rank by
        docid), so the docs write and the later postings recompute assign
        identical ordinals regardless of input partitioning, and re-runs are
        deterministic (north rule). Appends stay collision-free via the
        per-shard lineage ``bases`` offset.
        """
        from pyspark.sql import Window

        R = int(self.config.extra.get("ordinal_buckets", 64))
        base_df = self.spark.createDataFrame(
            [(int(k), int(v)) for k, v in bases.items()], "shard int, _base long"
        )
        base = base.withColumn(
            "_hb", F.pmod(F.xxhash64(F.col("docid")), F.lit(R)).cast("int")
        )
        counts = base.groupBy("shard", "_hb").agg(F.count(F.lit(1)).alias("_c"))
        w_pre = (
            Window.partitionBy("shard").orderBy("_hb")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = counts.select(
            "shard", "_hb", F.coalesce(F.sum("_c").over(w_pre), F.lit(0)).alias("_off")
        )
        w_rank = Window.partitionBy("shard", "_hb").orderBy("docid")
        return (
            base.join(F.broadcast(offsets), ["shard", "_hb"], "left")
            .join(F.broadcast(base_df), "shard", "left")
            .withColumn(
                "ordinal",
                (
                    F.row_number().over(w_rank) - 1
                    + F.col("_off")
                    + F.coalesce(F.col("_base"), F.lit(0))
                ).cast("long"),
            )
            .drop("_hb", "_off", "_base")
        )

    def _committed_shards(self, index_dir: str) -> set:
        path = os.path.join(index_dir, "lineage")
        if not os.path.isdir(path):
            return set()
        try:
            rows = (
                self.spark.read.parquet(path)
                .where(F.col("status") == "committed")
                .select("shard")
                .distinct()
                .collect()
            )
            return {r["shard"] for r in rows}
        except Exception:
            return set()

    def _shard_bases(self, index_dir: str, shards: list[int]) -> dict:
        """Next free ordinal per shard = Σ committed rows_in over past
        batches (lineage has one row per (shard, field) per batch with the
        same rows_in — count one field only).

        At n_shards > 64 lineage rows carry rows_in=NULL (per-shard
        Observation exprs are capped; only a totals summary row is kept), so
        a sum would silently report 0 and a later append would restart
        ordinals at 0, colliding with committed ones. Any shard whose
        lineage has a NULL rows_in batch instead derives its base as
        max(ordinal)+1 from the docs table — partition-pruned to exactly
        those shard dirs, one long column read, correct at any shard count.
        """
        path = os.path.join(index_dir, "lineage")
        if not os.path.isdir(path):
            return {}
        f0 = self.config.text_fields[0]
        rows = (
            self.spark.read.parquet(path)
            .where(
                (F.col("status") == "committed")
                & F.col("shard").isin(shards)
                & (F.col("field") == f0)
            )
            .groupBy("shard")
            .agg(
                F.sum("rows_in").alias("base"),
                F.count(F.lit(1)).alias("nb"),
                F.count("rows_in").alias("nn"),
            )
            .collect()
        )
        bases, incomplete = {}, []
        for r in rows:
            if r["nn"] == r["nb"]:  # every batch recorded rows_in
                bases[int(r["shard"])] = int(r["base"] or 0)
            else:
                incomplete.append(int(r["shard"]))
        if incomplete:
            docs_path = os.path.join(index_dir, "docs")
            if os.path.isdir(docs_path):
                mrows = (
                    self.spark.read.parquet(docs_path)
                    .where(F.col("shard").isin(incomplete))
                    .groupBy("shard")
                    .agg((F.max("ordinal") + 1).alias("base"))
                    .collect()
                )
                for r in mrows:
                    bases[int(r["shard"])] = int(r["base"])
            for s in incomplete:  # committed batches that wrote 0 rows
                bases.setdefault(s, 0)
        return bases

    # ---------- finalize: stats + dictionary + packed ----------

    def finalize(self, index_dir: str, pack: bool = True) -> dict:
        """Refresh stats/dictionary (+ packed, unless ``pack=False``).

        Packing is INCREMENTAL when the postings dir has only grown since
        the last pack (_pack_or_repack): the packed table is partitioned by
        ordinal group ``og``, appends only touch the per-shard tail groups,
        and dynamic partition overwrite rewrites just those — per-batch
        finalize cost is O(batch), not O(index). ``pack=False`` still defers
        packing entirely (heaviest-streaming mode): the flat serving path is
        always fresh, and WAND refuses a stale packed table via the
        ``packed_seqnum`` guard instead of silently missing new docs."""
        c = self.config
        spark = self.spark
        t_ph = time.time()
        lin = spark.read.parquet(os.path.join(index_dir, "lineage"))
        rows = (
            lin.groupBy("field")
            .agg(F.sum("docs_with_field").alias("doc_count"), F.sum("sum_dl").alias("sum_ttf"))
            .collect()
        )
        fields = {}
        for r in rows:
            dc, ttf = int(r["doc_count"]), int(r["sum_ttf"])
            avgdl = (
                float(lucene.avg_field_length(ttf, dc)) if c.quantize else (ttf / dc if dc else 0.0)
            )
            fields[r["field"]] = {"doc_count": dc, "sum_ttf": ttf, "avgdl": avgdl}
        seqnum = int(time.time() * 1000)
        prev_stats_path = os.path.join(index_dir, "stats.json")
        prev_stats: dict = {}
        if os.path.exists(prev_stats_path):
            with open(prev_stats_path) as f:
                prev_stats = json.load(f)
        prev_packed = prev_stats.get("packed_seqnum")
        prev_pack_avgdl = prev_stats.get("pack_avgdl")
        do_pack = c.quantize and pack
        pack_avgdl, pack_mode, new_files = prev_pack_avgdl, "skip", None
        t_ph = self._mark("finalize_stats", t_ph)
        if do_pack:
            with self._session_overrides(job="index-build: pack"):
                pack_avgdl, pack_mode, new_files = self._pack_or_repack(index_dir, fields)
        t_ph = self._mark("pack", t_ph)
        stats = {
            "fields": fields,
            "analyzers": {f: c.analyzers.get(f, "standard") for f in c.text_fields},
            "quantize": c.quantize,
            "n_shards": c.n_shards,
            "block_size": c.block_size,
            "tokenizer": TOKENIZER_VERSION,
            "seqnum": seqnum,
            # seqnum the packed table was built at; < seqnum ⇒ WAND stale
            "packed_seqnum": seqnum if do_pack else prev_packed,
            # avgdl the packed max_impact bounds were computed at: WAND
            # scales bounds by max(1, avgdl_now / pack_avgdl) so incremental
            # packs stay sound under avgdl drift (query/wand.py)
            "pack_avgdl": pack_avgdl,
        }
        with self._session_overrides(job="index-build: dictionary"):
            self._refresh_dictionary(index_dir, pack_mode, new_files)
        self._mark("dictionary", t_ph)
        with open(os.path.join(index_dir, "stats.json"), "w") as f:
            json.dump(stats, f, indent=2)
        return stats

    def _refresh_dictionary(self, index_dir: str, pack_mode: str, new_files) -> None:
        """term → (df, cf) table. Full modes aggregate packed block rows
        (~postings/block_size rows) or flat postings; the incremental mode
        folds only the NEW postings files' per-term deltas into the existing
        dictionary — an O(vocab + batch) outer join instead of an O(index)
        rescan (postings are append-only between compactions, so deltas are
        strictly additive). "noop" = nothing changed since last finalize."""
        if pack_mode == "noop":
            return
        c, spark = self.config, self.spark
        dpath = os.path.join(index_dir, "dictionary")
        if pack_mode == "incremental":
            delta = (
                spark.read.parquet(*new_files)
                .groupBy("field", "term")
                .agg(F.count(F.lit(1)).alias("df_d"), F.sum("tf").alias("cf_d"))
            )
            old = spark.read.parquet(dpath)
            dict_src = (
                old.join(delta, ["field", "term"], "full_outer")
                .select(
                    "field",
                    "term",
                    (F.coalesce("df", F.lit(0)) + F.coalesce("df_d", F.lit(0))).alias("df"),
                    (F.coalesce("cf", F.lit(0)) + F.coalesce("cf_d", F.lit(0))).alias("cf"),
                )
            )
            tmp = dpath + ".updating"
            (
                dict_src.repartitionByRange(max(c.n_shards // 4, 1), "term")
                .sortWithinPartitions("field", "term")
                .write.mode("overwrite")
                .parquet(tmp)
            )
            import shutil

            shutil.rmtree(dpath)
            os.rename(tmp, dpath)
            return
        if pack_mode == "full":
            dict_src = (
                spark.read.parquet(os.path.join(index_dir, "packed"))
                .groupBy("field", "term")
                .agg(F.sum("n").alias("df"), F.sum("tf_sum").alias("cf"))
            )
        else:  # skip (pack=False / non-quantized): flat postings rescan
            dict_src = (
                spark.read.parquet(os.path.join(index_dir, "postings"))
                .groupBy("field", "term")
                .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
            )
        (
            dict_src.repartitionByRange(max(c.n_shards // 4, 1), "term")
            .sortWithinPartitions("field", "term")
            .write.mode("overwrite")
            .parquet(dpath)
        )

    # ---------- incremental pack bookkeeping ----------

    def _postings_files(self, index_dir: str) -> list[str]:
        import glob as _glob

        root = os.path.join(index_dir, "postings")
        return sorted(
            os.path.relpath(f, root)
            for f in _glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        )

    def _pack_or_repack(self, index_dir: str, fields: dict):
        """Pack the postings table, incrementally when possible.

        ``packed_manifest.json`` records which postings files the current
        packed table incorporates plus the avgdl the impact bounds were
        computed at. If the manifest's files are a subset of the current
        listing (append-only since last pack), only the ordinal groups (og)
        touched by the NEW files are re-packed — dynamic partition overwrite
        rewrites just those og partitions, so a streaming finalize costs
        O(batch), not O(index) (the reference's policy-driven partial merges,
        ``config/mapping/MergePolicyConfig.scala:19-124``). Bounds for
        re-packed groups use the MANIFEST avgdl so the whole table stays
        internally consistent; merge()/compact() rewrite postings files,
        which voids the subset check and forces the full re-pack that
        refreshes pack_avgdl.

        Returns (pack_avgdl_by_field, mode, new_file_paths) with mode one of
        "full" | "incremental" | "noop".
        """
        man_path = os.path.join(index_dir, "packed_manifest.json")
        proot = os.path.join(index_dir, "postings")
        cur = self._postings_files(index_dir)
        span = self.config.block_size * int(self.config.extra.get("pack_group_blocks", 256))
        cur_avgdl = {f: s["avgdl"] for f, s in fields.items()}
        manifest = None
        if os.path.exists(man_path) and os.path.isdir(os.path.join(index_dir, "packed")):
            with open(man_path) as f:
                manifest = json.load(f)
        if (
            manifest
            and manifest.get("group_span") == span
            and set(manifest["files"]) <= set(cur)
            and all(f in manifest.get("pack_avgdl", {}) for f in cur_avgdl)
        ):
            new_rel = sorted(set(cur) - set(manifest["files"]))
            pack_avgdl = manifest["pack_avgdl"]
            if not new_rel:
                return pack_avgdl, "noop", None
            if len(new_rel) <= max(2, len(cur) // 2):
                new_abs = [os.path.join(proot, f) for f in new_rel]
                self._pack(index_dir, pack_avgdl, span, new_files=new_abs)
                manifest["files"] = cur
                with open(man_path, "w") as f:
                    json.dump(manifest, f)
                return pack_avgdl, "incremental", new_abs
        self._pack(index_dir, cur_avgdl, span)
        with open(man_path, "w") as f:
            json.dump({"files": cur, "pack_avgdl": cur_avgdl, "group_span": span}, f)
        return cur_avgdl, "full", None

    def _pack(
        self,
        index_dir: str,
        avgdl_by_field: dict,
        span: int,
        new_files: list | None = None,
    ) -> None:
        """Flat postings → VByte blocks with block-max impact (WAND path).

        Shape matters at scale: the per-(shard, field, term, og) posting
        groups arrive as FLAT rows from one repartition + within-partition
        sort — a sort-based exchange, measured 3-4x faster than the former
        ``collect_list`` ObjectHashAggregate at 8.9M postings (bench_extra
        r6), and it spills gracefully instead of building per-group arrays
        in agg memory. mapInPandas walks the sorted stream, carrying the
        trailing (possibly batch-straddling) group between Arrow batches,
        and VByte-encodes whole batches with bulk numpy. Quantized-only:
        the norm byte is what WAND decodes.

        Giant-term guard: a stopword's postings in one shard are
        O(shard_docs). The shuffle key therefore includes the ordinal-range
        sub-group ``og = floor(ordinal / (block_size*K))``, bounding every
        key (and the kernel's carry buffer) to block_size*K postings.
        Sub-groups pack independently into the same block format (block
        boundaries are range-local; WAND treats blocks as independent
        docid-range intervals, so split points don't change results).
        """
        block_size = self.config.block_size
        group_span = span
        caches = {
            f: lucene.norm_cache(np.float32(a)) for f, a in avgdl_by_field.items()
        }

        def _group_starts(rb) -> np.ndarray:
            """Row indices where a new (shard, og, field, term) group
            begins, via Arrow vectorized neighbor comparison — the string
            columns never materialize as Python objects."""
            import pyarrow.compute as pc

            n = rb.num_rows
            if n == 1:
                return np.array([0], dtype=np.int64)
            cols = {nm: rb.column(i) for i, nm in enumerate(rb.schema.names)}

            def neq(a):
                return pc.not_equal(a.slice(1), a.slice(0, n - 1))

            ch = pc.or_(
                pc.or_(neq(cols["shard"]), neq(cols["og"])),
                pc.or_(neq(cols["field"]), neq(cols["term"])),
            ).to_numpy(zero_copy_only=False)
            newgrp = np.empty(n, dtype=bool)
            newgrp[0] = True
            newgrp[1:] = ch
            return np.flatnonzero(newgrp)

        def encode_region(rb, gstart: np.ndarray):
            """VByte-encode an Arrow batch of complete, sorted groups into
            one PACKED_SCHEMA batch. Binary columns are built zero-copy
            from (offsets, value-buffer) pairs — no per-block Python."""
            import pyarrow as pa
            import pyarrow.compute as pc

            n = rb.num_rows
            cols = {nm: rb.column(i) for i, nm in enumerate(rb.schema.names)}
            docids = cols["ordinal"].to_numpy()
            tfs = cols["tf"].to_numpy().astype(np.int64)
            norms = cols["norm"].to_numpy().astype(np.int64)
            glen = np.diff(np.append(gstart, n))
            pos_in_grp = np.arange(n) - np.repeat(gstart, glen)
            bstart = np.flatnonzero(pos_in_grp % block_size == 0)
            bend = np.append(bstart[1:], n)
            impact = np.empty(n, dtype=np.float32)
            for fld in pc.unique(cols["field"]).to_pylist():
                m = pc.equal(cols["field"], fld).to_numpy(zero_copy_only=False)
                impact[m] = lucene.bm25_contrib(
                    np.float32(1.0), tfs[m].astype(np.float32), norms[m], caches[fld]
                )
            gaps = np.empty(n, dtype=np.int64)
            gaps[0] = 0
            gaps[1:] = docids[1:] - docids[:-1]
            gaps[bstart] = codec.zigzag_encode(docids[bstart])
            enc_g, len_g = codec.vbyte_encode_with_lengths(gaps)
            enc_t, len_t = codec.vbyte_encode_with_lengths(tfs - 1)
            off_g = np.concatenate([[0], np.cumsum(len_g)])
            off_t = np.concatenate([[0], np.cumsum(len_t)])
            bounds = np.append(bstart, n)
            nb = len(bstart)

            def binary_col(values: np.ndarray, offsets: np.ndarray):
                return pa.Array.from_buffers(
                    pa.binary(),
                    nb,
                    [None, pa.py_buffer(offsets.astype(np.int32)),
                     pa.py_buffer(np.ascontiguousarray(values))],
                )

            bmax = np.maximum.reduceat(impact.astype(np.float64), bstart)
            btf = np.add.reduceat(tfs, bstart)
            idx = pa.array(bstart, type=pa.int64())
            return pa.RecordBatch.from_arrays(
                [
                    pc.take(cols["shard"], idx),
                    pc.take(cols["field"], idx),
                    pc.take(cols["term"], idx),
                    pa.array(docids[bstart], type=pa.int64()),
                    pa.array(docids[bend - 1], type=pa.int64()),
                    pa.array((bend - bstart).astype(np.int32)),
                    binary_col(np.frombuffer(enc_g, dtype=np.uint8), off_g[bounds]),
                    binary_col(np.frombuffer(enc_t, dtype=np.uint8), off_t[bounds]),
                    binary_col(norms.astype(np.uint8), bounds),
                    pa.array(np.float32(bmax)),
                    pa.array(btf, type=pa.int64()),
                    pc.take(cols["og"], idx),
                ],
                names=[
                    "shard", "field", "term", "block_id", "block_last", "n",
                    "doc_gaps", "tfs", "norms", "max_impact", "tf_sum", "og",
                ],
            )

        def pack_batches(batches):
            import pyarrow as pa

            carry = None
            for rb in batches:
                if carry is not None:
                    rb = (
                        pa.Table.from_batches([carry, rb])
                        .combine_chunks()
                        .to_batches()[0]
                    )
                    carry = None
                if rb.num_rows == 0:
                    continue
                gstart = _group_starts(rb)
                last = int(gstart[-1])
                if last == 0:
                    carry = rb  # whole batch is one group — keep growing
                    continue
                # hold back the trailing group — it may continue in the
                # next batch (carry is bounded by the og sub-group span)
                carry = rb.slice(last)
                yield encode_region(rb.slice(0, last), gstart[:-1])
            if carry is not None and carry.num_rows:
                yield encode_region(carry, _group_starts(carry))

        postings = self.spark.read.parquet(os.path.join(index_dir, "postings"))
        if new_files is not None:
            # incremental: only ordinal groups touched by the new files need
            # re-encoding — appends land ABOVE each shard's committed ordinal
            # base, so this is the per-shard tail, O(batch) groups total
            changed = [
                int(r[0])
                for r in self.spark.read.parquet(*new_files)
                .select(F.floor(F.col("ordinal") / F.lit(group_span)).cast("int"))
                .distinct()
                .collect()
            ]
            # the og test is a computed column (no pushdown); the ordinal
            # range bound IS pushable, so parquet row-group min/max prunes
            # everything below the lowest changed group before the exact
            # og-membership filter runs
            lo = min(changed) * group_span if changed else 0
            postings = postings.where(
                (F.col("ordinal") >= F.lit(lo))
                & F.floor(F.col("ordinal") / F.lit(group_span)).cast("int").isin(changed)
            )
        # one sort-based exchange keyed by the full group key (og included:
        # a shard's stopword postings split across og sub-groups, so no
        # single reduce key exceeds the span — the skew guard); the
        # within-partition sort hands the kernel contiguous, ordered groups
        # explicit partition count: AQE's 64MB advisory coalesces this
        # shuffle to a handful of partitions and underparallelizes the
        # Python encode stage (measured: pack took LONGER at 16 cores than
        # at 4). Derive the count from the input's own size when it is a
        # parquet read (≈64MB of on-disk rows per task), floored at 3
        # tasks per core — scale-adaptive, not a constant.
        parallelism = self.spark.sparkContext.defaultParallelism
        nparts = parallelism * 3
        if new_files is not None:
            # incremental re-pack: size from the NEW files only — the og
            # filter keeps the shuffle O(batch), and sizing from the whole
            # dir would schedule O(index) mostly-empty tasks per streaming
            # batch (violating the documented per-batch cost contract)
            nbytes = sum(os.path.getsize(f) for f in new_files if os.path.isfile(f))
            nparts = max(min(nparts, int(nbytes // (64 * 1024 * 1024)) + parallelism), 1)
        else:
            import glob as _glob

            nbytes = sum(
                os.path.getsize(f)
                for f in _glob.glob(
                    os.path.join(index_dir, "postings", "**", "*.parquet"),
                    recursive=True,
                )
            )
            nparts = max(nparts, int(nbytes // (64 * 1024 * 1024)) + 1)
        # the read stage feeding the exchange needs splits too: the
        # postings files (~35 MB each) otherwise bin-pack into a handful
        # of 128 MB scan tasks and serialize the map side at high core
        # counts — same size-derived split rule as the build's input scan.
        # Bigger Arrow batches for the narrow posting rows (guide §4.2):
        # fewer kernel invocations and fewer carry splices. Both hold for
        # the write only, so pandas-UDF analyzers keep the session default
        confs = {"spark.sql.execution.arrow.maxRecordsPerBatch": "65536"}
        if new_files is None and nbytes > 0:
            want = max(nbytes // max(parallelism * 3, 1), 4 * 1024 * 1024)
            confs["spark.sql.files.maxPartitionBytes"] = str(int(want))
        arranged = (
            postings.withColumn(
                "og", F.floor(F.col("ordinal") / F.lit(group_span)).cast("int")
            )
            .select("shard", "field", "term", "og", "ordinal", "tf", "norm")
            .repartition(nparts, "shard", "field", "term", "og")
            .sortWithinPartitions("shard", "field", "term", "og", "ordinal")
        )
        packed = arranged.mapInArrow(pack_batches, schema=PACKED_SCHEMA)
        # og leads the pre-write sort: the dynamic-partitioned write
        # requires rows clustered by its partition column and would insert
        # its OWN (term-order-destroying) sort otherwise — leading with og
        # satisfies that requirement, so one sort serves both the writer
        # and the term row-group clustering WAND's reads prune on
        writer = (
            packed.sortWithinPartitions("og", "shard", "field", "term", "block_id")
            .write.mode("overwrite")
            .partitionBy("og")
        )
        if new_files is not None:
            # overwrite ONLY the og partitions present in this write; every
            # other og dir's files are untouched on disk
            writer = writer.option("partitionOverwriteMode", "dynamic")
        with self._session_overrides(confs):
            # same snappy-for-numeric-tables trade as the postings write; the
            # packed table is also the WAND serving path's hot pyarrow read
            writer.option("compression", "snappy").parquet(
                os.path.join(index_dir, "packed")
            )

    # ---------- merge / compaction ----------

    def merge(self, index_dir: str) -> None:
        """Compaction analog of the reference's forceMerge
        (``index/Indexer.scala:148-164``): rewrite flat postings AND docs
        into shard-clustered sorted files and re-pack. Run after incremental
        appends accumulate small files. The shard-pure file layout is what
        lets a later IncrementalIndexer.compact() replace only touched
        shards' files."""
        import shutil

        spark = self.spark
        sorts = {
            "postings": ("shard", "field", "term", "docid"),
            "docs": ("shard", "docid"),
        }
        for tbl, keys in sorts.items():
            p = os.path.join(index_dir, tbl)
            tmp = p + ".merging"
            # mergeSchema: the rewrite must keep every column of every
            # batch (see IndexReader.docs)
            df = spark.read.option("mergeSchema", "true").parquet(p)
            (
                df.repartition(self.config.n_shards, "shard")
                .sortWithinPartitions(*keys)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            shutil.rmtree(p)
            os.rename(tmp, p)
        self.finalize(index_dir)


class IndexReader:
    """Open an index directory; caches stats + lazily loaded DataFrames."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "stats.json")) as f:
            self.stats = json.load(f)
        self._postings = None
        self._docs = None
        self._packed = None
        self._dictionary = None

    @property
    def quantize(self) -> bool:
        return bool(self.stats.get("quantize", True))

    def field_stats(self, field: str) -> dict:
        return self.stats["fields"][field]

    @property
    def doc_count(self) -> int:
        """Docs in the index as the driver size bounds count them: the
        largest per-field doc count in stats.json."""
        fields = self.stats.get("fields", {}).values()
        return max((f.get("doc_count", 0) for f in fields), default=0)

    def field_analyzer(self, field: str) -> str:
        return self.stats.get("analyzers", {}).get(field, "standard")

    def size_on_disk(self) -> int:
        """Total index bytes on disk (driver-side walk, no Spark jobs) —
        shared by index_stats() and metrics.export_prometheus."""
        import glob

        return sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(self.index_dir, "**", "*"), recursive=True)
            if os.path.isfile(f)
        )

    def index_stats(self) -> dict:
        """Index statistics (reference GET /v1/index/{i}/stats,
        ``api/StatsRoute.scala`` / ``index/IndexStats.scala``): doc counts,
        per-field term stats, segment(=shard) layout, size on disk."""
        size = self.size_on_disk()
        lin = self.spark.read.parquet(os.path.join(self.index_dir, "lineage"))
        shards = lin.where(F.col("status") == "committed").select("shard").distinct().count()
        return {
            "fields": self.stats["fields"],
            "analyzers": self.stats.get("analyzers", {}),
            "n_shards": self.stats["n_shards"],
            "committed_shards": shards,
            "seqnum": self.stats["seqnum"],
            "size_bytes": size,
        }

    @property
    def postings(self) -> DataFrame:
        if self._postings is None:
            self._postings = self.spark.read.parquet(os.path.join(self.index_dir, "postings"))
        return self._postings

    @property
    def docs(self) -> DataFrame:
        if self._docs is None:
            # mergeSchema: a pushed batch may lack a stored column (and
            # carries seqnum, which full-build files lack); single-footer
            # schema inference would hide such a column for the whole
            # index. Inference runs one Spark job either way.
            self._docs = self.spark.read.option("mergeSchema", "true").parquet(
                os.path.join(self.index_dir, "docs")
            )
        return self._docs

    @property
    def packed(self) -> DataFrame:
        if self._packed is None:
            self._packed = self.spark.read.parquet(os.path.join(self.index_dir, "packed"))
        return self._packed

    @property
    def tombstones(self):
        """Deleted docids awaiting compaction (DELETE /doc/{id} analog,
        reference ``api/IndexModifyRoute.scala:21-35``); None if none."""
        path = os.path.join(self.index_dir, "tombstones")
        if not os.path.isdir(path):
            return None
        return self.spark.read.parquet(path)

    @property
    def dictionary(self) -> DataFrame:
        if self._dictionary is None:
            self._dictionary = self.spark.read.parquet(
                os.path.join(self.index_dir, "dictionary")
            )
        return self._dictionary

    @property
    def ordinal_map(self) -> DataFrame:
        """Slim (shard, ordinal, docid) mapping for packed-path results."""
        if getattr(self, "_ordmap", None) is None:
            self._ordmap = self.docs.select("shard", "ordinal", "docid")
        return self._ordmap

    # ---------- search-head local reads (zero Spark jobs) ----------
    #
    # The serving floor on a warm index is Catalyst plan compile, not
    # execution (BENCH.md r3: ~85% of a fresh query). Point lookups into the
    # packed/dictionary tables don't need a distributed plan at all — the
    # search head reads the parquet files directly with pyarrow, exactly the
    # way the reference's searcher reads its own Lucene segment files
    # (index/Searcher.scala:115-274 operates on an open IndexReader, not a
    # cluster job). Dictionary files are sorted by term, so parquet
    # row-group min/max stats prune the term_stats read; every packed file
    # is ONE row group holding all its terms, so fetch_packed's read prunes
    # nothing and filters the whole packed table. Falls back to the Spark
    # path automatically when the index is not on a local filesystem (a real
    # deployment can mount object storage or keep head-local replicas — the
    # same deal Lucene makes with its directory abstraction).

    def _local_dataset(self, table: str):
        if not hasattr(self, "_pa_ds"):
            self._pa_ds: dict = {}
        if table not in self._pa_ds:
            path = os.path.join(self.index_dir, table)
            ds = None
            if os.path.isdir(path):
                try:
                    import pyarrow.dataset as pads

                    ds = pads.dataset(path, format="parquet", partitioning="hive")
                except Exception:  # non-local fs / arrow quirk → Spark path
                    ds = None
            self._pa_ds[table] = ds
        return self._pa_ds[table]

    PACKED_FETCH_COLS = (
        "shard", "term", "block_id", "block_last",
        "doc_gaps", "tfs", "norms", "max_impact",
    )

    def fetch_packed(self, field: str, terms: list[str]):
        """The query's matched packed blocks as a pyarrow Table — pyarrow
        local read (no Spark job) when possible, else one Spark toPandas."""
        import pyarrow as pa

        ds = self._local_dataset("packed")
        if ds is not None:
            import pyarrow.dataset as pads

            flt = (pads.field("field") == field) & pads.field("term").isin(list(terms))
            return ds.to_table(columns=list(self.PACKED_FETCH_COLS), filter=flt)
        pdf = (
            self.packed.where((F.col("field") == field) & F.col("term").isin(list(terms)))
            .select(*self.PACKED_FETCH_COLS)
            .toPandas()
        )
        return pa.Table.from_pandas(pdf, preserve_index=False)

    def ordinal_lookup(self, keys: np.ndarray) -> np.ndarray | None:
        """Resolve segmented keys ``(shard << KEY_SHIFT) | ordinal`` → docid
        driver-side, zero Spark jobs after a one-time pull (search-head WAND
        path, query/wand.py). Returns docids aligned with ``keys``.

        The map is two sorted numpy arrays (composite key, docid) — ~16 B
        per doc, lazily built once per reader. Above DRIVER_MAX_ORDINAL_ROWS
        (50M) docs the pull is refused (returns None) and the caller falls back to the pushed
        point-lookup SQL path; on a real deployment that threshold is the
        search head's memory budget, the same trade Lucene makes keeping
        its docid maps segment-local."""
        if getattr(self, "_ordlut", None) is None:
            if self.doc_count > DRIVER_MAX_ORDINAL_ROWS:
                self._ordlut = False
            else:
                pdf = self.ordinal_map.toPandas()
                lut_keys = (
                    pdf["shard"].to_numpy(np.int64) << np.int64(KEY_SHIFT)
                ) | pdf["ordinal"].to_numpy(np.int64)
                order = np.argsort(lut_keys)
                self._ordlut = (lut_keys[order], pdf["docid"].to_numpy(np.int64)[order])
        if self._ordlut is False:
            return None
        lut_keys, docids = self._ordlut
        keys = np.asarray(keys, dtype=np.int64)
        if not len(keys):
            return np.empty(0, dtype=np.int64)
        pos = np.minimum(np.searchsorted(lut_keys, keys), max(len(lut_keys) - 1, 0))
        if not len(lut_keys) or not np.array_equal(lut_keys[pos], keys):
            raise KeyError("packed ordinals missing from the ordinal map")
        return docids[pos]

    def field_lut(self, field: str):
        """docid → stored-field value arrays for driver-side facet/sort
        serving: a pyarrow local read of just (docid, field) from the docs
        table, sorted by docid, memoized per field. Returns
        (docids int64 ndarray, values pandas Series aligned) or None when
        the docs dir isn't locally readable or the corpus exceeds
        DRIVER_MAX_ROWS docs (the search-head memory trade — callers fall
        back to the cluster plan, same deal as ordinal_lookup's
        DRIVER_MAX_ORDINAL_ROWS bound; the value column is wider than an
        8-byte docid, hence the smaller cap)."""
        if getattr(self, "_flut", None) is None:
            self._flut = {}
        if field not in self._flut:
            lut = None
            ds = self._local_dataset("docs") if self.doc_count <= DRIVER_MAX_ROWS else None
            if ds is not None:
                try:
                    import numpy as np

                    tbl = ds.to_table(columns=["docid", field])
                    pdf = tbl.to_pandas()
                    order = np.argsort(pdf["docid"].to_numpy(np.int64), kind="stable")
                    pdf = pdf.iloc[order].reset_index(drop=True)
                    lut = (pdf["docid"].to_numpy(np.int64), pdf[field])
                except Exception:
                    lut = None
            self._flut[field] = lut
        return self._flut[field]

    def persist_hot(self):
        """Pin serving tables in memory (warm-searcher mode for latency
        benchmarks — the analog of the reference's always-open reader)."""
        self.postings.persist()
        self.docs.persist()
        self.dictionary.persist()
        self._ordmap = self.docs.select("shard", "ordinal", "docid").persist()
        return self

    def term_stats(self, field: str, terms: list[str]) -> dict[str, tuple[int, float]]:
        """{term: (df, float32 weight)} for query terms — tiny driver lookup,
        the analog of Lucene's TermStates resolution. Memoized per reader
        (absent terms memoize as None so repeats skip the scan too)."""
        if not terms:
            return {}
        if not hasattr(self, "_term_memo"):
            self._term_memo = {}
        need = [t for t in set(terms) if (field, t) not in self._term_memo]
        if need:
            ds = self._local_dataset("dictionary")
            if ds is not None:
                # search-head read: row-group stats on the term-sorted files
                # prune to a few pages; zero Spark jobs, zero plan compiles
                import pyarrow.dataset as pads

                pdf = ds.to_table(
                    columns=["term", "df"],
                    filter=(pads.field("field") == field)
                    & pads.field("term").isin(need),
                ).to_pandas()
                pairs = list(zip(pdf["term"], pdf["df"]))
            else:
                pairs = [
                    (r["term"], r["df"])
                    for r in self.dictionary.where(
                        (F.col("field") == field) & F.col("term").isin(need)
                    ).collect()
                ]
            dc = self.field_stats(field)["doc_count"]
            found = {
                t: (int(df), float(lucene.term_weight(df, dc))) for t, df in pairs
            }
            for t in need:
                self._term_memo[(field, t)] = found.get(t)
        return {
            t: self._term_memo[(field, t)]
            for t in set(terms)
            if self._term_memo.get((field, t)) is not None
        }
