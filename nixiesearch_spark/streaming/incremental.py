"""Incremental index maintenance via Structured Streaming.

The reference's "streaming" is incremental index upkeep, not stream
analytics (SURVEY.md §2.11): a Kafka poll loop hands batches to the indexer
and commits offsets after indexing (at-least-once,
``source/KafkaSource.scala:29-49,158-177``), with periodic flush
(``config/mapping/IndexConfig.scala:35-44``) and upsert-by-id
(delete-then-add, ``index/Indexer.scala:97-99``).

Spark-native shape:
- any Structured Streaming source (file dir here; swap ``readStream.format
  ("kafka")`` + ``startingOffsets`` on a real deployment — the reference's
  offset-seek modes map 1:1 onto ``startingOffsets``/
  ``startingOffsetsByTimestamp``) feeds ``foreachBatch``;
- each micro-batch appends delta docs + postings tagged with ``seqnum`` =
  batch_id (exactly-once per batch via the streaming checkpoint — stronger
  than the reference's commitAsync);
- a REST push (``LocalBatch``) is built on the driver in zero Spark jobs
  (``index/driver_push.py``), the analog of the reference indexing a push
  in-process into its open IndexWriter; it writes the same tables;
- ``compact()`` is the flush/merge analog: shard-scoped last-write-wins
  upsert + physical tombstone removal — only files holding touched shards'
  rows are replaced, survivors keep their ordinals (no re-tokenize).
  Between compactions readers see appended deltas immediately (new Iceberg-
  snapshot-style visibility); a re-ingested _id surfaces twice until the
  next compaction — same at-least-once window the reference documents.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _create_converter, _make_type_verifier

from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig
from nixiesearch_spark.index.driver_push import DriverPush


@dataclass
class MergePolicy:
    """Auto-compaction trigger for incremental appends — the analog of the
    reference's merge policies (``config/mapping/MergePolicyConfig.scala:
    19-124``: No/LogByteSize/LogDoc/Tiered). Every append batch adds small
    postings files; unmerged they degrade query scans. ``tiered`` merges when
    the postings file count exceeds ``segments_per_tier`` × the post-merge
    baseline (merge() rewrites to ≈1 file per shard), mirroring Lucene's
    TieredMergePolicy size-ratio trigger at the file-count level where
    parquet layout decides scan cost. ``kind="none"`` = manual merge only."""

    kind: str = "tiered"  # "none" | "tiered"
    segments_per_tier: int = 4  # allowed file-count multiple of the baseline
    min_files: int = 8  # never trigger below this many files

    def should_merge(self, n_files: int, n_shards: int) -> bool:
        if self.kind == "none":
            return False
        return n_files >= max(self.min_files, self.segments_per_tier * n_shards)


@dataclass
class LocalBatch:
    """A batch held in the driver's memory, as the REST push source parses
    it: the documents, the schema they are indexed with, and their rows in
    the internal form ``spark.createDataFrame(docs, schema=schema)`` holds
    them. Build it with ``of``."""

    docs: list
    schema: StructType
    rows: list

    @classmethod
    def of(cls, docs: list, schema: StructType) -> "LocalBatch":
        """Validate ``docs`` against ``schema`` with the verifier, the
        converter and the internal form createDataFrame runs on a local
        list — in Python, no Spark job — so it rejects exactly the batches
        createDataFrame rejects, with the same errors."""
        verify, convert = _make_type_verifier(schema), _create_converter(schema)
        rows = []
        for d in docs:
            verify(d)
            rows.append(schema.toInternal(convert(d)))
        return cls(docs, schema, rows)


class IncrementalIndexer:
    """The write path of one index: batches appended by ``process_batch``
    (Spark or driver build, chosen per batch), deletes as tombstones,
    ``compact()`` for physical upserts, and the merge policy."""

    def __init__(
        self,
        spark: SparkSession,
        config: IndexConfig,
        index_dir: str,
        merge_policy: MergePolicy | None = None,
        pack_each_batch: bool = True,
    ):
        """``pack_each_batch=True`` (default) keeps the packed/WAND path
        fresh every batch at O(batch) cost — finalize re-packs only the
        ordinal-group partitions the batch touched (builder._pack_or_repack).
        ``pack_each_batch=False`` defers even that to the merge-policy
        compaction; the flat serving path stays fresh every batch and WAND
        refuses the stale packed table until the next merge."""
        self.spark = spark
        self.config = config
        self.index_dir = index_dir
        self.builder = IndexBuilder(spark, config)
        self.merge_policy = merge_policy or MergePolicy(kind="none")
        self.pack_each_batch = pack_each_batch
        # processed batches: "driver", or "spark:<reason>" with the reason
        # the driver path declined ("dataframe" for a DataFrame batch)
        self.pushes: Counter = Counter()

    # ---------- micro-batch sink ----------

    def _postings_file_count(self) -> int:
        return len(
            glob.glob(os.path.join(self.index_dir, "postings", "**", "*.parquet"),
                      recursive=True)
        )

    def process_batch(self, batch: DataFrame | LocalBatch, batch_id: int) -> None:
        """Append one batch — docs + postings delta with seqnum=batch_id —
        then refresh the derived tables (stats, dictionary, packed). A
        merge policy may then fold the accumulated small files
        (commit-then-compact, like the reference's flush + merge
        scheduling).

        ``batch`` is a DataFrame (the foreachBatch body) or a LocalBatch
        (a REST push). This is the one place the build path is chosen: a
        LocalBatch the driver can write bit for bit is built on the driver
        with pyarrow and numpy in zero Spark jobs (index/driver_push.py);
        every other batch, and each shape DriverPush.decline names, takes
        the Spark push. ``pushes`` counts batches by path and reason.
        """
        if isinstance(batch, LocalBatch):
            driver = DriverPush(self, batch, batch_id)
            reason = driver.decline()
            if reason is None:
                self.pushes["driver"] += 1
                driver.run()
                self._maybe_merge()
                return
            batch_df = self.spark.createDataFrame(batch.docs, schema=batch.schema)
        else:
            reason, batch_df = "dataframe", batch
            with self.builder._session_overrides(job="index-build: prelude"):
                if batch_df.isEmpty():
                    return
        self.pushes[f"spark:{reason}"] += 1
        # explicit long: a python-int lit under 2^31 becomes INT32, and one
        # index must never mix parquet physical types for one column
        tagged = batch_df.withColumn("seqnum", F.lit(int(batch_id)).cast("long"))
        self.builder._build_shards(tagged, self.index_dir, list(range(self.config.n_shards)))
        self.builder.finalize(self.index_dir, pack=self.pack_each_batch)
        self._maybe_merge()

    def _maybe_merge(self) -> None:
        if self.merge_policy.should_merge(self._postings_file_count(), self.config.n_shards):
            self.builder.merge(self.index_dir)  # merge() re-finalizes with pack

    def start_file_stream(self, input_dir: str, schema, checkpoint_dir: str):
        """availableNow file-source stream → foreachBatch index appends.
        Returns the StreamingQuery; call ``.awaitTermination()``."""
        stream = (
            self.spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(input_dir)
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def delete_ids(self, docids: list[int]) -> None:
        """Mark documents deleted (tombstones); they vanish from results
        immediately (Searcher anti-joins tombstones) and are physically
        removed at the next compact() — the delete-by-_id analog of
        reference ``index/Indexer.scala:97-99`` / IndexModifyRoute."""
        df = self.spark.createDataFrame([(int(d),) for d in docids], "docid long")
        df.coalesce(1).write.mode("append").parquet(
            os.path.join(self.index_dir, "tombstones")
        )

    # ---------- compaction / upsert ----------

    def _swap_rows_in_place(self, table: str, touched: list[int], new_rows) -> None:
        """Replace the rows of ``touched`` shards inside a flat parquet table
        without rewriting untouched files.

        Only the FILES that contain touched-shard rows (parquet row-group
        stats answer that with a pruned scan) are dropped; rows of untouched
        shards that happened to share those files are carried over verbatim.
        After a merge() the tables are shard-clustered, so the carried-over
        remainder is a few boundary rows and every untouched shard's file
        stays byte-identical on disk. The delete-then-move window is the
        single-writer visibility gap a real deployment closes with an
        Iceberg/snapshot commit (builder.finalize docstring)."""
        root = os.path.join(self.index_dir, table)
        full = self.spark.read.parquet(root)
        hit_files = [
            r[0].removeprefix("file:")
            for r in full.where(F.col("shard").isin(touched))
            .select(F.input_file_name())
            .distinct()
            .collect()
        ]
        out = new_rows
        if hit_files:
            preserved = self.spark.read.parquet(*hit_files).where(
                ~F.col("shard").isin(touched)
            )
            out = out.unionByName(preserved)
        tmp = root + ".compacting"
        shutil.rmtree(tmp, ignore_errors=True)
        # shard-pure output files keep FUTURE compacts surgical too
        (
            out.repartition(self.config.n_shards, "shard")
            .sortWithinPartitions("shard", "docid")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        for f in hit_files:
            os.remove(f)
        for f in glob.glob(os.path.join(tmp, "*.parquet")):
            shutil.move(f, os.path.join(root, "compact-" + os.path.basename(f)))
        shutil.rmtree(tmp, ignore_errors=True)

    def compact(self) -> None:
        """Shard-scoped physical delete/upsert (the flush/merge analog;
        reference ``index/Indexer.scala:97-99,148-164``).

        Only shards holding tombstoned or re-ingested docids are rewritten —
        and WITHOUT re-tokenizing: survivors keep their ordinals, so their
        postings rows are carried as-is and only the loser rows are dropped.
        Untouched shards' docs/postings files are not rewritten at all (byte
        -identical after a prior merge; see _swap_rows_in_place). NOTE: a
        full build's broadcast-ordinal path (r6) leaves docs files in input
        order, so every file spans all shards and a PRE-merge compact
        rewrites the whole docs table (correct, just O(index)); run merge()
        first when compacting a freshly built index matters for cost. Stats stay
        exact via negative lineage adjustment rows; their NULL ``rows_in``
        flips the touched shards' ordinal base to the max(ordinal)+1
        fallback (builder._shard_bases), so later appends never collide with
        the now-sparse ordinal space. finalize() then re-packs: the postings
        file set changed, so the manifest forces the full re-pack that also
        refreshes pack_avgdl."""
        import time

        from pyspark.sql import Window

        spark, idx = self.spark, self.index_dir
        # mergeSchema: full-build docs files lack seqnum while appended
        # batches carry it; single-footer schema inference may drop it and
        # last-write-wins would then order by ordinal alone
        docs = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(idx, "docs")
        )
        tomb_path = os.path.join(idx, "tombstones")
        tombs = spark.read.parquet(tomb_path) if os.path.isdir(tomb_path) else None
        touched = set()
        if tombs is not None:
            touched |= {
                int(r[0])
                for r in tombs.select(
                    F.pmod(F.col("docid"), F.lit(self.config.n_shards)).cast("int")
                )
                .distinct()
                .collect()
            }
        # re-ingested _ids: >1 live row for a docid (docid determines shard)
        touched |= {
            int(r[0])
            for r in docs.groupBy("docid")
            .agg(F.max("shard").alias("shard"), F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
            .select("shard")
            .distinct()
            .collect()
        }
        touched = sorted(touched)
        if not touched:
            return
        tdocs = docs.where(F.col("shard").isin(touched))
        if tombs is not None:
            tdocs = tdocs.join(tombs, "docid", "left_anti")
        seq = F.col("seqnum") if "seqnum" in docs.columns else F.lit(0)
        w = Window.partitionBy("docid").orderBy(F.desc(seq), F.desc("ordinal"))
        survivors = (
            tdocs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        keys = survivors.select("shard", "ordinal")
        post = spark.read.parquet(os.path.join(idx, "postings"))
        tpost = post.where(F.col("shard").isin(touched))
        kept_post = tpost.join(keys, ["shard", "ordinal"], "left_semi")
        removed = (
            tpost.join(keys, ["shard", "ordinal"], "left_anti")
            .groupBy("shard", "field")
            .agg(
                F.countDistinct("ordinal").alias("docs_rm"),
                F.sum("tf").alias("dl_rm"),
            )
            .collect()
        )
        # postings surgery BEFORE docs: both reference the docs frame lazily,
        # so materialize the semi-join before docs files start moving
        self._swap_rows_in_place("postings", touched, kept_post)
        self._swap_rows_in_place("docs", touched, survivors)
        if removed:
            from nixiesearch_spark.index.builder import LINEAGE_SCHEMA, TOKENIZER_VERSION

            wall = int(time.time() * 1000) % 1_000_000
            rows = [
                {
                    "shard": int(r["shard"]),
                    "field": r["field"],
                    "rows_in": None,  # forces the max(ordinal)+1 base fallback
                    "docs_with_field": -int(r["docs_rm"]),
                    "sum_dl": -int(r["dl_rm"]),
                    "postings_out": None,
                    "wall_ms": wall,
                    "status": "committed",
                    "tokenizer": TOKENIZER_VERSION,
                }
                for r in removed
            ]
            import pandas as pd

            adj = spark.createDataFrame(pd.DataFrame(rows), schema=LINEAGE_SCHEMA)
            adj.coalesce(1).write.mode("append").parquet(os.path.join(idx, "lineage"))
        if tombs is not None:
            shutil.rmtree(tomb_path, ignore_errors=True)
        self.builder.finalize(idx)
