"""Index-build invariants: skew distribution, merge compaction, idempotence."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from nixiesearch_spark.corpus import make_corpus
from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig, IndexReader
from nixiesearch_spark.query import MatchQuery, Searcher


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory, tiny_corpus_pd):
    d = str(tmp_path_factory.mktemp("idxb"))
    df = spark.createDataFrame(tiny_corpus_pd)
    cfg = IndexConfig(text_fields=("content",), n_shards=8)
    IndexBuilder(spark, cfg).build(df, d)
    return d, cfg


def test_high_df_terms_spread_across_shards(spark, built):
    """North-rule skew handling: a high-DF term's postings must be split
    across ALL shards (document sharding), never concentrated on one
    reducer. 'def' appears in ~every doc of the Zipf corpus."""
    d, cfg = built
    postings = spark.read.parquet(os.path.join(d, "postings"))
    per_shard = (
        postings.where(F.col("term") == "def").groupBy("shard").count().collect()
    )
    counts = {r["shard"]: r["count"] for r in per_shard}
    assert len(counts) == cfg.n_shards, "high-DF term must appear in every shard"
    mx, mn = max(counts.values()), min(counts.values())
    assert mx <= 3 * max(mn, 1), f"shard skew too high: {counts}"


def test_merge_compacts_files_and_preserves_results(spark, tmp_path):
    cfg = IndexConfig(text_fields=("content",), n_shards=4)
    d = str(tmp_path / "idx")
    pdf = make_corpus(120, seed=3)
    df = spark.createDataFrame(pdf)
    b = IndexBuilder(spark, cfg)
    # six appends (simulating incremental batches) → many small files
    os.makedirs(d)
    for lo in range(0, 120, 20):
        b._build_shards(spark.createDataFrame(pdf.iloc[lo:lo + 20]), d, list(range(4)))
    b.finalize(d)
    before = len(glob.glob(os.path.join(d, "postings", "**", "*.parquet"), recursive=True))
    s = Searcher(IndexReader(spark, d))
    q = MatchQuery("content", "def import")
    res_before = [(r["docid"], r["score"]) for r in s.search(q, size=20).collect()]
    b.merge(d)
    after = len(glob.glob(os.path.join(d, "postings", "**", "*.parquet"), recursive=True))
    assert after < before, f"merge must reduce file count ({before} -> {after})"
    s2 = Searcher(IndexReader(spark, d))
    res_after = [(r["docid"], r["score"]) for r in s2.search(q, size=20).collect()]
    assert res_before == res_after


def test_duplicate_docids_in_batch_keep_per_row_ordinals(spark, tmp_path):
    # r6 code review: the broadcast-ordinal join keyed on docid would fan
    # k duplicate rows out to k*k payload rows and double tf. Duplicate
    # docids within a batch are legitimate (re-ingest before compaction),
    # so the build must detect them and take the window path: one docs row
    # and one set of postings PER INPUT ROW, tf counted per row.
    import pandas as pd

    d = str(tmp_path / "dupidx")
    pdf = pd.DataFrame(
        {
            "repo": ["r", "r", "r"],
            "path": ["p", "p", "q"],   # rows 0,1 share (repo,path,commit)
            "commit": ["c", "c", "c"],
            "lang": ["py", "py", "py"],
            # the duplicates differ in text: the window ranks them by it
            "content": ["hello world", "hello there", "other text"],
        }
    )
    cfg = IndexConfig(text_fields=("content",), n_shards=4)
    IndexBuilder(spark, cfg).build(spark.createDataFrame(pdf), d, resume=False)
    docs = spark.read.parquet(d + "/docs")
    assert docs.count() == 3, "k duplicate rows must stay k rows, not k*k"
    post = spark.read.parquet(d + "/postings").toPandas()
    hello = post[post["term"] == "hello"]
    assert sorted(hello["tf"]) == [1, 1], "tf must count per row, not per docid"
    # the two duplicate rows carry distinct ordinals (append-safe)
    dup = docs.where("path = 'p'").toPandas()
    assert len(set(dup["ordinal"])) == 2
    # the docs action and the postings action give each duplicate the
    # same ordinal: its postings are its own text's terms
    for _, row in dup.iterrows():
        mine = post[(post["shard"] == row["shard"]) & (post["ordinal"] == row["ordinal"])]
        assert set(mine["term"]) == set(row["content"].split())


def test_failed_postings_plan_joins_docs_write_and_restores_conf(spark, tmp_path, monkeypatch):
    """Fault injection: when the postings plan raises after the docs write
    was submitted, the build must still join the docs-write thread, shut
    its pool down and restore the session conf it overrode."""
    import concurrent.futures as cf

    pools = []

    class RecordingPool(cf.ThreadPoolExecutor):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.futures, self.closed = [], False
            pools.append(self)

        def submit(self, *a, **kw):
            f = super().submit(*a, **kw)
            self.futures.append(f)
            return f

        def shutdown(self, *a, **kw):
            self.closed = True
            super().shutdown(*a, **kw)

    mpb, sp = "spark.sql.files.maxPartitionBytes", "spark.sql.shuffle.partitions"
    before = (spark.conf.get(mpb), spark.conf.get(sp))

    def tune(self, base, parallelism):  # what a large file input does
        self._last_input_bytes = 2 * int(before[1]) * 16 * 1024 * 1024
        return str(4 * 1024 * 1024)

    def boom(self, *a, **kw):
        raise RuntimeError("injected postings-plan failure")

    monkeypatch.setattr(cf, "ThreadPoolExecutor", RecordingPool)
    monkeypatch.setattr(IndexBuilder, "_tune_input_splits", tune)
    monkeypatch.setattr(IndexBuilder, "_postings_plan", boom)
    b = IndexBuilder(spark, IndexConfig(text_fields=("content",), n_shards=2))
    with pytest.raises(RuntimeError, match="injected"):
        b.build(spark.createDataFrame(make_corpus(40, seed=5)), str(tmp_path / "idx"))
    assert len(pools) == 1 and pools[0].closed
    assert pools[0].futures and all(f.done() for f in pools[0].futures)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert (spark.conf.get(mpb), spark.conf.get(sp)) == before


def test_failed_pack_restores_conf_and_job_description(spark, tmp_path, monkeypatch):
    """Fault injection: when the pack plan raises, finalize must restore
    the split size and Arrow batch size _pack overrides and the job
    description the caller had before."""
    d = str(tmp_path / "idx")
    b = IndexBuilder(spark, IndexConfig(text_fields=("content",), n_shards=2))
    b.build(spark.createDataFrame(make_corpus(40, seed=6)), d)
    os.remove(os.path.join(d, "packed_manifest.json"))  # force a full re-pack

    def boom(self, *a, **kw):
        raise RuntimeError("injected pack failure")

    monkeypatch.setattr(type(spark.range(1)), "mapInArrow", boom)
    confs = ("spark.sql.files.maxPartitionBytes",
             "spark.sql.execution.arrow.maxRecordsPerBatch")
    before = [spark.conf.get(k) for k in confs]
    sc = spark.sparkContext
    sc.setJobDescription("caller job")
    try:
        with pytest.raises(RuntimeError, match="injected"):
            b.finalize(d)
        assert [spark.conf.get(k) for k in confs] == before
        assert sc.getLocalProperty("spark.job.description") == "caller job"
    finally:
        sc.setJobDescription(None)


def test_pushed_batch_missing_a_stored_column_keeps_it_visible(spark, tmp_path, tiny_corpus_pd):
    """The base build stores ``lang``; a pushed batch lacks it and adds
    ``tag``. Every stored column stays visible whichever docs file schema
    inference reads first, so facets on both answer under both routes."""
    import pandas as pd

    from nixiesearch_spark.streaming import IncrementalIndexer

    d = str(tmp_path / "idx")
    cfg = IndexConfig(text_fields=("content",), n_shards=4)
    IndexBuilder(spark, cfg).build(spark.createDataFrame(tiny_corpus_pd), d)
    extra = pd.DataFrame(
        {
            "repo": ["pushed"] * 6,
            "path": [f"p{i}" for i in range(6)],
            "commit": ["c"] * 6,
            "content": ["def import return"] * 6,
            "tag": ["a", "a", "a", "a", "b", "b"],
        }
    )
    inc = IncrementalIndexer(spark, cfg, d)
    inc.process_batch(spark.createDataFrame(extra), batch_id=1)
    q = MatchQuery("content", "def")
    langs = []
    for step in ("pushed", "merged"):  # merge() rewrites the docs table
        s = Searcher(IndexReader(spark, d))
        for mode in ("auto", "flat"):
            tags = {r["term"]: r["count"] for r in s.facet_term(q, "tag", mode=mode).collect()}
            assert tags == {"a": 4, "b": 2}, (step, mode)
            langs.append(
                [(r["term"], r["count"]) for r in s.facet_term(q, "lang", mode=mode).collect()]
            )
        if step == "pushed":
            inc.builder.merge(d)
    assert langs[0] and all(x == langs[0] for x in langs)
