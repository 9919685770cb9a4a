"""The search head's resident segment (index/segment.py): its cuts equal a
filtered scan of the packed files, a cold head request runs no Spark job,
tombstones are read once per delete, and perfbench's probes still find
every reader method they wrap."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pytest

from nixiesearch_spark.corpus import make_corpus
from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig, IndexReader
from nixiesearch_spark.query import MatchQuery, Searcher
from nixiesearch_spark.query.wand import LocalFrame, packed_ready
from nixiesearch_spark.streaming import IncrementalIndexer

MARKER = "zzsegmentmarker"
CFG = IndexConfig(
    text_fields=("content", "path"), id_col="doc_id", n_shards=4, block_size=16
)


@pytest.fixture(scope="module")
def two_fields(spark, tmp_path_factory):
    """A 240-doc index over two text fields, and the batch to push to it."""
    full = make_corpus(260, seed=11)
    full.insert(0, "doc_id", range(260))
    # an int column with nulls beside make_corpus's string columns
    full["stars"] = pd.array([None if i % 4 == 0 else i % 50 for i in range(260)], dtype="Int64")
    d = str(tmp_path_factory.mktemp("seg") / "idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(full.iloc[:240]), d)
    extra = full.iloc[240:].copy()
    extra.loc[extra.index[:3], "content"] += f" {MARKER}"
    return d, extra


def _scan(index_dir: str, field: str, terms) -> pa.Table:
    ds = pads.dataset(index_dir + "/packed", format="parquet", partitioning="hive")
    return ds.to_table(
        columns=list(IndexReader.PACKED_FETCH_COLS),
        filter=(pads.field("field") == field) & pads.field("term").isin(list(terms)),
    )


def _assert_cuts_equal_scan(reader: IndexReader) -> None:
    """For every (field, term) of the dictionary: the same rows as a
    filtered scan, in the same per-term order."""
    dic = pads.dataset(reader.index_dir + "/dictionary", format="parquet").to_table()
    dic = dic.to_pandas()
    assert set(dic["field"]) == {"content", "path"}
    for field, terms in dic.groupby("field")["term"]:
        terms = sorted(terms)
        got = reader.fetch_packed(field, terms).to_pandas()
        # the scan's rows stably sorted by term: each term's rows keep
        # their scan order
        want = _scan(reader.index_dir, field, terms).to_pandas()
        want = want.sort_values("term", kind="stable").reset_index(drop=True)
        assert len(got) == len(want) > 0
        pd.testing.assert_frame_equal(got, want)
    rng = np.random.default_rng(5)
    for field, term in dic[["field", "term"]].to_numpy()[rng.choice(len(dic), 50)]:
        assert reader.fetch_packed(field, [term]).equals(_scan(reader.index_dir, field, [term]))


def test_segment_cuts_equal_filtered_scan(spark, two_fields):
    d, extra = two_fields
    r = IndexReader(spark, d)
    _assert_cuts_equal_scan(r)
    schema = _scan(d, "content", ["def"]).schema
    for field, terms in (("content", ["nosuchterm_q"]), ("nosuchfield", ["def"]),
                         ("content", [])):
        out = r.fetch_packed(field, terms)
        assert out.num_rows == 0 and out.schema == schema
    assert r.term_stats("content", ["nosuchterm_q"]) == {}
    assert r.fetch_packed("content", [MARKER]).num_rows == 0

    # a push packed incrementally, then a re-opened reader
    IncrementalIndexer(spark, CFG, d, pack_each_batch=True).process_batch(
        spark.createDataFrame(extra), batch_id=1
    )
    r2 = IndexReader(spark, d)
    assert packed_ready(r2)
    _assert_cuts_equal_scan(r2)
    assert r2.fetch_packed("content", [MARKER]).num_rows > 0
    assert r2.term_stats("content", [MARKER])[MARKER][0] == 3
    hits = Searcher(r2).search(MatchQuery("content", MARKER), size=10)
    assert isinstance(hits, LocalFrame)
    assert sorted(x["docid"] for x in hits.collect()) == sorted(extra["doc_id"].iloc[:3])
    seg = r2.head_segment
    assert seg.estimate_bytes() >= seg.nbytes > 0
    # stored columns: each key's value is its docs row's, and the estimate
    # still bounds the segment with a string and an int-with-nulls column
    docs = pads.dataset(d + "/docs", format="parquet").to_table().to_pandas()
    keys = (docs["shard"].to_numpy(np.int64) << 40) | docs["ordinal"].to_numpy(np.int64)
    for field in ("lang", "stars"):
        got = r2.field_lut(field, keys).to_pylist()
        assert got == [None if pd.isna(v) else v for v in docs[field]]
    assert docs["stars"].isna().any() and set(seg._columns) == {"lang", "stars"}
    assert seg.estimate_bytes() >= seg.nbytes


def test_spark_loaded_segment_equals_pyarrow_loaded(spark, two_fields, monkeypatch):
    """Storage pyarrow cannot open: the segment loads once through Spark and
    every cut answers as the pyarrow-loaded segment does (a term's rows
    compared as a set: Spark lists the files in its own order)."""
    d, _ = two_fields
    local = IndexReader(spark, d)
    seg = local.head_segment
    seg.packed, seg.dictionary, seg.ordinals  # loaded with pyarrow
    monkeypatch.setattr(IndexReader, "_local_dataset", lambda self, table: None)
    remote = IndexReader(spark, d)
    terms = ["def", "import", "return", "nosuchterm_q"]
    key = ["term", "shard", "block_id"]
    for field in ("content", "path"):
        got = remote.fetch_packed(field, terms).to_pandas().sort_values(key)
        want = local.fetch_packed(field, terms).to_pandas().sort_values(key)
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))
        assert remote.term_stats(field, terms) == local.term_stats(field, terms)
    keys = seg.ordinals[0][::7]
    assert np.array_equal(remote.ordinal_lookup(keys), local.ordinal_lookup(keys))
    # the size estimate bounds the loaded segment, from footers or, on
    # storage pyarrow cannot read, from stats.json alone
    for r in (local, remote):
        assert r.head_segment.nbytes > 0
        assert r.head_segment.estimate_bytes() >= r.head_segment.nbytes


def test_unreadable_storage_keeps_facets_and_sorts_flat(spark, two_fields, monkeypatch):
    """Storage pyarrow cannot open has no footers to bound a column by: a
    facet and a sort take the flat plan and load no column."""
    d, _ = two_fields
    monkeypatch.setattr(IndexReader, "_local_dataset", lambda self, table: None)
    r = IndexReader(spark, d)
    s = Searcher(r, plan_cache=False)
    q = MatchQuery("content", "def import return")
    for out in (s.facet_term(q, "lang"), s.search(q, size=5, sort=[("lang", "asc")])):
        assert not isinstance(out, LocalFrame)
    assert isinstance(s.search(q, size=5), LocalFrame)  # the segment loads through Spark
    assert not r.head_segment._columns


def _jobs_of(spark, fn):
    """(fn's result, Spark jobs it started), read from the status tracker
    under a job group of its own."""
    sc = spark.sparkContext
    gid = f"head-segment-test-{id(fn)}"
    sc.setJobGroup(gid, "head segment test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_cold_head_request_starts_no_spark_job(spark, two_fields):
    """A cold match, term facet, range facet and sort each run on the head
    in zero Spark jobs, each loading what it reads, with the flat answer."""
    d, _ = two_fields
    r = IndexReader(spark, d)
    s = Searcher(r)
    assert r.head_segment.nbytes == 0
    q = MatchQuery("content", "def import return")
    rows, jobs = _jobs_of(spark, lambda: s.search(q, size=5).collect())
    assert jobs == 0
    assert r.head_segment.nbytes > 0 and r.head_segment.load_s > 0
    flat = Searcher(r).search(q, size=5, mode="flat").collect()
    assert [(x["docid"], np.float32(x["score"])) for x in rows] == [
        (x["docid"], np.float32(x["score"])) for x in flat
    ]
    sort = [("stars", "asc", "first"), ("lang", "desc")]
    for request, col in (
        (lambda s, **kw: s.facet_term(q, "lang", **kw), "lang"),
        (lambda s, **kw: s.facet_range(q, "stars", [{"lt": 20}, {"gte": 20}], **kw), "stars"),
        (lambda s, **kw: s.search(q, size=9, sort=sort, **kw), None),
    ):
        before = r.head_segment.nbytes
        rows, jobs = _jobs_of(spark, lambda: request(s).collect())
        assert jobs == 0
        assert col is None or (col in r.head_segment._columns and r.head_segment.nbytes > before)
        assert [tuple(x) for x in rows] == [tuple(x) for x in request(s, mode="flat").collect()]


def test_tombstones_read_once_per_delete(spark, tmp_path, monkeypatch):
    """Deletes keep the seqnum, so a server keeps its reader: the same
    reader must see each delete, and read the tombstones only when their
    listing moves."""
    from pyspark.sql.readwriter import DataFrameReader

    cfg = IndexConfig(text_fields=("content",), id_col="doc_id", n_shards=2)
    d = str(tmp_path / "idx")
    df = spark.createDataFrame(
        [(1, "red dress"), (2, "white dress"), (3, "red pajama"), (4, "red hat")],
        "doc_id long, content string",
    )
    IndexBuilder(spark, cfg).build(df, d)
    reads = []
    real = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        reads.extend(p for p in paths if str(p).endswith("tombstones"))
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    inc = IncrementalIndexer(spark, cfg, d)
    s = Searcher(IndexReader(spark, d))
    q = MatchQuery("content", "red")

    def ids():
        return {x["docid"] for x in s.search(q, size=5).collect()}

    assert ids() == {1, 3, 4} and not reads
    inc.delete_ids([3])
    assert ids() == {1, 4}
    assert len(reads) == 1
    assert ids() == {1, 4} and s.reader.tombstones is s.reader.tombstones
    assert len(reads) == 1
    inc.delete_ids([4])
    assert ids() == {1}
    assert len(reads) == 2


def test_perfbench_probes_find_their_targets(spark):
    """perfbench wraps reader and kernel functions by name; a rename would
    silently zero its per-layer metrics. The one target already gone is
    the old per-branch kernel."""
    from perfbench.tracing import Probes, Tracer

    probes = Probes(Tracer())
    try:
        probes.install(spark)
        assert probes.missing == ["nixiesearch_spark.query.wand._shard_bool_topk"]
    finally:
        probes.uninstall()
