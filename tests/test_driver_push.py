"""Pushes built on the driver (index/driver_push.py) against the Spark push.

Each case pushes one batch into two copies of one index: as a LocalBatch,
which the driver builds, and as a DataFrame, which takes the Spark push.
Every table must then be equal row for row after a key sort (packed block
bytes included; lineage except ``wall_ms``; stats.json except its
epoch-ms seqnums), and search answers equal in docids and float32 bits on
the head and flat routes. The per-step identities (xxhash64, norms,
sha256, ordinals) are pinned against their Catalyst forms on their own.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nixiesearch_spark.corpus import make_corpus
from nixiesearch_spark.index import IndexBuilder, IndexConfig, IndexReader, segment
from nixiesearch_spark.index.builder import _norm_expr
from nixiesearch_spark.index.driver_push import DriverPush, spark_xxhash64
from nixiesearch_spark.query import MatchQuery, Searcher
from nixiesearch_spark.streaming.incremental import IncrementalIndexer, LocalBatch

# two text fields, one with a UDF analyzer; a small og span (4 × 2
# ordinals) so a push crosses og boundaries
CFG = IndexConfig(
    text_fields=("content", "title"),
    analyzers={"title": "english"},
    n_shards=4,
    block_size=4,
    extra={"pack_group_blocks": 2},
)
SPAN = 8
# key columns each table is sorted by before comparing
KEYS = {
    "docs": ["shard", "ordinal"],
    "postings": ["shard", "field", "term", "ordinal"],
    "packed": ["og", "shard", "field", "term", "block_id"],
    "dictionary": ["field", "term"],
    "lineage": ["shard", "field", "rows_in", "docs_with_field", "sum_dl", "postings_out"],
}


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    pdf = make_corpus(60, seed=7)
    pdf["title"] = [" ".join(c.split()[:6]) + " running jumps" for c in pdf["content"]]
    pdf.loc[3, "title"] = None
    d = str(tmp_path_factory.mktemp("dpush") / "base")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(pdf), d)
    return d


def _batch_docs(tag: str, n: int = 14) -> list[dict]:
    """A push lacking the stored ``lang`` column, with a null title, a
    null content and two rows sharing one docid with different texts."""
    docs = [
        {
            "repo": f"pushed/{tag}",
            "path": f"p{i}",
            "commit": "c1",
            "content": f"def import return zz{tag} word{i} " + "token " * (i % 5),
            "title": f"Running jumped {tag} walks{i}",
        }
        for i in range(n)
    ]
    docs[1]["title"] = None
    docs[2]["content"] = None
    docs[5] = {**docs[4], "content": f"zz{tag} another text entirely", "title": "Other"}
    return docs


def _schema(spark, docs):
    return spark.createDataFrame(docs).schema  # what the REST push pins


def _push_both(spark, src: str, tmp_path, docs: list[dict], batch_id: int = 1):
    """Push ``docs`` into two copies of ``src``: the driver path into
    ``drv``, the Spark path into ``spk``. Returns (drv, spk, indexer)."""
    drv, spk = str(tmp_path / "drv"), str(tmp_path / "spk")
    shutil.copytree(src, drv)
    shutil.copytree(src, spk)
    schema = _schema(spark, docs)
    inc = IncrementalIndexer(spark, CFG, drv)
    inc.process_batch(LocalBatch.of(docs, schema), batch_id)
    ref = IncrementalIndexer(spark, CFG, spk)
    ref.process_batch(spark.createDataFrame(docs, schema=schema), batch_id)
    assert ref.pushes == {"spark:dataframe": 1}
    return drv, spk, inc


def _table(spark, d: str, table: str):
    """(rows sorted by the table's keys, column types) as Spark reads them."""
    df = spark.read.option("mergeSchema", "true").parquet(os.path.join(d, table))
    pdf = df.toPandas().drop(columns=["wall_ms"], errors="ignore")
    rows = pdf.sort_values(KEYS[table], na_position="first").reset_index(drop=True)
    return rows, {f.name: f.dataType for f in df.schema}


def _assert_same_tables(spark, a: str, b: str) -> None:
    for table in KEYS:
        (ta, sa), (tb, sb) = _table(spark, a, table), _table(spark, b, table)
        assert sa == sb, table
        pd.testing.assert_frame_equal(ta, tb[ta.columns], obj=table)
    stats = []
    for d in (a, b):
        with open(os.path.join(d, "stats.json")) as f:
            st = json.load(f)
        assert st["packed_seqnum"] == st.pop("seqnum")
        st.pop("packed_seqnum")
        with open(os.path.join(d, "packed_manifest.json")) as f:
            man = json.load(f)
        stats.append((st, man["pack_avgdl"], man["group_span"]))
    assert stats[0] == stats[1]


def _hits(df) -> list:
    return [(r["docid"], np.float32(r["score"]).tobytes()) for r in df.collect()]


def _assert_same_answers(spark, a: str, b: str, marker: str) -> None:
    queries = [
        MatchQuery("content", f"def import return {marker}"),
        MatchQuery("content", marker),
        MatchQuery("title", "running jumps walks"),
    ]
    sa, sb = Searcher(IndexReader(spark, a)), Searcher(IndexReader(spark, b))
    for q in queries:
        for mode in ("auto", "flat"):
            got = _hits(sa.search(q, size=30, mode=mode))
            assert got and got == _hits(sb.search(q, size=30, mode=mode)), (q, mode)


def test_driver_push_equals_spark_push(spark, base, tmp_path):
    before = set(os.listdir(os.path.join(base, "packed")))
    docs = _batch_docs("a")
    drv, spk, inc = _push_both(spark, base, tmp_path, docs)
    assert inc.pushes == {"driver": 1}
    # one postings file per push, and the push crossed an og boundary in
    # some shard: its ordinals span two groups
    assert len(os.listdir(os.path.join(drv, "postings"))) < len(
        os.listdir(os.path.join(spk, "postings"))
    )
    pushed = IndexReader(spark, drv).docs.where("seqnum = 1").toPandas()
    spans = pushed.groupby("shard")["ordinal"].agg(lambda o: set(o // SPAN))
    assert any(len(s) > 1 for s in spans), spans
    assert set(os.listdir(os.path.join(drv, "packed"))) - before
    _assert_same_tables(spark, drv, spk)
    _assert_same_answers(spark, drv, spk, "zza")
    # a second push onto each continues both tables identically
    docs2 = _batch_docs("b", n=9)
    schema = _schema(spark, docs2)
    inc.process_batch(LocalBatch.of(docs2, schema), 2)
    IncrementalIndexer(spark, CFG, spk).process_batch(
        spark.createDataFrame(docs2, schema=schema), 2
    )
    assert inc.pushes == {"driver": 2}
    _assert_same_tables(spark, drv, spk)
    _assert_same_answers(spark, drv, spk, "zzb")


def test_driver_push_after_compact_equals_spark_push(spark, base, tmp_path):
    """compact() leaves NULL rows_in lineage rows: the next push's bases
    take the max(ordinal)+1 fallback, and its pack is a full one."""
    src = str(tmp_path / "compacted")
    shutil.copytree(base, src)
    inc = IncrementalIndexer(spark, CFG, src)
    victims = [r["docid"] for r in spark.read.parquet(src + "/docs").limit(5).collect()]
    inc.delete_ids(victims)
    inc.compact()
    drv, spk, pushed = _push_both(spark, src, tmp_path, _batch_docs("c"))
    assert pushed.pushes == {"driver": 1}
    _assert_same_tables(spark, drv, spk)
    _assert_same_answers(spark, drv, spk, "zzc")


def test_declined_push_names_its_reason_and_writes_the_same_tables(
    spark, base, tmp_path, monkeypatch
):
    monkeypatch.setattr(segment, "HEAD_SEGMENT_MAX_BYTES", 0)
    drv, spk, inc = _push_both(spark, base, tmp_path, _batch_docs("d"))
    assert inc.pushes == {"spark:head_segment": 1}
    _assert_same_tables(spark, drv, spk)


def test_decline_reasons_for_shapes_the_driver_cannot_write(spark, base, tmp_path):
    d = str(tmp_path / "idx")
    shutil.copytree(base, d)
    docs = _batch_docs("e")
    schema = _schema(spark, docs)

    def reason(cfg=CFG, batch_docs=docs, **kw):
        inc = IncrementalIndexer(spark, cfg, d, **kw)
        return DriverPush(inc, LocalBatch.of(batch_docs, _schema(spark, batch_docs)), 1).decline()

    assert reason() is None
    assert reason(pack_each_batch=False) == "deferred_pack"
    assert reason(IndexConfig(**{**CFG.__dict__, "quantize": False})) == "unquantized"
    assert reason(IndexConfig(**{**CFG.__dict__, "id_col": "repo"})) == "id_col"
    with_num = [{**x, "n": 1.5} for x in docs]
    assert reason(IndexConfig(**{**CFG.__dict__, "id_cols": ("n",)}), with_num) == "id_cols"
    assert reason(batch_docs=[{**x, "tags": ["a"]} for x in docs]) == "column_type"
    assert reason(batch_docs=[{**x, "shard": 1} for x in docs]) == "reserved_column"
    bad = [{**docs[0], "content": "lone \ud800 surrogate"}] + docs[1:]
    assert DriverPush(IncrementalIndexer(spark, CFG, d), LocalBatch.of(bad, schema), 1).decline() == "encoding"


def test_python_xxhash64_equals_spark(spark):
    rng = random.Random(3)
    alphabet = "abcXYZ019 _-/.éßσЖ中\U0001f600"

    def rand_str():
        if rng.random() < 0.1:
            return None
        n = rng.choice([0, 1, 3, 4, 7, 8, 9, 15, 16, 31, 32, 33, 40, 64, 100, 257])
        return "".join(rng.choice(alphabet) for _ in range(n))

    rows = [(rand_str(), rand_str(), rand_str()) for _ in range(300)]
    longs = [0, 1, -1, 2**63 - 1, -(2**63), 42] + [rng.randint(-(2**63), 2**63 - 1) for _ in range(200)]
    ints = [0, -1, 2**31 - 1, -(2**31)] + [rng.randint(-(2**31), 2**31 - 1) for _ in range(50)]
    sdf = spark.createDataFrame(rows, "a string, b string, c string")
    got = sdf.select(
        F.xxhash64("a").alias("one"), F.xxhash64("a", "b", "c").alias("chain")
    ).collect()
    for (a, b, c), r in zip(rows, got):
        assert spark_xxhash64([a], ["string"]) == r["one"]
        assert spark_xxhash64([a, b, c], ["string"] * 3) == r["chain"]
    ldf = spark.createDataFrame([(v,) for v in longs], "v long")
    for v, r in zip(longs, ldf.select(F.xxhash64("v")).collect()):
        assert spark_xxhash64([v], ["long"]) == r[0]
    idf = spark.createDataFrame([(v,) for v in ints], "v int")
    for v, r in zip(ints, idf.select(F.xxhash64("v")).collect()):
        assert spark_xxhash64([v], ["int"]) == r[0]


def test_driver_steps_equal_their_catalyst_forms(spark, base):
    import hashlib

    from nixiesearch_spark import lucene
    from nixiesearch_spark.analysis import analyzer_col, analyzer_py

    # norms: lucene.int_to_byte4 ≡ _norm_expr
    lens = list(range(0, 300)) + [2**k + d for k in range(8, 31) for d in (-1, 0, 1)]
    ndf = spark.createDataFrame([(v,) for v in lens], "dl int")
    got = [r[0] for r in ndf.select(F.expr(_norm_expr("dl")).cast("int")).collect()]
    assert got == [int(x) for x in lucene.int_to_byte4(np.array(lens))]
    # sha256 ≡ F.sha2 over the first text field, null as ""
    texts = ["", "abc", "été 中文 \U0001f600", None, "x" * 5000]
    sdf = spark.createDataFrame([(t,) for t in texts], "t string")
    sha = [r[0] for r in sdf.select(F.sha2(F.coalesce("t", F.lit("")), 256)).collect()]
    assert sha == [hashlib.sha256((t or "").encode()).hexdigest() for t in texts]
    # analyzers' Python forms ≡ their Catalyst forms (a null text's NULL
    # array counts as no tokens in the build, as [] does)
    for name in ("standard", "english"):
        col = [r[0] or [] for r in sdf.select(analyzer_col(name)(F.col("t"))).collect()]
        assert col == [analyzer_py(name)(t) for t in texts], name
    docs = _batch_docs("f")
    # ordinals: the bucket hash and the rank within (shard, bucket), with
    # duplicate docids, above the index's lineage bases
    schema = _schema(spark, docs)
    push = DriverPush(IncrementalIndexer(spark, CFG, base), LocalBatch.of(docs, schema), 1)
    push._prelude()
    b = IndexBuilder(spark, CFG)
    bdf = b.with_docid(spark.createDataFrame(docs, schema=schema))
    hb = bdf.select(F.pmod(F.xxhash64("docid"), F.lit(64)).alias("hb")).collect()
    assert [r["hb"] for r in hb] == [spark_xxhash64([int(d)], ["long"]) % 64 for d in push.docid]
    want = b._with_ordinals(bdf, b._shard_bases(base, list(range(CFG.n_shards))))
    want = {
        (r["docid"], r["content"], r["title"]): r["ordinal"]
        for r in want.select("docid", "content", "title", "ordinal").collect()
    }
    got = {
        (int(d), x["content"], x["title"]): int(o)
        for d, x, o in zip(push.docid, docs, push.ordinal)
    }
    assert got == want


def test_api_push_runs_no_spark_job(spark, base, tmp_path):
    from nixiesearch_spark.api import SearchServer

    d = str(tmp_path / "idx")
    shutil.copytree(base, d)
    srv = SearchServer(spark, port=0).add_index("x", d, config=CFG)
    docs = _batch_docs("g")
    docs[5]["path"] = "p5"  # distinct docids: the marker search lists each once
    body = "\n".join(json.dumps(x) for x in docs).encode()
    sc = spark.sparkContext
    sc.setJobGroup("driver-push-test", "push")
    try:
        status, _, _ = srv.handle("POST", "/v1/index/x", body,
                                  {"Content-Type": "application/x-ndjson"})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert status == 200
    assert list(sc.statusTracker().getJobIdsForGroup("driver-push-test")) == []
    want = {spark_xxhash64([x["repo"], x["path"], x["commit"]], ["string"] * 3)
            for x in docs if x["content"] and "zzg" in x["content"]}
    _, res, _ = srv.handle("POST", "/v1/index/x/search",
                           json.dumps({"query": {"match": {"content": "zzg"}},
                                       "size": 50}).encode(), {})
    assert sorted(int(h["_id"]) for h in res["hits"]) == sorted(want)
    _, metrics, _ = srv.handle("GET", "/metrics", b"", {})
    assert 'nixiesearch_pushes_total{index="x",path="driver"} 1' in metrics
    srv.httpd.server_close()


def test_reopened_docs_schema_reads_footers_not_a_spark_job(spark, base, monkeypatch):
    """The first filtered request after a reopen infers the docs schema
    from the files' footers: one Spark job fewer than mergeSchema."""
    from nixiesearch_spark.index import parquet_files

    q, filt = MatchQuery("content", "def import"), {"range": {"commit": {"gte": "0"}}}
    sc = spark.sparkContext

    def first_filtered_jobs(gid):
        s = Searcher(IndexReader(spark, base))
        sc.setJobGroup(gid, gid)
        try:
            s.search(q, filters=filt, size=5).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(gid))

    footers = first_filtered_jobs("docs-footers")
    monkeypatch.setattr(parquet_files, "footer_schema", lambda path: None)
    merged = first_filtered_jobs("docs-merge-schema")
    assert merged - footers == 1


def test_batch_validation_matches_create_dataframe(spark, base, tmp_path):
    """LocalBatch.of accepts and rejects what createDataFrame does, and a
    rejected REST push is a 400 that starts no Spark job."""
    from nixiesearch_spark.api import ApiError, SearchServer

    docs = [{**x, "stars": i, "w": 0.5} for i, x in enumerate(_batch_docs("v"))]
    schema = _schema(spark, docs)
    row = {"repo": "r", "path": "p", "commit": "c", "content": "x", "title": "t",
           "stars": 1, "w": 0.5}
    cases = [
        [{**row, "stars": "many"}],
        [{**row, "stars": 1.5}],
        [{**row, "stars": 2**64}],
        [{**row, "w": 1}],
        [{**row, "content": 5}],  # coerced to "5", not rejected
        [{k: v for k, v in row.items() if k != "title"}],
        [{**row, "extra": 1}],
    ]
    rejected = 0
    for batch in cases:
        want = got = None
        try:
            spark.createDataFrame(batch, schema=schema)
        except Exception as e:
            want = type(e)
        try:
            LocalBatch.of(batch, schema)
        except Exception as e:
            got = type(e)
        assert got == want, batch
        rejected += want is not None
    assert rejected == 4
    d = str(tmp_path / "idx")
    shutil.copytree(base, d)
    srv = SearchServer(spark, port=0).add_index("x", d, config=CFG)
    ok = "\n".join(json.dumps(x) for x in docs).encode()
    assert srv.handle("POST", "/v1/index/x", ok, {"Content-Type": "application/x-ndjson"})[0] == 200
    assert srv.indexes["x"]._indexer.pushes == {"driver": 1}  # long and double columns too
    sc = spark.sparkContext
    sc.setJobGroup("driver-push-reject", "push")
    try:
        with pytest.raises(ApiError) as err:
            srv.handle("POST", "/v1/index/x", json.dumps(cases[0][0]).encode(), {})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert err.value.status == 400
    assert list(sc.statusTracker().getJobIdsForGroup("driver-push-reject")) == []
    srv.httpd.server_close()
