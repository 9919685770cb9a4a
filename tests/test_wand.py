"""WAND path parity: block-max pruned top-k must equal the exhaustive flat
path (and therefore the numpy oracle) exactly — same docids, same float32
scores — because pruning is only allowed to skip provably non-competitive
stripes."""

from __future__ import annotations

import numpy as np
import pytest

from nixiesearch_spark.corpus import MARKERS
from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig, IndexReader
from nixiesearch_spark.oracle import build_oracle_index, score_match
from nixiesearch_spark.query import MatchQuery, Searcher
from nixiesearch_spark.query.wand import wand_topk


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory, tiny_corpus_pd):
    d = str(tmp_path_factory.mktemp("idxw"))
    df = spark.createDataFrame(tiny_corpus_pd)
    cfg = IndexConfig(text_fields=("content",), n_shards=4, quantize=True, block_size=16)
    builder = IndexBuilder(spark, cfg)
    builder.build(df, d)
    reader = IndexReader(spark, d)
    ids = builder.with_docid(df).select("docid", "content").collect()
    oracle = build_oracle_index([(r["docid"], r["content"]) for r in ids])
    return reader, oracle


WQUERIES = [
    MARKERS[0],
    "def import return",
    "ident00001 ident00200 the",
    "def the a for while int string",
    "nosuchterm_xyz def",
]


@pytest.mark.parametrize("mode", ["driver", "distributed"])
@pytest.mark.parametrize("text", WQUERIES)
@pytest.mark.parametrize("k", [1, 10, 50])
def test_wand_equals_oracle(built, text, k, mode):
    reader, oracle = built
    got = wand_topk(reader, "content", text, k=k, n_stripes=8, mode=mode).collect()
    expected = score_match(oracle, text.split(), "or", k)
    assert [(r["docid"]) for r in got] == [e[0] for e in expected], f"{text} k={k}"
    for r, e in zip(got, expected):
        assert np.float32(r["score"]) == np.float32(e[1]), (text, k, r, e)


def test_wand_equals_flat_path(built):
    # mode="flat" pins the pure-Catalyst plan — Searcher auto-routes match
    # queries on packed indexes through WAND, which would make this parity
    # check compare WAND with itself
    reader, _ = built
    s = Searcher(reader)
    flat = s.search(MatchQuery("content", "def import return"), size=20, mode="flat").collect()
    wand = wand_topk(reader, "content", "def import return", k=20).collect()
    assert [(r["docid"], np.float32(r["score"])) for r in flat] == [
        (r["docid"], np.float32(r["score"])) for r in wand
    ]


def test_pack_subsplit_ubiquitous_term(spark, tmp_path):
    """A term present in EVERY doc must pack into multiple ordinal-range
    sub-groups (the giant-term collect_list guard), and WAND over the split
    blocks must stay bit-identical to the exhaustive flat path."""
    from pyspark.sql import functions as F

    rows = [
        (i, f"common filler{i % 7} word{i % 13} " + ("rare_zz " if i % 50 == 0 else ""))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    cfg = IndexConfig(
        text_fields=("content",), id_col="doc_id", n_shards=2, quantize=True,
        block_size=8, extra={"pack_group_blocks": 4},  # groups of 32 postings
    )
    d = str(tmp_path / "idx")
    IndexBuilder(spark, cfg).build(df, d)
    reader = IndexReader(spark, d)
    packed = reader.packed.where(F.col("term") == "common")
    per_shard = packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("blocks"), F.sum("n").alias("postings"),
        F.max("n").alias("maxn"),
    ).collect()
    assert sum(r["postings"] for r in per_shard) == 400
    for r in per_shard:
        assert r["blocks"] > r["postings"] // 32  # sub-groups actually split
        assert r["maxn"] <= 8  # block size still respected
    s = Searcher(reader)
    flat = s.search(MatchQuery("content", "common rare_zz word3"), size=30, mode="flat").collect()
    wand = wand_topk(reader, "content", "common rare_zz word3", k=30).collect()
    assert [(r["docid"], np.float32(r["score"])) for r in flat] == [
        (r["docid"], np.float32(r["score"])) for r in wand
    ]


@pytest.mark.parametrize("text", ["def import return", "ident00001 the"])
def test_wand_and_mode(built, text):
    reader, oracle = built
    got = wand_topk(reader, "content", text, k=15, operator="and").collect()
    expected = score_match(oracle, text.split(), "and", 15)
    assert [r["docid"] for r in got] == [e[0] for e in expected]
    for r, e in zip(got, expected):
        assert np.float32(r["score"]) == np.float32(e[1])


def test_wand_filtered_equals_flat(built):
    """Filters inside the pruned search (Occur.FILTER leapfrog analog) must
    be bit-identical to the flat filtered path."""
    reader, _ = built
    s = Searcher(reader)
    lang = sorted(
        r["lang"] for r in reader.docs.select("lang").distinct().collect()
    )[0]
    flt = {"term": {"lang": lang}}
    for text in ("def import return", "def the a for while int string"):
        flat = s.search(MatchQuery("content", text), filters=flt, size=15, mode="flat").collect()
        wand = wand_topk(reader, "content", text, k=15, filters=flt).collect()
        assert [(r["docid"], np.float32(r["score"])) for r in flat] == [
            (r["docid"], np.float32(r["score"])) for r in wand
        ], text


def test_wand_filtered_and_mode(built):
    reader, _ = built
    s = Searcher(reader)
    lang = sorted(
        r["lang"] for r in reader.docs.select("lang").distinct().collect()
    )[-1]
    for flt in (
        {"range": {"commit": {"gte": "0"}}},  # matches all — loose filter
        {"term": {"lang": lang}},  # selective
    ):
        flat = s.search(
            MatchQuery("content", "def import", operator="and"), filters=flt, size=10,
            mode="flat",
        ).collect()
        wand = wand_topk(
            reader, "content", "def import", k=10, operator="and", filters=flt
        ).collect()
        assert [(r["docid"], np.float32(r["score"])) for r in flat] == [
            (r["docid"], np.float32(r["score"])) for r in wand
        ], flt


def test_wand_filter_matches_nothing(built):
    reader, _ = built
    out = wand_topk(
        reader, "content", "def import", k=10, filters={"term": {"lang": "nope_xx"}}
    ).collect()
    assert out == []


def test_wand_tombstones_ban_and_allow(built, spark, tmp_path):
    """Tombstoned docs vanish from WAND results (ban mode), matching the
    flat path; with a filter too, the allow set excludes them."""
    import shutil

    reader, _ = built
    d = str(tmp_path / "idxcopy")
    shutil.copytree(reader.index_dir, d)
    text = "def import return"
    top = wand_topk(reader, "content", text, k=3).collect()
    dead = [r["docid"] for r in top[:2]]
    spark.createDataFrame([(int(x),) for x in dead], "docid long").coalesce(
        1
    ).write.mode("append").parquet(d + "/tombstones")
    r2 = IndexReader(spark, d)
    s2 = Searcher(r2)
    flat = s2.search(MatchQuery("content", text), size=10, mode="flat").collect()
    wand = wand_topk(r2, "content", text, k=10).collect()
    assert [(r["docid"], np.float32(r["score"])) for r in flat] == [
        (r["docid"], np.float32(r["score"])) for r in wand
    ]
    assert not (set(dead) & {r["docid"] for r in wand})
    lang = sorted(r["lang"] for r in r2.docs.select("lang").distinct().collect())[0]
    flt = {"term": {"lang": lang}}
    flatf = s2.search(MatchQuery("content", text), filters=flt, size=10, mode="flat").collect()
    wandf = wand_topk(r2, "content", text, k=10, filters=flt).collect()
    assert [(r["docid"], np.float32(r["score"])) for r in flatf] == [
        (r["docid"], np.float32(r["score"])) for r in wandf
    ]
    assert not (set(dead) & {r["docid"] for r in wandf})


# ---- cross-shard kernel identity: a purpose-built 2-shard corpus (shard =
# doc_id % 2) with 4-posting blocks, so every query term spans several
# stripes per shard at n_stripes=4


def _striped_rows():
    rows = []
    for i in range(120):
        if i % 10 in (3, 4):  # identical docs in both shards → exact ties
            text = "tiedoc filler"
        else:
            words = ["common", f"filler{i % 5}"] + ["pad"] * (i % 7)
            if i % 6 == 0:  # shard 0 only
                words += ["zzrare", "zzrare"]
            if i % 4 == 0:  # shard 0 only
                words.append("onlyzero")
            text = " ".join(words)
        rows.append((i, "py" if i % 3 == 0 else "go", text))
    return rows


@pytest.fixture(scope="module")
def striped(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idxstriped"))
    df = spark.createDataFrame(_striped_rows(), "doc_id long, lang string, content string")
    cfg = IndexConfig(
        text_fields=("content",), id_col="doc_id", n_shards=2, quantize=True, block_size=4
    )
    IndexBuilder(spark, cfg).build(df, d)
    return IndexReader(spark, d)


def _bits(rows):
    return [(r["docid"], np.float32(r["score"]).tobytes()) for r in rows]


def _flat(reader, text, k, operator="or", filters=None):
    return Searcher(reader).search(
        MatchQuery("content", text, operator), size=k, filters=filters, mode="flat"
    ).collect()


def test_global_theta_prunes_stripes_of_another_shard(striped):
    """Shard 1 holds no 'zzrare': its stripes are bounded by 'common' alone,
    far below the scores shard 0 finds first. The global θ must skip them
    undecoded — proven by corrupting every shard-1 block, which raises the
    moment it is decoded (as it is when shard 1 is scored on its own)."""
    import pyarrow as pa

    from nixiesearch_spark.query import wand

    text, k, n_stripes = "zzrare common", 3, 4
    plan = wand._match_plan(striped, "content", text)
    blocks = striped.fetch_packed("content", plan["present"])
    shard = blocks.column("shard").to_numpy()
    assert min((shard == 0).sum(), (shard == 1).sum()) > 2 * n_stripes  # several stripes
    gaps = blocks.column("doc_gaps").to_pylist()
    gaps = [b"\x01" * 9 if s == 1 else g for s, g in zip(shard, gaps)]  # 9 ≠ any count
    bad = blocks.set_column(
        blocks.schema.get_field_index("doc_gaps"), "doc_gaps", pa.array(gaps, pa.binary())
    )
    branch = [plan]
    with pytest.raises(ValueError):
        wand._shard_topk(bad.filter(pa.array(shard == 1)), branch, k, n_stripes)
    keys, scores = wand._shard_topk(bad, branch, k, n_stripes)
    got = wand._topk_frame(striped, keys, scores, k).collect()
    assert _bits(got) == _bits(_flat(striped, text, k))


@pytest.mark.parametrize("mode", ["driver", "distributed"])
@pytest.mark.parametrize("k", [1, 3, 7, 30])
def test_ties_at_kth_score_span_shards(striped, mode, k):
    got = wand_topk(striped, "content", "tiedoc", k=k, n_stripes=4, mode=mode).collect()
    flat = _flat(striped, "tiedoc", k)
    assert len({r["score"] for r in flat}) == 1  # one tie group
    assert len({r["docid"] % 2 for r in flat[: max(k, 2)]}) == (1 if k == 1 else 2)
    assert _bits(got) == _bits(flat)


@pytest.mark.parametrize("mode", ["driver", "distributed"])
@pytest.mark.parametrize("text", ["onlyzero common", "zzrare onlyzero pad"])
def test_and_with_term_missing_from_a_shard(striped, mode, text):
    got = wand_topk(
        striped, "content", text, k=10, n_stripes=4, operator="and", mode=mode
    ).collect()
    flat = _flat(striped, text, 10, "and")
    assert flat and all(r["docid"] % 2 == 0 for r in flat)
    assert _bits(got) == _bits(flat)


@pytest.mark.parametrize("text", ["zzrare common", "common pad tiedoc", "filler1 pad"])
def test_multi_stripe_modes_identical(striped, text):
    flat = _flat(striped, text, 12)
    for mode in ("driver", "distributed"):
        got = wand_topk(striped, "content", text, k=12, n_stripes=4, mode=mode).collect()
        assert _bits(got) == _bits(flat), mode


def test_distributed_filtered_and_tombstoned_identity(striped, spark, tmp_path):
    import shutil

    flt = {"term": {"lang": "py"}}
    for text in ("zzrare common", "tiedoc", "filler2 pad"):
        got = wand_topk(striped, "content", text, k=8, n_stripes=4, filters=flt).collect()
        assert _bits(got) == _bits(_flat(striped, text, 8, filters=flt)), text
    d = str(tmp_path / "striped_tomb")
    shutil.copytree(striped.index_dir, d)
    top = _flat(striped, "zzrare common", 4)
    dead = [top[0]["docid"], top[3]["docid"], 3]  # shard 0 and shard 1 docs
    spark.createDataFrame([(int(x),) for x in dead], "docid long").coalesce(1).write.mode(
        "append"
    ).parquet(d + "/tombstones")
    r2 = IndexReader(spark, d)
    for text, f in (("zzrare common", None), ("tiedoc", None), ("zzrare common", flt)):
        got = wand_topk(r2, "content", text, k=8, n_stripes=4, filters=f).collect()
        flat = _flat(r2, text, 8, filters=f)
        assert not set(dead) & {r["docid"] for r in got}
        assert _bits(got) == _bits(flat), (text, f)


def test_spark_fetch_fallback_identity(striped, monkeypatch):
    """Non-local storage: the head segment loads through Spark instead of
    pyarrow; the search-head kernels must answer identically."""
    from nixiesearch_spark.query import BoolQuery
    from nixiesearch_spark.query.wand import bool_topk_driver

    monkeypatch.setattr(type(striped), "_local_dataset", lambda self, table: None)
    # a fresh reader: striped's segment may already be loaded with pyarrow
    remote = IndexReader(striped.spark, striped.index_dir)
    assert remote.head_segment._packed is None
    for text in ("zzrare common", "tiedoc", "nosuchterm_xyz"):
        got = wand_topk(remote, "content", text, k=6, n_stripes=4, mode="driver").collect()
        assert _bits(got) == _bits(_flat(striped, text, 6)), text
    q = BoolQuery(should=[MatchQuery("content", "zzrare")],
                  must_not=[MatchQuery("content", "pad")])
    got = bool_topk_driver(
        remote, [("should", q.should[0]), ("must_not", q.must_not[0])], k=6, n_stripes=4
    ).collect()
    assert _bits(got) == _bits(Searcher(striped).search(q, size=6, mode="flat").collect())
    assert remote.head_segment._packed is not None
