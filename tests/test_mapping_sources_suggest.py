"""Mapping capability flags, JSON sources, suggest path."""

from __future__ import annotations

import gzip
import json
import os

import pytest

from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig, IndexReader
from nixiesearch_spark.mapping import FieldSchema, IndexMapping, MappingError
from nixiesearch_spark.query import MatchQuery, Searcher
from nixiesearch_spark.query.suggest import build_suggest, load_suggest, suggest
from nixiesearch_spark.sources import read_docs

MAPPING = IndexMapping.from_dict(
    {
        "name": "test",
        "fields": {
            "title": {"type": "text", "search": True, "sort": True},
            "price": {"type": "int", "filter": True, "facet": True, "sort": True},
            "cat": {"type": "text"},  # no flags → not filterable/searchable
            "meta.tag": {"type": "text", "filter": True},
            "attr_*": {"type": "text", "filter": True},
        },
    }
)


def test_mapping_flags_and_wildcards():
    assert MAPPING.lookup("_id").filter is True
    assert MAPPING.lookup("attr_color").filter is True  # wildcard resolution
    assert MAPPING.lookup("nosuch") is None
    MAPPING.require("title", "search")
    with pytest.raises(MappingError):
        MAPPING.require("cat", "search")
    with pytest.raises(MappingError):
        MAPPING.require("cat", "filter")
    with pytest.raises(MappingError):
        MAPPING.require("title", "facet")
    with pytest.raises(MappingError):
        IndexMapping.from_dict(
            {"name": "x", "fields": {"a_*": {"type": "text"}, "a_b": {"type": "text"}}}
        )


def test_mapping_migration():
    new = IndexMapping.from_dict(
        {"name": "test", "fields": {"title": {"type": "text", "search": True}}}
    )
    changes = MAPPING.migrate_check(new)
    assert any(c.startswith("delete") for c in changes)
    bad = IndexMapping.from_dict({"name": "test", "fields": {"price": {"type": "text"}}})
    with pytest.raises(MappingError):
        MAPPING.migrate_check(bad)


def test_searcher_enforces_mapping(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", "red dress", 10, "a"), ("2", "white dress", 20, "b")],
        "_id string, title string, price int, cat string",
    )
    d = str(tmp_path / "idx")
    # cat is built as a text field, so only the mapping stands between a
    # request on it and an answer
    cfg = IndexConfig(text_fields=("title", "cat"), id_cols=("_id",), n_shards=2)
    IndexBuilder(spark, cfg).build(df, d)
    s = Searcher(IndexReader(spark, d), mapping=MAPPING)
    assert s.search(MatchQuery("title", "dress"), size=5).count() == 2
    with pytest.raises(MappingError):
        s.search(MatchQuery("cat", "a")).count()
    with pytest.raises(MappingError):
        s.search(MatchQuery("title", "dress"), filters={"term": {"cat": "a"}}).count()
    with pytest.raises(MappingError):
        s.search(MatchQuery("title", "dress"), sort=[("cat", "asc")]).count()
    # searching the unsearchable cat fails on every route, the search-head
    # ones included, exactly as under mode="flat"
    rrf_cat = {"rrf": {"retrieve": [{"match": {"title": "dress"}}, {"match": {"cat": "a"}}]}}
    for mode in ("auto", "flat"):
        with pytest.raises(MappingError):
            s.search(MatchQuery("cat", "a"), sort=[("price", "desc")], mode=mode).count()
        with pytest.raises(MappingError):
            s.facet_term(MatchQuery("cat", "a"), "price", mode=mode).collect()
        with pytest.raises(MappingError):
            s.facet_range(MatchQuery("cat", "a"), "price", [{"lt": 15}], mode=mode).collect()
        with pytest.raises(MappingError):
            s.facet_term(rrf_cat, "price", mode=mode).collect()
    # declared-capability paths work
    s.search(MatchQuery("title", "dress"), filters={"range": {"price": {"gte": 15}}}).count()
    s.search(MatchQuery("title", "dress"), sort=[("price", "desc")]).count()
    rrf_title = {"rrf": {"retrieve": [{"match": {"title": "dress"}},
                                      {"match": {"title": "red"}}]}}
    for mode in ("auto", "flat"):
        assert s.facet_term(MatchQuery("title", "dress"), "price", mode=mode).count() == 2
        ranges = [{"lt": 15}, {"gte": 15}]
        got = s.facet_range(MatchQuery("title", "dress"), "price", ranges, mode=mode).collect()
        assert [r["count"] for r in got] == [1, 1]
        assert s.facet_term(rrf_title, "price", mode=mode).count() == 2


def test_read_ndjson_and_gzip_and_corrupt(spark, tmp_path):
    m = IndexMapping.from_dict(
        {
            "name": "src",
            "fields": {
                "title": {"type": "text", "search": True},
                "price": {"type": "int"},
                "meta.tag": {"type": "text"},
            },
        }
    )
    p = tmp_path / "docs.ndjson"
    rows = [
        {"_id": "1", "title": "red dress", "price": 10, "meta": {"tag": "x"}, "junk": 1},
        {"_id": "2", "title": "white dress", "price": "NOT_AN_INT"},
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    df = read_docs(spark, str(p), m)
    got = {r["_id"]: r.asDict() for r in df.collect()}
    assert got["1"]["title"] == "red dress"
    assert got["1"]["meta.tag"] == "x"
    assert "junk" not in got["1"]  # unknown fields skipped
    assert got["2"]["_corrupt"] is not None  # malformed row captured, not fatal

    gz = tmp_path / "docs2.ndjson.gz"
    with gzip.open(gz, "wt") as f:
        f.write(json.dumps({"_id": "3", "title": "blue jeans", "price": 5}) + "\n")
    assert read_docs(spark, str(gz), m).count() == 1


def test_read_json_array(spark, tmp_path):
    m = IndexMapping.from_dict(
        {"name": "src", "fields": {"title": {"type": "text", "search": True}}}
    )
    p = tmp_path / "arr.json"
    p.write_text(json.dumps([{"_id": "1", "title": "a"}, {"_id": "2", "title": "b"}]))
    assert read_docs(spark, str(p), m, format="json_array").count() == 2


def test_suggest_path(spark, tmp_path):
    docs = spark.createDataFrame(
        [("1", "hello world"), ("2", "hello there"), ("3", "help wanted"), ("4", "hello world")],
        "_id string, content string",
    )
    d = str(tmp_path / "idx")
    os.makedirs(d)
    build_suggest(spark, docs, "content", d, "content")
    table = load_suggest(spark, d, "content")
    got = [r["suggestion"] for r in suggest(table, "hel", count=5).collect()]
    assert got and all(g.startswith("hel") for g in got[:3])
    assert "hello" in got
    # fuzzy: one edit away still reachable
    got2 = [r["suggestion"] for r in suggest(table, "helo", count=5).collect()]
    assert "hello" in got2
    # infix
    got3 = [r["suggestion"] for r in suggest(table, "world", count=5).collect()]
    assert any("world" in g for g in got3)
    # slen partition layout prunes fuzzy candidate dirs: the fuzzy-1 branch
    # scan must carry PartitionFilters on slen (directory prune, not a full
    # table scan)
    from pyspark.sql import functions as F

    lenq = 4
    fuzzy1 = (
        table.where(F.col("slen").between(lenq - 1, lenq + 1))
        .where(F.levenshtein(F.col("suggestion"), F.lit("helo")) <= 1)
    )
    plan = fuzzy1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "slen" in plan.split("PartitionFilters")[1][:120], plan


def test_analyzer_registry(spark, tmp_path):
    from nixiesearch_spark.analysis import analyzer_col, analyzer_py

    assert analyzer_py("whitespace")("Hello-World foo") == ["hello-world", "foo"]
    assert analyzer_py("keyword")("Hello World") == ["Hello World"]
    assert analyzer_py("standard")("Hello-World foo") == ["hello", "world", "foo"]
    # per-field analyzer: keyword field matches whole value only
    df = spark.createDataFrame(
        [(1, "red dress", "SKU-1 A"), (2, "white dress", "SKU-2 B")],
        "doc_id long, title string, sku string",
    )
    d = str(tmp_path / "idx")
    cfg = IndexConfig(
        text_fields=("title", "sku"),
        analyzers={"sku": "keyword"},
        id_col="doc_id",
        n_shards=2,
    )
    IndexBuilder(spark, cfg).build(df, d)
    s = Searcher(IndexReader(spark, d))
    assert [r["docid"] for r in s.search(MatchQuery("sku", "SKU-1 A")).collect()] == [1]
    assert s.search(MatchQuery("sku", "SKU-1")).collect() == []  # not tokenized
    assert [r["docid"] for r in s.search(MatchQuery("title", "dress"), size=5).count() and
            s.search(MatchQuery("title", "red")).collect()] == [1]


def test_index_stats(spark, tmp_path):
    df = spark.createDataFrame([(1, "a b c"), (2, "d e")], "doc_id long, content string")
    d = str(tmp_path / "idx")
    IndexBuilder(spark, IndexConfig(text_fields=("content",), id_col="doc_id", n_shards=2)).build(
        df, d
    )
    st = IndexReader(spark, d).index_stats()
    assert st["fields"]["content"]["doc_count"] == 2
    assert st["fields"]["content"]["sum_ttf"] == 5
    assert st["committed_shards"] == 2
    assert st["size_bytes"] > 0


def test_geo_sort_and_merged_facets(spark, tmp_path):
    from nixiesearch_spark.query.aggs import merged_match_set, term_agg

    df = spark.createDataFrame(
        [
            (1, "cafe berlin", 52.52, 13.40, "eu"),
            (2, "cafe paris", 48.85, 2.35, "eu"),
            (3, "cafe nyc", 40.71, -74.00, "us"),
        ],
        "doc_id long, title string, lat double, lon double, region string",
    )
    df = df.selectExpr("doc_id", "title", "named_struct('lat', lat, 'lon', lon) as loc", "region")
    d = str(tmp_path / "idx")
    IndexBuilder(spark, IndexConfig(text_fields=("title",), id_col="doc_id", n_shards=2)).build(
        df, d
    )
    s = Searcher(IndexReader(spark, d))
    got = s.search(
        MatchQuery("title", "cafe"),
        size=3,
        sort=[({"field": "loc", "lat": 50.0, "lon": 8.0}, "asc")],
    )
    assert [r["docid"] for r in got.collect()] == [2, 1, 3]  # Paris < Berlin < NYC from Frankfurt
    # merged facets across two RRF branches (union of match sets)
    b1 = s.score(MatchQuery("title", "berlin"))
    b2 = s.score(MatchQuery("title", "paris"))
    rows = term_agg(merged_match_set([b1, b2]), s.reader.docs, "region", 5).collect()
    assert [(r["term"], r["count"]) for r in rows] == [("eu", 2)]


def test_kafka_offset_options():
    from nixiesearch_spark.sources.kafka import options_for

    o = options_for("docs", "k:9092", "earliest")
    assert o["startingOffsets"] == "earliest"
    assert options_for("docs", "k:9092", "committed").get("startingOffsets") is None
    o = options_for("docs", "k:9092", "ts:1700000000000")
    # global startingTimestamp, not startingOffsetsByTimestamp — Spark's
    # Kafka source has no "-1" partition wildcard for the per-topic map
    assert o["startingTimestamp"] == "1700000000000"
    o = options_for("docs", "k:9092", "last:2h")
    ts = int(o["startingTimestamp"])
    import time as _t

    assert abs((_t.time() * 1000 - 2 * 3600_000) - ts) < 60_000
    import pytest as _pt

    with _pt.raises(ValueError):
        options_for("docs", "k:9092", "bogus")


def test_stopword_entries_survive_tokenizer():
    # every stopword must be a token its chain's tokenizer can produce —
    # otherwise the entry is dead weight (e.g. an accented word under the
    # ASCII tokenizer). german/french run the Unicode-Latin tokenizer, so
    # accented entries are legal there.
    from nixiesearch_spark.analysis import (
        LANG_STOPWORDS,
        tokenize_catalan_py,
        tokenize_latin_py,
        tokenize_py,
        tokenize_unicode_py,
    )

    toks = {
        lang: tokenize_latin_py
        for lang in (
            "german", "french", "spanish", "italian", "portuguese",
            "dutch", "swedish", "norwegian", "danish", "romanian", "czech",
            "finnish", "hungarian", "latvian", "lithuanian", "estonian",
            "galician", "basque", "irish", "polish", "brazilian",
        )
    }
    toks["catalan"] = tokenize_catalan_py
    # russian/greek/arabic/bulgarian/persian chains run the unicode
    # tokenizer — entries must survive it VERBATIM (incl. the ς→σ
    # normalization: "της" would be dead). persian is special again: its
    # stop set is compared POST-normalization, so each (normalized) entry
    # must equal the normalization of SOME tokenizer token — checked below.
    for lang in ("russian", "arabic", "bulgarian", "ukrainian", "armenian",
                 "tamil"):
        toks[lang] = tokenize_unicode_py
    # the cjk chain's stop set is English words — they must survive the
    # CJK tokenizer (ASCII runs pass through unbigrammed)
    from nixiesearch_spark.analysis import tokenize_cjk_py, tokenize_turkish_py

    from nixiesearch_spark.analysis import tokenize_thai_py

    toks["cjk"] = tokenize_cjk_py
    toks["thai"] = tokenize_thai_py
    toks["turkish"] = tokenize_turkish_py
    for lang, words in LANG_STOPWORDS.items():
        if lang in ("persian", "hindi", "greek", "serbian", "bengali",
                    "sorani"):
            continue
        tok = toks.get(lang, tokenize_py)
        for w in words:
            assert tok(w) == [w], f"{lang} stopword {w!r} not a tokenizer token"
    # persian: every listed entry must be tokenizer-survivable and a fixed
    # point of the chain's normalizer (the registry normalizes the set, so
    # a non-normalized entry would silently change spelling)
    from nixiesearch_spark.light import persian_py

    for w in LANG_STOPWORDS["persian"]:
        assert tokenize_unicode_py(w) == [w], f"persian stopword {w!r} not a token"
        assert persian_py(w) == w, f"persian stopword {w!r} not in normalized form"
    # hindi compares post-normalization too (norm → stop → stem)
    from nixiesearch_spark.light import hindi_norm_py

    for w in LANG_STOPWORDS["hindi"]:
        assert tokenize_unicode_py(w) == [w], f"hindi stopword {w!r} not a token"
        assert hindi_norm_py(w) == w, f"hindi stopword {w!r} not in normalized form"
    # greek compares post-normalization too (σ-folded + accent-free)
    from nixiesearch_spark.greek import greek_norm_py

    for w in LANG_STOPWORDS["greek"]:
        assert tokenize_unicode_py(w) == [w], f"greek stopword {w!r} not a token"
        assert greek_norm_py(w) == w, f"greek stopword {w!r} not in normalized form"
    # serbian/bengali/sorani compare post-normalization but their lists
    # hold SURFACE forms (the chain constructor normalizes the set), so the
    # requirement is tokenizer survival only — norm(entry) then equals
    # norm(token) whenever entry == token
    for lang in ("serbian", "bengali", "sorani"):
        for w in LANG_STOPWORDS[lang]:
            assert tokenize_unicode_py(w) == [w], f"{lang} stopword {w!r} not a token"


def test_language_analyzers(spark, tmp_path):
    from nixiesearch_spark.analysis import analyzer_py

    assert analyzer_py("english")("The quick fox and the dog") == ["quick", "fox", "dog"]
    # german is now a full Snowball chain: stop + stem (katze → katz)
    assert analyzer_py("german")("Der Hund und die Katze") == ["hund", "katz"]
    # index+query use the same chain: stopword-only query matches nothing
    df = spark.createDataFrame(
        [(1, "the quick fox"), (2, "a lazy dog")], "doc_id long, content string"
    )
    d = str(tmp_path / "idx")
    cfg = IndexConfig(
        text_fields=("content",), analyzers={"content": "english"}, id_col="doc_id", n_shards=2
    )
    IndexBuilder(spark, cfg).build(df, d)
    s = Searcher(IndexReader(spark, d))
    assert [r["docid"] for r in s.search(MatchQuery("content", "quick")).collect()] == [1]
    assert s.search(MatchQuery("content", "the and a")).collect() == []
    # stopwords excluded from doc length → scores reflect the shorter dl
    st = IndexReader(spark, d).stats["fields"]["content"]
    assert st["sum_ttf"] == 4  # quick fox | lazy dog


def test_read_ndjson_zstd(spark, tmp_path):
    import shutil as _sh
    import subprocess

    if not _sh.which("zstd"):
        pytest.skip("zstd CLI unavailable")
    m = IndexMapping.from_dict(
        {"name": "src", "fields": {"title": {"type": "text", "search": True}}}
    )
    p = tmp_path / "docs.ndjson"
    p.write_text('{"_id": "1", "title": "red dress"}\n{"_id": "2", "title": "blue jeans"}\n')
    subprocess.run(["zstd", "-q", str(p), "-o", str(tmp_path / "docs.ndjson.zst")], check=True)
    df = read_docs(spark, str(tmp_path / "docs.ndjson.zst"), m)
    got = {r["_id"]: r["title"] for r in df.collect()}
    assert got == {"1": "red dress", "2": "blue jeans"}
