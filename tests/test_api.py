"""HTTP API facade: route parity + the REST push source round trip.

The server is exercised over a real socket (ThreadingHTTPServer on an
ephemeral port, urllib client) — the reference's api/*Route tests drive
http4s the same way. Search results must equal the direct Searcher call;
pushed documents must become searchable after the POST returns
(commit-after-batch); deletes must vanish immediately (tombstones).
"""

from __future__ import annotations

import json
import struct
import urllib.request

import pytest

from nixiesearch_spark.corpus import make_corpus
from nixiesearch_spark.index import IndexBuilder, IndexConfig
from nixiesearch_spark.query.suggest import build_suggest


def _req(port, method, path, body=None, ctype="application/json"):
    data = None
    if body is not None:
        data = body if isinstance(body, bytes) else json.dumps(body).encode()
    r = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=data, method=method,
        headers={"Content-Type": ctype},
    )
    try:
        with urllib.request.urlopen(r) as resp:
            raw = resp.read()
            return resp.status, (
                json.loads(raw) if resp.headers.get_content_type() == "application/json" else raw.decode()
            )
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    from nixiesearch_spark.api import SearchServer

    d = str(tmp_path_factory.mktemp("api_idx"))
    cfg = IndexConfig(text_fields=("content",), n_shards=4)
    df = spark.createDataFrame(make_corpus(300, seed=42))
    IndexBuilder(spark, cfg).build(df, d)
    build_suggest(spark, spark.read.parquet(f"{d}/docs"), "content", d, "content")
    srv = SearchServer(spark, port=0).add_index("docs", d, config=cfg).start()
    yield srv
    srv.stop()


def test_health_and_list(server):
    assert _req(server.port, "GET", "/health")[0] == 200
    st, body = _req(server.port, "GET", "/v1/index")
    assert st == 200 and body == {"indexes": ["docs"]}
    assert _req(server.port, "GET", "/_indexes")[1] == {"indexes": ["docs"]}


def test_mapping_and_stats(server):
    st, body = _req(server.port, "GET", "/v1/index/docs")
    assert st == 200 and "content" in body["fields"]
    st, legacy = _req(server.port, "GET", "/docs/_mapping")
    assert st == 200 and legacy == body
    st, stats = _req(server.port, "GET", "/v1/index/docs/stats")
    assert st == 200
    assert stats["fields"]["content"]["doc_count"] == 300
    assert stats["size_bytes"] > 0


def test_search_matches_direct(server, spark):
    from nixiesearch_spark.index import IndexReader
    from nixiesearch_spark.query import Searcher

    q = {"query": {"match": {"content": "def import return"}}, "size": 5}
    st, body = _req(server.port, "POST", "/v1/index/docs/search", q)
    assert st == 200 and len(body["hits"]) == 5
    direct = (
        Searcher(IndexReader(spark, server.indexes["docs"].index_dir))
        .search(q["query"], size=5)
        .collect()
    )
    assert [h["_id"] for h in body["hits"]] == [str(r["docid"]) for r in direct]
    assert [h["_score"] for h in body["hits"]] == [r["score"] for r in direct]
    # legacy route serves the identical response shape
    st, legacy = _req(server.port, "POST", "/docs/_search", q)
    assert [h["_id"] for h in legacy["hits"]] == [h["_id"] for h in body["hits"]]


# Search-head answers vs the pure-Catalyst plan, through SearchServer.handle:
# one request per served route (match OR/AND, bool, dis_max, rrf, sort by
# field, term and range facets). Open range bounds must serialize as null.
CUT_LO, CUT_HI = 600, 1400
EXACT_REQUESTS = [
    {"query": {"match": {"content": "def import return"}}, "size": 7},
    {"query": {"match": {"content": {"query": "def import", "operator": "and"}}}, "size": 7},
    {
        "query": {
            "bool": {
                "must": [{"match": {"content": "def"}}],
                "should": [{"match": {"content": "return class"}}],
                "must_not": [{"match": {"content": "lambda"}}],
            }
        },
        "size": 8,
    },
    {
        "query": {
            "dis_max": {
                "queries": [{"match": {"content": "import"}}, {"match": {"content": "return"}}],
                "tie_breaker": 0.3,
            }
        },
        "size": 8,
    },
    {
        "query": {
            "rrf": {
                "retrieve": [{"match": {"content": "def import"}},
                             {"match": {"content": "return"}}],
                "rank_window_size": 20,
            }
        },
        "size": 6,
    },
    {
        "query": {"match": {"content": "import"}},
        "size": 9,
        "sort": [{"nlen": {"order": "desc"}}],
    },
    {
        "query": {"match": {"content": "def import"}},
        "size": 3,
        "aggs": {
            "by_lang": {"term": {"field": "lang", "size": 4}},
            "by_len": {"range": {"field": "nlen", "ranges": [
                {"lt": CUT_LO}, {"gte": CUT_LO, "lt": CUT_HI}, {"gte": CUT_HI}]}},
        },
    },
]


@pytest.fixture(scope="module")
def exact(spark, tmp_path_factory):
    """Read-only index with an integer facet column, a SearchServer over
    it (driven through ``handle``, no socket) and a flat-plan Searcher."""
    from nixiesearch_spark.api import SearchServer
    from nixiesearch_spark.index import IndexReader
    from nixiesearch_spark.query import Searcher

    d = str(tmp_path_factory.mktemp("api_exact"))
    pdf = make_corpus(300, seed=7)
    pdf["nlen"] = pdf["content"].str.len().astype("int64")
    cfg = IndexConfig(text_fields=("content",), n_shards=4)
    IndexBuilder(spark, cfg).build(spark.createDataFrame(pdf), d)
    srv = SearchServer(spark, port=0).add_index("exact", d)
    yield srv, Searcher(IndexReader(spark, d), plan_cache=False)
    srv.httpd.server_close()


def _handle(srv, body):
    st, payload, _ = srv.handle(
        "POST", "/v1/index/exact/search", json.dumps(body).encode(), {}
    )
    assert st == 200
    json.dumps(payload)  # every value must be JSON-serializable
    return payload


def _bits(x):
    return struct.pack("<d", x)


def _flat_answer(flat, body):
    from nixiesearch_spark.api import _parse_sort

    q = body["query"]
    rows = flat.search(
        q, size=body["size"], sort=_parse_sort(body.get("sort")) or None, mode="flat"
    ).collect()
    aggs = {}
    for name, spec in (body.get("aggs") or {}).items():
        kind, a = next(iter(spec.items()))
        if kind == "term":
            out = flat.facet_term(q, a["field"], size=a["size"], mode="flat")
        else:
            out = flat.facet_range(q, a["field"], a["ranges"], mode="flat")
        aggs[name] = [r.asDict() for r in out.collect()]
    return rows, aggs


@pytest.mark.parametrize("i", range(len(EXACT_REQUESTS)))
def test_served_answers_equal_flat_plan(exact, i):
    srv, flat = exact
    body = EXACT_REQUESTS[i]
    got = _handle(srv, body)
    rows, aggs = _flat_answer(flat, body)
    assert rows, "request must match documents"
    assert [h["_id"] for h in got["hits"]] == [str(r["docid"]) for r in rows]
    # python floats of the float32 (float64 for rrf) scores, bit for bit
    assert [_bits(h["_score"]) for h in got["hits"]] == [_bits(r["score"]) for r in rows]
    assert {n: a["buckets"] for n, a in got["aggs"].items()} == aggs
    if "by_len" in aggs:
        b = got["aggs"]["by_len"]["buckets"]
        assert b[0]["range_from"] is None and b[-1]["range_to"] is None
        assert sum(x["count"] for x in b) > 0


def test_served_answers_make_no_jvm_round_trip(exact, spark, monkeypatch):
    """The same requests, answered again with the LocalRelation build and
    the classic DataFrame collect both raising: search-head answers are
    read from the driver-side frame."""
    srv, _ = exact
    warm = [_handle(srv, body) for body in EXACT_REQUESTS]

    def refuse(*a, **k):
        raise AssertionError("search-head answer crossed into the JVM")

    monkeypatch.setattr(type(spark), "createDataFrame", refuse)
    monkeypatch.setattr(type(spark.range(1)), "collect", refuse)
    for body, want in zip(EXACT_REQUESTS, warm):
        got = _handle(srv, body)
        assert got["hits"] == want["hits"] and got["aggs"] == want["aggs"]


def test_search_with_fields_and_aggs(server):
    q = {
        "query": {"match": {"content": "def import"}},
        "size": 3,
        "fields": ["lang"],
        "aggs": {"by_lang": {"term": {"field": "lang", "size": 5}}},
    }
    st, body = _req(server.port, "POST", "/v1/index/docs/search", q)
    assert st == 200
    assert all("lang" in h for h in body["hits"])
    buckets = body["aggs"]["by_lang"]["buckets"]
    assert buckets and all({"term", "count"} <= set(b) for b in buckets)


def test_suggest(server):
    st, body = _req(server.port, "POST", "/v1/index/docs/suggest",
                    {"text": "im", "count": 5, "field": "content"})
    assert st == 200 and body["suggestions"]
    assert all(s["score"] > 0 for s in body["suggestions"])


def test_push_then_search_then_delete(server):
    # REST push source: NDJSON docs become searchable when the POST returns
    nd = b'\n'.join(
        json.dumps(
            {"repo": "api", "path": f"p{i}", "commit": "c", "lang": "py",
             "content": f"zzapipush{i} pushed document"}
        ).encode()
        for i in range(3)
    )
    st, body = _req(server.port, "POST", "/v1/index/docs", nd,
                    ctype="application/x-ndjson")
    assert st == 200 and body["status"] == "ok" and body["docs"] == 3
    st, res = _req(server.port, "POST", "/v1/index/docs/search",
                   {"query": {"match": {"content": "zzapipush1"}}, "size": 5})
    assert st == 200 and len(res["hits"]) == 1
    victim = int(res["hits"][0]["_id"])
    # DELETE /doc/{id}: gone from results immediately (tombstone anti-join)
    st, body = _req(server.port, "DELETE", f"/v1/index/docs/doc/{victim}")
    assert st == 200 and body["deleted"] == 1
    st, res = _req(server.port, "POST", "/v1/index/docs/search",
                   {"query": {"match": {"content": "zzapipush1"}}, "size": 5})
    assert st == 200 and res["hits"] == []
    # stats reflect the pushed batch (doc_count grew past the base corpus)
    st, stats = _req(server.port, "GET", "/v1/index/docs/stats")
    assert stats["fields"]["content"]["doc_count"] == 303


def test_metrics_and_errors(server):
    st, text = _req(server.port, "GET", "/metrics")
    assert st == 200 and "nixiesearch_index_docs" in text
    # every sample carries the index label (multi-index scrapes need it)
    assert 'index="docs"' in text
    assert _req(server.port, "GET", "/v1/index/nope/stats")[0] == 404
    assert _req(server.port, "POST", "/v1/index/docs/search",
                {"query": {"bogus_kind": {}}})[0] in (400, 500)
    st, _ = _req(server.port, "POST", "/v1/index/docs", b"", "application/json")
    assert st == 400
    # malformed client input is a 400, never a 500
    assert _req(server.port, "POST", "/v1/index/docs/search",
                b"not json at all")[0] == 400
    assert _req(server.port, "POST", "/v1/index/docs",
                b'{"broken json', "application/x-ndjson")[0] == 400
    assert _req(server.port, "DELETE", "/v1/index/docs/doc/notanint")[0] == 400


def test_push_batch_seqnums_continue_counter(server, spark):
    # docs-table seqnums are a batch COUNTER (not the epoch-ms manifest
    # seqnum): pushes onto a full build start at 1 and increment
    # mergeSchema: base-build files lack seqnum, pushed batches carry it
    docs = spark.read.option("mergeSchema", "true").parquet(
        server.indexes["docs"].index_dir + "/docs"
    )
    seqs = sorted(
        r["seqnum"]
        for r in docs.select("seqnum").distinct().collect()
        if r["seqnum"] is not None
    )
    assert seqs and seqs[0] >= 1 and seqs[-1] < 1_000_000, seqs


def test_writable_config_must_match_index(server, spark):
    from nixiesearch_spark.api import SearchServer, config_from_stats

    d = server.indexes["docs"].index_dir
    bad = IndexConfig(text_fields=("content",), n_shards=32)  # index has 4
    srv2 = SearchServer(spark, port=0).add_index("docs", d, config=bad).start()
    try:
        st, body = _req(srv2.port, "POST", "/v1/index/docs",
                        {"repo": "x", "path": "p", "commit": "c",
                         "lang": "py", "content": "nope"})
        assert st == 400 and "n_shards" in body["error"]
    finally:
        srv2.stop()
    # config_from_stats derives a compatible one
    good = config_from_stats(d)
    assert good.n_shards == 4 and "content" in good.text_fields
