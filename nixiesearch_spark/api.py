"""HTTP API facade over the engine — the reference's REST surface
re-expressed on the Python/Spark stack with ZERO new dependencies
(stdlib ``http.server`` only).

Route parity (reference ``api/*.scala``; both the ``/v1`` forms and the
legacy underscore forms are served, like ``MainRoute.scala``):

- ``GET  /health``                               → HealthRoute.scala:8
- ``GET  /metrics``                              → MetricsRoute.scala:21
- ``GET  /v1/index`` (+ ``/_indexes``)           → AdminRoute.scala:20
- ``GET  /v1/index/{i}`` (+ ``/{i}/_mapping``)   → MappingRoute.scala:15
- ``GET  /v1/index/{i}/stats`` (+ ``_stats``)    → StatsRoute.scala:13
- ``POST /v1/index/{i}/search`` (+ ``_search``)  → SearchRoute.scala:60
- ``POST /v1/index/{i}/suggest`` (+ ``_suggest``)→ SearchRoute.scala:64
- ``POST /v1/index/{i}`` (+ ``_index``)          → IndexModifyRoute.scala:24
  — the REST push source: NDJSON or a JSON array of documents, validated
  as createDataFrame would (no Spark job) and indexed through
  IncrementalIndexer.process_batch, which builds it on the driver when it
  can (commit-after-batch, same exactly-once semantics as the file/kafka
  streaming sources)
- ``POST /v1/index/{i}/flush`` (+ ``_flush``)    → IndexModifyRoute.scala:22
- ``POST /v1/index/{i}/merge`` (+ ``_merge``)    → IndexModifyRoute.scala:23
- ``POST /v1/index/{i}/delete`` (+ ``_delete``)  → IndexModifyRoute.scala:25
- ``DELETE /v1/index/{i}/doc/{docid}``           → IndexModifyRoute.scala:26

Search request body mirrors ``SearchRoute.SearchRequest``: ``{"query":
<DSL>, "filters": ..., "size": N, "fields": [...], "sort": [...],
"aggs": {name: {"term": {"field", "size"}} | {"range": {"field",
"ranges"}}}}``; the response mirrors ``SearchRoute.SearchResponse``:
``{"took": sec, "hits": [{"_id", "_score", ...fields}], "aggs": {...},
"ts": epoch_ms}``. ``_id`` is serialized as a STRING — docids are int64
and JSON numbers above 2^53 lose precision in JS clients.

Scale note: the server is a thin facade — a search costs exactly what the
underlying Searcher costs (search-head pyarrow kernels for routable
queries, Catalyst plans otherwise), and a concurrent-request lock
serializes Spark access per process (one driver). At fleet scale the
stateless facade replicates behind a load balancer over a shared index
dir, exactly the reference's searcher topology.

Out of scope like the rest of v1: inference/RAG routes
(``InferenceRoute.scala``) — model serving is the declared ONNX plug
point, not a Spark workload.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession


class ApiError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def config_from_stats(index_dir: str, text_fields: tuple | None = None):
    """IndexConfig matching a committed index's own parameters — the safe
    way to enable writes on an existing dir (a hand-built config with a
    different shard count or analyzer map would corrupt appended batches:
    wrong shard routing AND query-vs-index analysis mismatch)."""
    from nixiesearch_spark.index import IndexConfig

    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    return IndexConfig(
        text_fields=text_fields or tuple(stats["fields"]),
        analyzers=dict(stats.get("analyzers", {})),
        n_shards=int(stats["n_shards"]),
        quantize=bool(stats.get("quantize", True)),
        block_size=int(stats.get("block_size", 128)),
    )


class IndexHandle:
    """One served index: lazy reader/searcher (re-opened when the on-disk
    seqnum moves — the reader caches stats at open) plus an optional write
    path (IncrementalIndexer) when an IndexConfig is registered."""

    def __init__(self, spark, index_dir, config=None, mapping=None):
        self.spark = spark
        self.index_dir = index_dir
        self.config = config
        self.mapping = mapping
        self._reader = None
        self._searcher = None
        self._indexer = None
        self._seqnum = None
        self._next_batch = None
        self._push_schema = None

    # ---- read side ----

    def _disk_seqnum(self):
        try:
            with open(os.path.join(self.index_dir, "stats.json")) as f:
                return json.load(f).get("seqnum")
        except FileNotFoundError:
            raise ApiError(404, f"index dir {self.index_dir!r} has no committed index")

    def searcher(self):
        from nixiesearch_spark.index import IndexReader
        from nixiesearch_spark.query import Searcher

        seq = self._disk_seqnum()
        if self._searcher is None or seq != self._seqnum:
            self._reader = IndexReader(self.spark, self.index_dir)
            self._searcher = Searcher(self._reader, mapping=self.mapping)
            self._seqnum = seq
        return self._searcher

    def reader(self):
        self.searcher()
        return self._reader

    # ---- write side ----

    def indexer(self):
        from nixiesearch_spark.streaming.incremental import IncrementalIndexer

        if self.config is None:
            raise ApiError(400, "index is read-only (no IndexConfig registered)")
        if self._indexer is None:
            # a config disagreeing with the committed index would corrupt
            # appends (shard routing + analyzer mismatch) — reject upfront
            try:
                with open(os.path.join(self.index_dir, "stats.json")) as f:
                    stats = json.load(f)
            except FileNotFoundError:
                stats = None
            if stats is not None:
                for attr, key in (("n_shards", "n_shards"), ("quantize", "quantize")):
                    if getattr(self.config, attr) != stats.get(key, getattr(self.config, attr)):
                        raise ApiError(
                            400,
                            f"registered config {attr}={getattr(self.config, attr)} "
                            f"!= committed index {stats.get(key)} "
                            "(use api.config_from_stats)",
                        )
                # effective analyzer per field (unset = "standard")
                for fld, az in stats.get("analyzers", {}).items():
                    if self.config.analyzers.get(fld, "standard") != az:
                        raise ApiError(
                            400,
                            f"registered analyzer for {fld!r} differs from the "
                            f"committed index ({az!r}; use api.config_from_stats)",
                        )
            self._indexer = IncrementalIndexer(self.spark, self.config, self.index_dir)
        return self._indexer

    def next_batch_id(self) -> int:
        """Docs-table batch seqnums are a COUNTER (streaming batch ids),
        distinct from stats.json's epoch-ms manifest seqnum — continue the
        counter from the table's own max so API pushes order correctly
        after (and interleaved with) streaming batches."""
        if self._next_batch is None:
            from nixiesearch_spark.index.parquet_files import column_max

            # the docs dir is schema-evolved (full-build files lack seqnum,
            # pushed batches carry it): the footers' seqnum statistics give
            # the max over the files that have the column, with no Spark job
            path = os.path.join(self.index_dir, "docs")
            readable, got = column_max(path, "seqnum")
            if not readable:  # storage pyarrow cannot open: one Spark agg
                got = None
                try:
                    import pyspark.sql.functions as F

                    # mergeSchema: single-footer inference may drop seqnum
                    docs = self.spark.read.option("mergeSchema", "true").parquet(path)
                    if "seqnum" in docs.columns:
                        got = docs.agg(F.max("seqnum")).first()[0]
                except Exception:  # empty dir — first batch
                    got = None
            self._next_batch = (int(got) if got is not None else 0) + 1
        else:
            self._next_batch += 1
        return self._next_batch


def _json_body(body: bytes):
    """Request-body JSON; malformed input is the CLIENT's error (400),
    never a 500."""
    try:
        return json.loads(body.decode() or "{}")
    except (json.JSONDecodeError, UnicodeDecodeError) as e:
        raise ApiError(400, f"malformed JSON body: {e}")


def _parse_docs(body: bytes, content_type: str) -> list[dict]:
    """NDJSON or JSON-array document payload (IndexModifyRoute accepts
    both single docs, arrays and streams; a single JSON object is treated
    as a one-document batch)."""
    try:
        text = body.decode("utf-8").strip()
    except UnicodeDecodeError as e:
        raise ApiError(400, f"payload is not UTF-8: {e}")
    if not text:
        raise ApiError(400, "empty document payload")
    try:
        if "ndjson" in (content_type or "") or (text[0] not in "[{"):
            docs = [json.loads(ln) for ln in text.splitlines() if ln.strip()]
        else:
            parsed = json.loads(text)
            docs = parsed if isinstance(parsed, list) else [parsed]
    except json.JSONDecodeError as e:
        raise ApiError(400, f"malformed document JSON: {e}")
    if not docs:
        raise ApiError(400, "empty document payload")
    bad = [d for d in docs if not isinstance(d, dict)]
    if bad:
        raise ApiError(400, "documents must be JSON objects")
    return docs


def _docid(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        raise ApiError(400, f"docid must be an integer, got {v!r}")


def _parse_sort(sort) -> list:
    """Reference sort items (SearchRoute.scala:430-445): a plain field
    name, ``{field: {"order", "missing"}}``, or the geo form
    ``{field: {"lat", "lon"}}`` → Searcher sort tuples/dicts."""
    out = []
    for item in sort or []:
        if isinstance(item, str):
            out.append((item, "asc", "last"))
        elif isinstance(item, dict) and len(item) == 1:
            fld, spec = next(iter(item.items()))
            if isinstance(spec, dict) and "lat" in spec:
                out.append({"field": fld, "lat": spec["lat"], "lon": spec["lon"]})
            else:
                spec = spec if isinstance(spec, dict) else {}
                out.append(
                    (fld, spec.get("order", "asc"), spec.get("missing", "last"))
                )
        else:
            raise ApiError(400, f"bad sort item: {item!r}")
    return out


class SearchServer:
    """Register index dirs, then ``serve_forever()`` (or ``start()`` for a
    daemon thread — the test/embedding mode)."""

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1", port: int = 8080):
        self.spark = spark
        self.indexes: dict[str, IndexHandle] = {}
        # one Spark driver: serialize engine work across HTTP threads
        # (health/metrics stay lock-free)
        self.lock = threading.RLock()
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test output
                pass

            def _send(self, status: int, payload, ctype="application/json"):
                body = (
                    payload.encode()
                    if isinstance(payload, str)
                    else json.dumps(payload).encode()
                )
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _dispatch(self, method: str):
                try:
                    status, payload, ctype = server.handle(
                        method, self.path, self._read_body(), self.headers
                    )
                    self._send(status, payload, ctype)
                except ApiError as e:
                    self._send(e.status, {"error": str(e)})
                except Exception as e:  # engine errors → 500 with message
                    self._send(500, {"error": f"{type(e).__name__}: {e}"})

            def _read_body(self) -> bytes:
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n) if n else b""

            def do_GET(self):
                self._dispatch("GET")

            def do_POST(self):
                self._dispatch("POST")

            def do_PUT(self):  # legacy PUT /{i}/_index
                self._dispatch("POST")

            def do_DELETE(self):
                self._dispatch("DELETE")

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]

    def add_index(self, name: str, index_dir: str, config=None, mapping=None):
        self.indexes[name] = IndexHandle(self.spark, index_dir, config, mapping)
        return self

    def start(self):
        t = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        t.start()
        return self

    def stop(self):
        self.httpd.shutdown()
        self.httpd.server_close()

    # ------------------------------------------------------------- routing

    def _handle_for(self, name: str) -> IndexHandle:
        h = self.indexes.get(name)
        if h is None:
            raise ApiError(404, f"index {name!r} is not registered")
        return h

    def handle(self, method, path, body, headers):
        """(status, payload, content_type) for one request. Pure routing —
        kept separate from the socket handler so tests can call it
        directly."""
        path = path.split("?", 1)[0].rstrip("/")
        if method == "GET" and path == "/health":
            return 200, "", "text/plain"
        if method == "GET" and path == "/metrics":
            return 200, self._metrics(), "text/plain; version=0.0.4"
        if method == "GET" and path in ("/v1/index", "/_indexes", "/_indices"):
            return 200, {"indexes": sorted(self.indexes)}, "application/json"

        m = re.fullmatch(r"/v1/index/([^/]+)(?:/([^/]+)(?:/([^/]+))?)?", path)
        legacy = re.fullmatch(r"/([^/]+)/_([a-z]+)(?:/([^/]+))?", path or "/")
        if m:
            name, verb, arg = m.group(1), m.group(2), m.group(3)
        elif legacy:
            name, verb, arg = legacy.group(1), legacy.group(2), legacy.group(3)
            verb = {"indexes": None, "indices": None}.get(verb, verb)
            if verb == "index":
                verb = None  # POST /{i}/_index == POST /v1/index/{i}
        else:
            raise ApiError(404, f"no route for {method} {path}")
        h = self._handle_for(name)

        if method == "GET":
            if verb in (None, "mapping"):
                with self.lock:  # mapping-less handles open the reader here
                    return 200, self._mapping(h), "application/json"
            if verb == "stats":
                with self.lock:
                    return 200, h.reader().index_stats(), "application/json"
        if method == "POST":
            if verb == "search":
                with self.lock:
                    return 200, self._search(h, _json_body(body)), "application/json"
            if verb == "suggest":
                with self.lock:
                    return 200, self._suggest(h, _json_body(body)), "application/json"
            if verb is None:
                with self.lock:
                    return 200, self._index_docs(h, body, headers.get("Content-Type", "")), "application/json"
            if verb == "flush":
                with self.lock:
                    h.indexer().builder.finalize(h.index_dir, pack=True)
                return 200, {"status": "ok"}, "application/json"
            if verb == "merge":
                with self.lock:
                    h.indexer().compact()
                return 200, {"status": "ok"}, "application/json"
            if verb == "delete":
                ids = _json_body(body).get("ids")
                if not ids:
                    raise ApiError(400, "delete body needs {\"ids\": [docid, ...]}")
                with self.lock:
                    h.indexer().delete_ids([_docid(i) for i in ids])
                return 200, {"status": "ok", "deleted": len(ids)}, "application/json"
        # /v1/index/{i}/doc/{docid} and the legacy /{i}/_delete/{docid}
        if method == "DELETE" and verb in ("doc", "delete") and arg is not None:
            with self.lock:
                h.indexer().delete_ids([_docid(arg)])
            return 200, {"status": "ok", "deleted": 1}, "application/json"
        raise ApiError(404, f"no route for {method} {path}")

    # ------------------------------------------------------------ handlers

    def _mapping(self, h: IndexHandle) -> dict:
        if h.mapping is not None:
            return {
                "name": h.mapping.name,
                "fields": {
                    n: {
                        k: v
                        for k, v in f.__dict__.items()
                        if k != "name" and v is not None
                    }
                    for n, f in h.mapping.fields.items()
                },
            }
        # mapping-less index: derive a minimal view from stats.json
        stats = h.reader().stats
        return {
            "fields": {
                f: {"type": "text", "search": True} for f in stats.get("fields", {})
            },
            "analyzers": stats.get("analyzers", {}),
        }

    def _search(self, h: IndexHandle, req: dict) -> dict:
        t0 = time.monotonic()
        s = h.searcher()
        fields = req.get("fields")
        df = s.search(
            req.get("query"),
            filters=req.get("filters"),
            size=int(req.get("size", 10)),
            fields=fields,
            sort=_parse_sort(req.get("sort")) or None,
        )
        hits = []
        for row in df.collect():
            d = row.asDict(recursive=True)
            hit = {"_id": str(d.pop("docid")), "_score": d.pop("score", None)}
            hit.update(d)
            hits.append(hit)
        aggs = {}
        for agg_name, spec in (req.get("aggs") or {}).items():
            kind, body = next(iter(spec.items()))
            if kind == "term":
                rows = s.facet_term(
                    req.get("query"), body["field"],
                    size=body.get("size", 10), filters=req.get("filters"),
                ).collect()
                aggs[agg_name] = {
                    "buckets": [r.asDict(recursive=True) for r in rows]
                }
            elif kind == "range":
                rows = s.facet_range(
                    req.get("query"), body["field"], body["ranges"],
                    filters=req.get("filters"),
                ).collect()
                aggs[agg_name] = {
                    "buckets": [r.asDict(recursive=True) for r in rows]
                }
            else:
                raise ApiError(400, f"unknown aggregation kind {kind!r}")
        return {
            "took": round(time.monotonic() - t0, 6),
            "hits": hits,
            "aggs": aggs,
            "ts": int(time.time() * 1000),
        }

    def _suggest(self, h: IndexHandle, req: dict) -> dict:
        from nixiesearch_spark.query.suggest import (
            load_suggest,
            suggest,
            suggest_driver,
        )

        t0 = time.monotonic()
        field = req.get("field") or next(iter(h.reader().stats["fields"]))
        if not os.path.isdir(os.path.join(h.index_dir, "suggest", f"field={field}")):
            raise ApiError(400, f"no suggest table for field {field!r}")
        text, count = req.get("text", ""), int(req.get("count", 10))
        # search-head path first (pyarrow pruned read, zero Spark jobs;
        # rank/fusion-identical to the cluster plan — returns None when the
        # dir isn't locally readable or the pruned band is too large)
        df = suggest_driver(self.spark, h.index_dir, field, text, count=count)
        if df is None:
            df = suggest(load_suggest(self.spark, h.index_dir, field), text, count=count)
        rows = df.collect()
        return {
            "suggestions": [
                {"text": r["suggestion"], "score": float(r["score"])} for r in rows
            ],
            "took": round(time.monotonic() - t0, 6),
        }

    def _index_docs(self, h: IndexHandle, body: bytes, content_type: str) -> dict:
        from nixiesearch_spark.streaming.incremental import LocalBatch

        t0 = time.monotonic()
        docs = _parse_docs(body, content_type)
        indexer = h.indexer()
        # schema must be STABLE across pushes — per-request inference would
        # let type drift write conflicting parquet types into one column.
        # A registered mapping drives it (the reference's schema-driven
        # decode); otherwise the first push's inferred schema is pinned.
        if h._push_schema is None:
            if h.mapping is not None:
                from nixiesearch_spark.sources.files import mapping_schema

                h._push_schema = mapping_schema(h.mapping, corrupt_col=None)
            else:
                h._push_schema = self.spark.createDataFrame(docs).schema
        try:
            batch = LocalBatch.of(docs, h._push_schema)
        except Exception as e:
            raise ApiError(400, f"documents do not fit the index schema: {e}")
        indexer.process_batch(batch, h.next_batch_id())
        return {
            "status": "ok",
            "docs": len(docs),
            "took": round(time.monotonic() - t0, 6),
        }

    def _metrics(self) -> str:
        from nixiesearch_spark.metrics import export_prometheus

        lines, seen_meta = [], set()
        for name, h in sorted(self.indexes.items()):
            try:
                with self.lock:
                    text = export_prometheus(
                        h.reader(), h._searcher, labels={"index": name},
                        indexer=h._indexer,
                    )
            except ApiError:
                continue  # not yet committed — skip, like an empty registry
            # every sample carries index=name; HELP/TYPE headers must
            # appear ONCE per metric across the concatenation (duplicate
            # headers are invalid exposition format)
            for ln in text.splitlines():
                if ln.startswith("#"):
                    if ln in seen_meta:
                        continue
                    seen_meta.add(ln)
                lines.append(ln)
        return "\n".join(lines) + ("\n" if lines else "")
