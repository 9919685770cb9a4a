"""Prometheus text-format metrics export.

The reference serves GET /metrics in Prometheus exposition format
(``api/MetricsRoute.scala``; JVM/index/search metric families). The Spark
engine's metrics live in the lineage table and stats.json; this module
renders the same kinds of facts in the standard text format so any scraper
pointed at a thin HTTP wrapper (or a pushgateway job) reads them — no
client library needed, the exposition format is plain text lines:

    metric_name{label="value"} number

Searcher-level counters (searches served, driver-mode hits, plan-cache
hits) are optional: pass the searcher to include them.
"""

from __future__ import annotations


def _esc(v: str) -> str:
    return str(v).replace("\\", r"\\").replace('"', r'\"').replace("\n", r"\n")


def _line(name: str, value, labels: dict | None = None) -> str:
    if labels:
        lab = ",".join(f'{k}="{_esc(v)}"' for k, v in sorted(labels.items()))
        return f"{name}{{{lab}}} {value}"
    return f"{name} {value}"


def export_prometheus(reader, searcher=None, labels: dict | None = None, indexer=None) -> str:
    """Render index (and optional searcher) metrics in Prometheus text
    exposition format. Only driver-held state is read — stats.json, the
    filesystem and the reader's head segment counters — so the export
    itself costs zero Spark jobs. ``labels``
    (e.g. ``{"index": name}``) is merged into EVERY sample — required when
    one scrape concatenates several indexes, or the repeated metric names
    would be duplicate samples Prometheus rejects. Pass the write path's
    IncrementalIndexer as ``indexer`` to count its batches by build path
    and, for the Spark path, by the reason the driver path declined."""
    base = dict(labels or {})

    def _l(name, value, extra=None):
        return _line(name, value, {**base, **(extra or {})} or None)

    out: list[str] = []

    out.append("# HELP nixiesearch_index_docs per-field indexed document count")
    out.append("# TYPE nixiesearch_index_docs gauge")
    for f, st in reader.stats.get("fields", {}).items():
        out.append(_l("nixiesearch_index_docs", st.get("doc_count", 0), {"field": f}))

    out.append("# HELP nixiesearch_index_terms_total per-field total term frequency")
    out.append("# TYPE nixiesearch_index_terms_total gauge")
    for f, st in reader.stats.get("fields", {}).items():
        out.append(_l("nixiesearch_index_terms_total", st.get("sum_ttf", 0), {"field": f}))

    out.append("# HELP nixiesearch_index_avgdl per-field average document length")
    out.append("# TYPE nixiesearch_index_avgdl gauge")
    for f, st in reader.stats.get("fields", {}).items():
        out.append(_l("nixiesearch_index_avgdl", st.get("avgdl", 0.0), {"field": f}))

    out.append("# HELP nixiesearch_index_seqnum index manifest sequence number")
    out.append("# TYPE nixiesearch_index_seqnum gauge")
    out.append(_l("nixiesearch_index_seqnum", reader.stats.get("seqnum", 0)))

    out.append("# HELP nixiesearch_index_shards configured shard count")
    out.append("# TYPE nixiesearch_index_shards gauge")
    out.append(_l("nixiesearch_index_shards", reader.stats.get("n_shards", 0)))

    import os

    if os.path.isdir(reader.index_dir):
        out.append("# HELP nixiesearch_index_size_bytes index size on disk")
        out.append("# TYPE nixiesearch_index_size_bytes gauge")
        out.append(_l("nixiesearch_index_size_bytes", reader.size_on_disk()))

    seg = reader.head_segment
    out.append(
        "# HELP nixiesearch_head_segment_bytes bytes the search head's resident "
        "segment holds (0 until a head request loads it)"
    )
    out.append("# TYPE nixiesearch_head_segment_bytes gauge")
    out.append(_l("nixiesearch_head_segment_bytes", seg.nbytes))
    out.append(
        "# HELP nixiesearch_head_segment_load_seconds time spent loading the "
        "resident segment's parts"
    )
    out.append("# TYPE nixiesearch_head_segment_load_seconds gauge")
    out.append(_l("nixiesearch_head_segment_load_seconds", round(seg.load_s, 6)))

    if searcher is not None:
        c = getattr(searcher, "counters", {})
        out.append("# HELP nixiesearch_searches_total searches served by this searcher")
        out.append("# TYPE nixiesearch_searches_total counter")
        out.append(_l("nixiesearch_searches_total", c.get("searches", 0)))
        out.append(
            "# HELP nixiesearch_autorouted_total requests the auto physical "
            "router served (search-head kernels or size-adaptive WAND) "
            "instead of the plain Catalyst plan"
        )
        out.append("# TYPE nixiesearch_autorouted_total counter")
        out.append(_l("nixiesearch_autorouted_total", c.get("autorouted", 0)))
        out.append("# HELP nixiesearch_plan_cache_hits_total compiled-plan cache hits")
        out.append("# TYPE nixiesearch_plan_cache_hits_total counter")
        out.append(_l("nixiesearch_plan_cache_hits_total", c.get("plan_cache_hits", 0)))

    if indexer is not None:
        out.append(
            "# HELP nixiesearch_pushes_total batches indexed, by build path "
            "(driver or spark) and the reason the driver path declined"
        )
        out.append("# TYPE nixiesearch_pushes_total counter")
        for key, n in sorted(indexer.pushes.items()):
            path, _, reason = key.partition(":")
            out.append(_l("nixiesearch_pushes_total", n,
                          {"path": path, **({"reason": reason} if reason else {})}))

    return "\n".join(out) + "\n"
