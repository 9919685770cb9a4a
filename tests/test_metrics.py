"""Prometheus text-format export over index stats + searcher counters."""

from __future__ import annotations

from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig, IndexReader
from nixiesearch_spark.metrics import export_prometheus
from nixiesearch_spark.query import MatchQuery, Searcher


def test_export_prometheus(spark, tmp_path, tiny_corpus_pd):
    d = str(tmp_path / "idx")
    cfg = IndexConfig(text_fields=("content",), n_shards=4, quantize=True, block_size=16)
    IndexBuilder(spark, cfg).build(spark.createDataFrame(tiny_corpus_pd), d)
    reader = IndexReader(spark, d)
    assert "nixiesearch_head_segment_bytes 0\n" in export_prometheus(reader)
    assert "nixiesearch_head_segment_load_seconds 0.0\n" in export_prometheus(reader)
    s = Searcher(reader)
    s.search(MatchQuery("content", "def import"), size=5).collect()  # driver route
    s.search(MatchQuery("content", "def import"), size=5, mode="flat")
    s.search(MatchQuery("content", "def import"), size=5, mode="flat")  # cache hit
    sc = spark.sparkContext
    sc.setJobGroup("metrics-export", "metrics export")
    try:
        text = export_prometheus(reader, s)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup("metrics-export")
    seg = reader.head_segment
    assert seg.nbytes > 0 and seg.load_s > 0
    assert f"nixiesearch_head_segment_bytes {seg.nbytes}" in text
    assert "nixiesearch_head_segment_load_seconds" in text
    assert 'nixiesearch_index_docs{field="content"} 300' in text
    assert "nixiesearch_index_seqnum" in text
    assert "nixiesearch_index_size_bytes" in text
    assert "nixiesearch_searches_total 3" in text
    assert "nixiesearch_autorouted_total 1" in text
    assert "nixiesearch_plan_cache_hits_total 1" in text
    # exposition format: every non-comment line is "name{labels} value"
    for line in text.strip().splitlines():
        if line.startswith("#"):
            continue
        name, _, val = line.rpartition(" ")
        float(val)
        assert name
