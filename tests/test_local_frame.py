"""wand.LocalFrame: search-head answers held on the driver.

``collect()`` must return exactly what Spark's collect of
``createDataFrame(pdf, schema)`` returns (values and their Python types),
and every other DataFrame use must keep working through the lazily built
Spark frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from nixiesearch_spark.index.builder import IndexBuilder, IndexConfig, IndexReader
from nixiesearch_spark.query import MatchQuery, Searcher
from nixiesearch_spark.query.wand import (
    FINAL_SCHEMA,
    LocalFrame,
    bool_topk_driver,
    local_schema,
)


def _facet_frame(values, dtype) -> pd.DataFrame:
    """(term, count) the way Searcher._facet_values_local builds it."""
    vc = pd.Series(values, dtype=dtype).value_counts(dropna=True)
    return vc.rename_axis("term").reset_index(name="count")


def _typed(rows):
    return [[(type(v), v) for v in r] for r in rows]


@pytest.mark.parametrize(
    "values, dtype, spark_type",
    [
        ([3, 1, 3, 2, 1 << 40], "int64", LongType()),
        ([3, 1, 3, 2], "int32", IntegerType()),
        ([0.1, 2.5, 0.1, 1e30], "float32", FloatType()),
        ([0.1, 2.5, 0.1, 1e300], "float64", DoubleType()),
        (["py", "go", None, "py"], "object", StringType()),
    ],
)
def test_facet_terms_collect_like_spark(spark, values, dtype, spark_type):
    pdf = _facet_frame(values, dtype)
    schema = StructType(
        [StructField("term", spark_type), StructField("count", LongType(), False)]
    )
    got = LocalFrame(spark, pdf, schema).collect()
    want = spark.createDataFrame(pdf, schema).collect()
    assert got == want and _typed(got) == _typed(want)
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_nullable_columns_collect_like_spark(spark):
    # an open range bound is NaN in pandas and collects as None (Arrow's
    # from_pandas masks NaN as null); a None string stays None
    pdf = pd.DataFrame(
        {
            "range_from": [None, 10.0, 20.5],
            "range_to": [10.0, 20.5, None],
            "count": [4, 0, 7],
            "name": ["a", None, "c"],
            "score": np.array([1.1, np.nan, 3.3], dtype=np.float32),
        }
    )
    schema = local_schema(
        "range_from double, range_to double, count long, name string, score float"
    )
    got = LocalFrame(spark, pdf, schema).collect()
    want = spark.createDataFrame(pdf, schema).collect()
    assert got == want and _typed(got) == _typed(want)
    assert got[0]["range_from"] is None and got[2]["range_to"] is None
    assert got[1]["score"] is None
    pd.testing.assert_frame_equal(
        LocalFrame(spark, pdf, schema).toPandas(),
        spark.createDataFrame(pdf, schema).toPandas(),
    )


def test_float32_scores_collect_as_their_float32_value(spark):
    scores = np.array([1.0 / 3.0, 2.0 / 7.0], dtype=np.float32)
    pdf = pd.DataFrame({"docid": np.array([5, 9], dtype=np.int64), "score": scores})
    got = LocalFrame(spark, pdf, FINAL_SCHEMA)
    want = spark.createDataFrame(pdf, FINAL_SCHEMA)
    assert got.collect() == want.collect()
    assert [r["score"] for r in got.collect()] == [float(s) for s in scores]
    assert got.schema == want.schema and got.columns == want.columns
    pd.testing.assert_frame_equal(got.toPandas(), want.toPandas())


def test_empty_frame_keeps_its_schema(spark):
    e = LocalFrame.empty(spark, FINAL_SCHEMA)
    assert e.collect() == [] and e.columns == ["docid", "score"]
    assert e.to_spark().schema == FINAL_SCHEMA
    assert e.count() == 0  # DataFrame methods go to the Spark frame


def test_drop_stays_local(spark):
    pdf = pd.DataFrame({"docid": [3, 1], "score": [2.0, 1.0], "_rank": [1, 2]})
    lf = LocalFrame(spark, pdf, local_schema("docid long, score float, _rank long"))
    out = lf.drop("_rank")
    assert isinstance(out, LocalFrame) and out.columns == ["docid", "score"]
    assert [tuple(r) for r in out.collect()] == [(3, 2.0), (1, 1.0)]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory, tiny_corpus_pd):
    d = str(tmp_path_factory.mktemp("idxlocal"))
    pdf = tiny_corpus_pd.copy()
    pdf["nlen"] = pdf["content"].str.len().astype("int64")
    cfg = IndexConfig(text_fields=("content",), n_shards=4, quantize=True)
    IndexBuilder(spark, cfg).build(spark.createDataFrame(pdf), d)
    return IndexReader(spark, d)


def test_search_head_answers_are_local(built):
    s = Searcher(built, plan_cache=False)
    q = MatchQuery("content", "def import")
    assert isinstance(s.search(q, size=5), LocalFrame)
    assert isinstance(s.search(q, size=5, sort=[("nlen", "desc", "last")]), LocalFrame)
    assert isinstance(s.facet_term(q, "lang", 3), LocalFrame)
    assert isinstance(s.facet_range(q, "nlen", [{"lt": 900}, {"gte": 900}]), LocalFrame)
    dead = bool_topk_driver(built, [("must", MatchQuery("content", "zz_nope"))])
    assert isinstance(dead, LocalFrame) and dead.collect() == []
    assert dead.schema == FINAL_SCHEMA


@pytest.mark.parametrize("sort", [None, [("nlen", "desc", "last")]])
def test_fetch_fields_on_search_head_answer(built, sort):
    s = Searcher(built, plan_cache=False)
    q = MatchQuery("content", "def import")
    got = s.search(q, size=6, fields=["lang", "nlen"], sort=sort).collect()
    want = s.search(q, size=6, fields=["lang", "nlen"], sort=sort, mode="flat").collect()
    assert got == want and len(got) == 6
    assert got[0].__fields__ == want[0].__fields__


def test_select_falls_back_to_spark_frame(built):
    s = Searcher(built, plan_cache=False)
    q = MatchQuery("content", "def import")
    out = s.search(q, size=5)
    want = s.search(q, size=5, mode="flat")
    assert out.select("docid").collect() == want.select("docid").collect()
    renamed = out.withColumnRenamed("docid", "doc_id")
    assert renamed.columns == ["doc_id", "score"]
    assert renamed.collect() == want.collect()
