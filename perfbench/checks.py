"""Correctness of sampled responses, checked outside the timed phase.

``match`` requests are compared with the numpy BM25 oracle on docids and
float32 score bits; every other request with the engine's pure-Catalyst
plan (``Searcher(reader, plan_cache=False)`` in ``mode="flat"``); a
marker search must return exactly the docids of the batch just pushed.
"""

from __future__ import annotations

import numpy as np

from perfbench.inputs import FIELD

ID_COLS = ("repo", "path", "commit")  # IndexConfig's default docid input


def docids(spark, docs: list[dict]) -> list[int]:
    """Docids the index assigns: xxhash64 over IndexConfig's id columns."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({c: [d[c] for d in docs] for c in ID_COLS})
    rows = (
        spark.createDataFrame(pdf)
        .select(F.monotonically_increasing_id().alias("i"), F.xxhash64(*ID_COLS).alias("id"))
        .collect()
    )
    return [r["id"] for r in sorted(rows, key=lambda r: r["i"])]


def _hits(response: dict) -> list[tuple[int, np.float32]]:
    return [(int(h["_id"]), np.float32(h["_score"])) for h in response["hits"]]


def _diff(got: list, want: list) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if gd != wd or np.float32(gs).tobytes() != np.float32(ws).tobytes():
            return f"hit {i}: got ({gd}, {gs!r}), expected ({wd}, {ws!r})"
    return None


class Checker:
    """Reference answers for one state of the index."""

    def __init__(self, spark, index_dir: str, docs: list[dict], ids: list[int]):
        from nixiesearch_spark.index import IndexReader
        from nixiesearch_spark.query import Searcher

        self.flat = Searcher(IndexReader(spark, index_dir), plan_cache=False)
        self._docs, self._ids = docs, ids
        self._oracle = None

    def oracle(self):
        if self._oracle is None:
            from nixiesearch_spark.oracle import build_oracle_index

            self._oracle = build_oracle_index(
                list(zip(self._ids, (d[FIELD] for d in self._docs)))
            )
        return self._oracle

    def _match_reference(self, query: dict, size: int) -> list | None:
        from nixiesearch_spark.analysis import tokenize_py
        from nixiesearch_spark.oracle import score_match

        if set(query) != {"match"}:
            return None
        spec = query["match"][FIELD]
        text, op = (spec, "or") if isinstance(spec, str) else (spec["query"], spec["operator"])
        return [(d, np.float32(s)) for d, s in
                score_match(self.oracle(), tokenize_py(text), op, k=size)]

    def check(self, body: dict, response: dict) -> str | None:
        """None when the response is right, else what differs."""
        size = int(body.get("size", 10))
        want = None
        if "filters" not in body:
            want = self._match_reference(body["query"], size)
        if want is None:
            rows = self.flat.search(
                body["query"], filters=body.get("filters"), size=size, mode="flat"
            ).collect()
            want = [(int(r["docid"]), np.float32(r["score"])) for r in rows]
        err = _diff(_hits(response), want)
        if err is None:
            for name, spec in (body.get("aggs") or {}).items():
                agg = spec["term"]
                rows = self.flat.facet_term(
                    body["query"], agg["field"], size=agg["size"],
                    filters=body.get("filters"), mode="flat",
                ).collect()
                if [r.asDict() for r in rows] != response["aggs"][name]["buckets"]:
                    err = f"agg {name}: buckets differ from the flat plan"
        return err


def check_marker(response: dict, expected: list[int]) -> str | None:
    got = sorted(int(h["_id"]) for h in response["hits"])
    if got != sorted(expected):
        return f"marker search returned {len(got)} docs, expected the {len(expected)} pushed"
    return None
