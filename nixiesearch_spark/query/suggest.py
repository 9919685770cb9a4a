"""Autocomplete suggestions: shingle table + 4-way candidate retrieval +
RRF fusion.

Reference design (``core/suggest/*``, SURVEY.md §3.3): index side generates
sliding-window shingles of 1..3 analyzed tokens per suggest field
(``SuggestCandidates.scala:8-21``); query side runs FOUR completion queries
— prefix, fuzzy distance-1, fuzzy distance-2, infix regex ``.*q.*`` —
against the suggest structure (``GeneratedSuggestions.scala:41-91``) and
fuses them with RRF scale=60, case-insensitive
(``rank/RRFSuggestionRanker.scala:12-31``), taking ``count``.

Spark shape: the suggest table is a (suggestion, freq) parquet sorted by
suggestion — prefix queries push ``LIKE 'q%'`` (converted by Catalyst to
StartsWith → parquet min/max skip); fuzzy branches pre-prune with a length
band before ``levenshtein`` (built-in JVM expression), the analog of the
reference's FST automaton cutting the candidate space.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nixiesearch_spark.analysis import tokenize_col
from nixiesearch_spark.query.ranks import rank_limited
from nixiesearch_spark.query.wand import LocalFrame, local_schema

RRF_SCALE = 60.0
MAX_SHINGLE = 3


def shingles_from_tokens(toks, max_n: int = MAX_SHINGLE):
    """Array of 1..max_n-token shingles from a BOUND token-array column,
    order-preserving.

    ``toks`` must be a plain column reference, NOT an expression tree: an
    expression embedded inside the ``F.transform`` lambda is re-evaluated
    for EVERY element (whole-stage codegen does not subexpression-
    eliminate across HOF lambda invocations), which turns shingling into
    O(tokens²) per document — 241 s for 500 × 1000-token docs measured,
    vs ~2 s with the array bound to an attribute first."""

    def gram(n: int):
        # NOTE: a 2-arg lambda would be treated as (element, index) by
        # F.transform — keep the closure single-argument
        return lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))

    parts = []
    for n in range(1, max_n + 1):
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(-1)))
        parts.append(
            F.when(F.size(toks) >= n, F.transform(idx, gram(n))).otherwise(F.array())
        )
    return F.flatten(F.array(*parts))


# suggestion-length partition cap: dirs slen=1..LEN_CAP, longer shingles
# pool in the LEN_CAP bucket (they are rare; exact length predicates still
# apply inside it)
LEN_CAP = 32


def build_suggest(
    spark: SparkSession, docs: DataFrame, text_col: str, index_dir: str, field: str
) -> None:
    """Build the suggest table for ``field`` from stored docs content.

    Layout: partitioned by capped suggestion length (slen), sorted by
    suggestion within files. The reference's FST automatons bound fuzzy
    candidates by edit-distance-reachable lengths; here the slen directory
    prune is that bound (a fuzzy-1 query reads 3 of ~32 directories, never
    the whole table), while the sort keeps prefix queries on parquet
    min/max skipping inside each directory."""
    sugg = (
        # tokenize ONCE into a bound column before the shingle HOFs — see
        # shingles_from_tokens: an inline expression would re-tokenize the
        # document per array element (O(tokens²))
        docs.select(tokenize_col(F.col(text_col)).alias("__toks"))
        .select(F.explode(shingles_from_tokens(F.col("__toks"))).alias("suggestion"))
        .groupBy("suggestion")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("slen", F.least(F.length("suggestion"), F.lit(LEN_CAP)))
    )
    (
        sugg.repartitionByRange(8, "suggestion")
        .sortWithinPartitions("suggestion")
        .write.mode("overwrite")
        .partitionBy("slen")
        .parquet(os.path.join(index_dir, "suggest", f"field={field}"))
    )


def load_suggest(spark: SparkSession, index_dir: str, field: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "suggest", f"field={field}"))


def _ranked(branch: DataFrame, window: int) -> DataFrame:
    # rank over the already-limited window frame, window-function-free
    # (ranks.rank_limited): no WindowExec node, no global-window warning
    top = branch.orderBy(F.desc("freq"), F.asc("suggestion")).limit(window)
    return rank_limited(
        top, [F.desc("freq"), F.asc("suggestion")], ["suggestion"], "rank"
    )


def suggest(
    sugg_table: DataFrame, text: str, count: int = 10, window: int = 50
) -> DataFrame:
    """4-branch completion + RRF fusion → (suggestion, score) top ``count``."""
    q = text.lower().strip()
    s = F.col("suggestion")
    lenq = len(q)
    has_slen = "slen" in sugg_table.columns

    def _band(df, lo: int | None, hi: int | None):
        """Redundant predicate on the slen PARTITION column (length(s) is a
        computed expression and can never prune directories; slen can)."""
        if not has_slen:
            return df
        if lo is not None:
            df = df.where(F.col("slen") >= min(max(lo, 1), LEN_CAP))
        if hi is not None and hi < LEN_CAP:
            df = df.where(F.col("slen") <= hi)
        return df

    prefix = _band(sugg_table, lenq, None).where(s.startswith(q))
    fuzzy1 = _band(sugg_table, lenq - 1, lenq + 1).where(
        (F.length(s).between(lenq - 1, lenq + 1)) & (F.levenshtein(s, F.lit(q)) <= 1)
    )
    fuzzy2 = _band(sugg_table, lenq - 2, lenq + 2).where(
        (F.length(s).between(lenq - 2, lenq + 2)) & (F.levenshtein(s, F.lit(q)) <= 2)
    )
    infix = _band(sugg_table, lenq, None).where(s.contains(q))
    branches = [_ranked(b, window) for b in (prefix, fuzzy1, fuzzy2, infix)]
    union = branches[0]
    for b in branches[1:]:
        union = union.unionByName(b)
    fused = union.groupBy("suggestion").agg(
        F.sum(1.0 / (F.lit(RRF_SCALE) + F.col("rank"))).alias("score")
    )
    return fused.orderBy(F.desc("score"), F.asc("suggestion")).limit(count)


# ---------------------------------------------------------------------------
# Search-head suggest serving: same four branches + RRF fusion computed
# from a direct pyarrow read of the slen-partitioned suggest table — the
# directory prune that bounds the cluster plan's fuzzy branches bounds the
# driver read identically, and the whole request costs zero Spark jobs.

DRIVER_MAX_SUGG_ROWS = 2_000_000  # per-request read bound (post slen-prune)


def _lev_vec(q: str, cands: "list[str]"):
    """Vectorized unweighted Levenshtein (classic DP, same semantics as
    Spark's levenshtein expression) of ``q`` against every candidate.
    Rows = DP columns over a (ncand, maxlen) codepoint matrix; the inner
    loops are maxlen*len(q) numpy ops over ncand-wide vectors."""
    import numpy as np

    if not cands:
        return np.empty(0, dtype=np.int32)
    lens = np.array([len(c) for c in cands], dtype=np.int32)
    maxlen = int(lens.max())
    mat = np.zeros((len(cands), maxlen), dtype=np.int32)
    for i, c in enumerate(cands):
        mat[i, : len(c)] = np.frombuffer(c.encode("utf-32-le"), dtype=np.uint32)[
            : len(c)
        ].astype(np.int32)
    prev = np.tile(np.arange(maxlen + 1, dtype=np.int32), (len(cands), 1))
    for i, ch in enumerate(q, start=1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        sub = (mat != ord(ch)).astype(np.int32)
        for j in range(1, maxlen + 1):
            cur[:, j] = np.minimum(
                np.minimum(cur[:, j - 1] + 1, prev[:, j] + 1),
                prev[:, j - 1] + sub[:, j - 1],
            )
        prev = cur
    return prev[np.arange(len(cands)), lens]


def suggest_driver(
    spark: SparkSession,
    index_dir: str,
    field: str,
    text: str,
    count: int = 10,
    window: int = 50,
) -> LocalFrame | None:
    """Driver-mode suggest: the (suggestion, score) answer as a
    wand.LocalFrame, or None when the table isn't locally readable or the
    pruned read exceeds DRIVER_MAX_SUGG_ROWS (callers fall back to the
    cluster plan). Branch ranks, RRF fusion and tie order replicate
    suggest() exactly."""
    import glob
    import os as _os

    import numpy as np
    import pandas as pd

    base = _os.path.join(index_dir, "suggest", f"field={field}")
    part_dirs = glob.glob(_os.path.join(base, "slen=*"))
    if not part_dirs:
        return None
    q = text.lower().strip()
    lenq = len(q)
    lo = min(max(lenq - 2, 1), LEN_CAP)  # widest band any branch needs
    try:
        import pyarrow.parquet as pq

        frames = []
        for d in sorted(part_dirs):
            slen = int(_os.path.basename(d).split("=", 1)[1])
            if slen < lo:
                continue
            t = pq.read_table(d, columns=["suggestion", "freq"])
            frames.append(t.to_pandas())
            if sum(len(x) for x in frames) > DRIVER_MAX_SUGG_ROWS:
                return None
    except OSError:
        return None
    if not frames:
        # dtype-correct empty frame — float64 default columns would break
        # the .str accessors below
        pdf = pd.DataFrame({"suggestion": pd.Series([], dtype="object"),
                            "freq": pd.Series([], dtype="int64")})
    else:
        pdf = pd.concat(frames, ignore_index=True)

    s = pdf["suggestion"]
    slens = s.str.len()
    prefix = pdf[s.str.startswith(q)]
    infix = pdf[s.str.contains(q, regex=False)]
    fuzzy_pool = pdf[slens.between(lenq - 2, lenq + 2)]
    if len(fuzzy_pool):
        d = _lev_vec(q, fuzzy_pool["suggestion"].tolist())
        fuzzy1 = fuzzy_pool[(d <= 1) & slens[fuzzy_pool.index].between(lenq - 1, lenq + 1)]
        fuzzy2 = fuzzy_pool[d <= 2]
    else:
        fuzzy1 = fuzzy2 = fuzzy_pool

    scores: dict[str, float] = {}
    for branch in (prefix, fuzzy1, fuzzy2, infix):
        top = branch.sort_values(
            ["freq", "suggestion"], ascending=[False, True], kind="stable"
        ).head(window)
        for rank, sug in enumerate(top["suggestion"]):
            scores[sug] = scores.get(sug, 0.0) + 1.0 / (RRF_SCALE + rank)
    rows = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:count]
    out = pd.DataFrame(
        {
            "suggestion": [r[0] for r in rows],
            "score": np.array([r[1] for r in rows], dtype=np.float64),
        }
    )
    return LocalFrame(spark, out, local_schema("suggestion string, score double"))
