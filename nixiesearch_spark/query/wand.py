"""Block-max WAND top-k over packed VByte postings.

The reference gets top-k pruning from Lucene's
``TopScoreDocCollectorManager(size, size)`` — totalHitsThreshold=size enables
block-max WAND/MAXSCORE skipping inside Lucene
(``api/query/retrieve/RetrieveQuery.scala:80-81``). Catalyst has no analog,
so this is the one genuinely custom physical operator (SURVEY.md §4):

Distributed shape
-----------------
Shards hold disjoint document sets with complete postings (built that way —
``index/builder.py``), so any set of shards computes an exact local top-k
independently (the classic document-partitioned search fan-out; a shard ≡ a
Lucene segment searched by the reference's work-stealing pool,
``index/Searcher.scala:313``). Global answer = union of the per-partition
top-ks → ``orderBy(score desc, docid asc).limit(k)`` — about k rows per
partition cross the wire, nothing else.

Cross-shard kernel (``_shard_topk``)
------------------------------------
One struct-of-arrays numpy kernel scores the matched blocks of EVERY shard
it is handed in one pass — all shards on the search head, all shards of a
partition in the distributed plan. A document is the segmented key
``(shard << 40) | ordinal``, so per-shard state is plain array arithmetic
over one key space:

1. Each (branch, term) of the query is a *slot*; a match query is the
   one-branch case of bool/dis_max. Blocks of a slot cover disjoint
   ascending ordinal ranges; their stored ``max_impact`` (idf-free float32
   impact bound) gives a block upper bound ``ub = mult · weight ·
   max_impact`` (+2 ulp slack so float32 rounding can never break
   soundness). must_not slots bound nothing (exclusion only removes).
2. Each shard's ordinal range is cut into stripes (one stripe when the
   shard has few blocks). Stripe ub = Σ_slots max(ub of the slot's blocks
   overlapping the stripe) — exactly the block-max bound, since a doc meets
   ≤1 block per term — filled for all shards at once by ``np.maximum.at``
   over the block→stripe ranges.
3. Stripes of ALL shards are ranked together by ub and consumed in rounds
   of n_shards stripes against ONE global θ (the k-th best score so far,
   the heap threshold). As soon as ub(stripe) < θ, that stripe and every
   one after it — and every document in them — are provably
   non-competitive and skipped without decoding a single block. θ over all
   shards is never below one shard's own θ, so a score found in one shard
   prunes stripes of another. A round may still decode a stripe that a θ
   raised earlier in the same round would have skipped; the round size
   bounds that.
4. A round's blocks are VByte-decoded in ONE batched call and scored with
   the same float32 Lucene op chain as the flat path: per-doc float64 sums
   in (branch, term) order, cast to float32 per branch, then engine._fused's
   bool/dis_max combination — so results are bit-identical to the
   exhaustive plan.

Skip test uses strict ``<`` so score==θ docs still surface for the
docid-asc tiebreak (Lucene competitive-iff-equal-and-lower-docid rule);
tied candidates are kept up to k + TIE_KEEP per shard, because ordinals
need not follow docid order after appends and the tiebreak happens only
after the docid resolve.

Filters and tombstones ride INSIDE the pruned search (the analog of
Lucene's Occur.FILTER clause leapfrog, reference
``api/query/retrieve/RetrieveQuery.scala:42-57``): the filter predicate
resolves against the docs table to an allowed (shard, ordinal) set (docs
carry shard+ordinal columns — no join), which is unioned into the same
explicit-repartition exchange as the packed blocks and applied as a
vectorized segmented-key membership mask at block-decode time. Upper
bounds stay sound (a filter only removes candidates), so filtered WAND
results are bit-identical to the flat filtered path. Tombstones become a
banned-key set the same way. Intended for SELECTIVE filters — a filter
matching most of the corpus ships ~matching-ordinals×8B through the
exchange, and the flat Catalyst path is the better plan there (same answer
either way).

Scope: OR/AND match, bool/dis_max/rrf over match branches and the facet
match set, quantized indexes; parity verified in tests/test_wand.py and
tests/test_serving*.py.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from nixiesearch_spark import lucene
from nixiesearch_spark.analysis import analyzer_py
from nixiesearch_spark.index import codec
from nixiesearch_spark.index.builder import DRIVER_MAX_ROWS, KEY_SHIFT, IndexReader

# Python workers must run the pack/WAND closures even when this package is
# not on the executors' import path (e.g. a host-created SparkSession with a
# different cwd): serialize our numeric modules by VALUE into the closures.
try:
    from pyspark import cloudpickle as _cp

    from nixiesearch_spark import lucene as _l
    from nixiesearch_spark.index import codec as _c

    _cp.register_pickle_by_value(_c)
    _cp.register_pickle_by_value(_l)
except Exception:  # pragma: no cover - best effort on older pyspark
    pass

TOPK_SCHEMA = "shard int, ordinal long, score float"
UB_SLACK = np.float64(1.0 + 2.0 ** -21)  # 2 ulps of float32
ORD_MASK = np.int64((1 << KEY_SHIFT) - 1)
TIE_KEEP = 4096  # candidates tied at the k-th score kept per shard beyond k
# search-head bound: queries whose dictionary-estimated block count exceeds
# this take the distributed plan (or the Catalyst plan for bool/dis_max)
DRIVER_MAX_BLOCKS = 20_000

# Spark type → numpy dtype LocalFrame converts a column through (None: str)
_LOCAL_TYPES = {
    LongType: np.int64, IntegerType: np.int32, ShortType: np.int16, ByteType: np.int8,
    DoubleType: np.float64, FloatType: np.float32, BooleanType: np.bool_, StringType: None,
}
_DDL_TYPES = {"long": LongType, "int": IntegerType, "float": FloatType,
              "double": DoubleType, "string": StringType}


def local_schema(ddl: str) -> StructType:
    """``"name type, ..."`` over long/int/float/double/string → the
    StructType Spark parses from the same DDL (nullable fields), built
    without the JVM."""
    return StructType(
        [StructField(n, _DDL_TYPES[t]()) for n, t in (f.split() for f in ddl.split(","))]
    )


FINAL_SCHEMA = local_schema("docid long, score float")
RRF_SCHEMA = local_schema("docid long, score double")


class LocalFrame:
    """A search-head answer held on the driver: a pandas frame plus the
    schema it has as a DataFrame. ``collect()`` reads the frame directly —
    no Arrow batch, no Catalyst analysis, no JVM round trip — and returns
    the Rows Spark's collect of ``createDataFrame(pdf, schema)`` returns:
    plain Python values of the column type (float32 columns as the float of
    the float32 value), pandas nulls and float NaN as None (Arrow's
    ``from_pandas`` masking). Every other DataFrame attribute goes to that
    Spark frame, built once on first use, so callers keep the DataFrame
    contract. Columns of other types collect through Spark too."""

    def __init__(self, spark, pdf: pd.DataFrame, schema: StructType):
        self._spark = spark
        self._pdf = pdf.reset_index(drop=True)
        self.schema = schema
        self._df = None

    @classmethod
    def empty(cls, spark, schema: StructType) -> "LocalFrame":
        return cls(spark, pd.DataFrame({n: [] for n in schema.fieldNames()}), schema)

    @property
    def columns(self) -> list[str]:
        return self.schema.fieldNames()

    def _local(self) -> bool:
        return all(type(f.dataType) in _LOCAL_TYPES for f in self.schema.fields)

    def collect(self) -> list:
        if not self._local():
            return self.to_spark().collect()
        cols = []
        for f in self.schema.fields:
            s = self._pdf[f.name]
            dt = _LOCAL_TYPES[type(f.dataType)]
            vals = s.astype(str) if dt is None else s.to_numpy(dtype=dt, na_value=0)
            cols.append([None if n else v for v, n in zip(vals.tolist(), s.isna().tolist())])
        row = Row(*self.columns)
        return [row(*vals) for vals in zip(*cols)]

    def toPandas(self) -> pd.DataFrame:
        if not self._local():
            return self.to_spark().toPandas()
        out = self._pdf[self.columns].copy()
        for f in self.schema.fields:
            dt = _LOCAL_TYPES[type(f.dataType)]
            if dt is not None and not out[f.name].isna().any():
                out[f.name] = out[f.name].astype(dt)
        return out

    def drop(self, *cols):
        if not all(isinstance(c, str) for c in cols):
            return self.to_spark().drop(*cols)
        keep = [f for f in self.schema.fields if f.name not in cols]
        return LocalFrame(self._spark, self._pdf[[f.name for f in keep]], StructType(keep))

    def to_spark(self) -> DataFrame:
        """The answer as a Spark DataFrame (a LocalRelation), built once."""
        if self._df is None:
            data = self._pdf if len(self._pdf) else []
            self._df = self._spark.createDataFrame(data, self.schema)
        return self._df

    def __getattr__(self, name: str):
        if name.startswith("__") or name in ("_spark", "_pdf", "_df", "schema"):
            raise AttributeError(name)
        return getattr(self.to_spark(), name)

    def __getitem__(self, item):
        return self.to_spark()[item]


def _member(sorted_set: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Vectorized membership of x in a sorted int64 array."""
    if not len(sorted_set):
        return np.zeros(len(x), dtype=bool)
    pos = np.minimum(np.searchsorted(sorted_set, x), len(sorted_set) - 1)
    return sorted_set[pos] == x


def _shard_topk(
    blocks: pa.Table,
    branches: list,
    k: int,
    n_stripes: int,
    kind: str = "bool",
    tie: float = 0.0,
    allow: np.ndarray | None = None,  # sorted allowed segmented keys (filter)
    ban: np.ndarray | None = None,  # sorted banned segmented keys (tombstones)
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max pruned top-k over the packed blocks of every shard in
    ``blocks`` (module docstring) → (segmented keys int64, scores float32).

    ``branches``: _match_plan dicts plus a "role" — must/should/must_not
    for kind="bool", dismax for kind="dismax"; a match query is one
    "should" branch. ``blocks`` carries a "field" column when branches span
    fields. Candidates at or above the k-th score are all returned (ties
    capped at k + TIE_KEEP per shard); with k beyond the match count the
    kernel returns the full match set."""
    col = {c: blocks.column(c).to_numpy() for c in blocks.column_names}
    names = col["term"]
    if "field" in col:
        names = col["field"] + "\x1f" + names
    code = {n: i for i, n in enumerate(dict.fromkeys(names))}
    name_code = np.array([code[n] for n in names], dtype=np.int64)
    # slots in (branch, sorted term) order: the per-doc accumulation order
    rows, slot_br, slot_w, slot_m, slot_pos, slot_cache = [], [], [], [], [], []
    fields = list(dict.fromkeys(p["field"] for p in branches))
    for bi, p in enumerate(branches):
        for t in sorted(p["present"]):
            c = code.get(f"{p['field']}\x1f{t}" if "field" in col else t)
            if c is None:
                continue
            rows.append(np.flatnonzero(name_code == c))
            slot_br.append(bi)
            slot_w.append(p["weights"][t])
            slot_m.append(p["mults"][t])
            slot_pos.append(p["role"] != "must_not")
            slot_cache.append(fields.index(p["field"]))
    empty = (np.empty(0, np.int64), np.empty(0, np.float32))
    if not rows:
        return empty
    slot = np.repeat(np.arange(len(rows)), [len(r) for r in rows])
    rows = np.concatenate(rows)
    slot_br = np.array(slot_br, dtype=np.int64)
    w64 = np.array(slot_w, dtype=np.float64)  # upper bounds: float64 weight
    slot_w = w64.astype(np.float32)  # scoring: the float32 Lucene weight
    slot_m = np.array(slot_m, dtype=np.float64)
    slot_cache = np.array(slot_cache, dtype=np.int64)
    scale = np.array([p["bound_scale"] for p in branches], dtype=np.float64)
    shard = col["shard"][rows].astype(np.int64)
    if allow is not None:  # shards without an allowed doc score nothing
        keep = np.isin(shard, np.unique(allow >> KEY_SHIFT))
        slot, rows, shard = slot[keep], rows[keep], shard[keep]
    first = col["block_id"][rows].astype(np.int64)
    last = col["block_last"][rows].astype(np.int64)
    positive = np.array(slot_pos)[slot]
    ub = np.where(
        positive,
        slot_m[slot]
        * w64[slot]
        * col["max_impact"][rows].astype(np.float64)
        * UB_SLACK
        * scale[slot_br[slot]],
        0.0,
    )

    # ---- stripes: per shard over the positive blocks' ordinal span ----
    sh_ids, sh_inv = np.unique(shard, return_inverse=True)
    lo = np.full(len(sh_ids), np.iinfo(np.int64).max)
    hi = np.full(len(sh_ids), -1, dtype=np.int64)
    np.minimum.at(lo, sh_inv[positive], first[positive])
    np.maximum.at(hi, sh_inv[positive], last[positive])
    live = hi >= lo  # a shard with only must_not blocks scores nothing
    if not live.any():
        return empty
    # few blocks → one stripe (decode-all): bookkeeping would cost more
    # than the decode it saves. Same math, same results.
    per = np.where(np.bincount(sh_inv) <= 2 * n_stripes, 1, n_stripes)
    per[~live] = 0
    keep = live[sh_inv]
    slot, rows, shard, first, last, ub = (
        a[keep] for a in (slot, rows, shard, first, last, ub)
    )
    st_sh = np.repeat(np.arange(len(sh_ids)), per)
    st_j = np.arange(len(st_sh)) - np.repeat(np.cumsum(per) - per, per)
    lo_f = lo[st_sh].astype(np.float64)
    step = (hi[st_sh].astype(np.float64) + 1.0 - lo_f) / per[st_sh]
    # every shard's first stripe starts at ordinal 0 so it covers the
    # must_not blocks below the positive span too
    st_lo = np.where(st_j == 0, 0, (lo_f + st_j * step).astype(np.int64))
    st_key = (sh_ids[st_sh] << KEY_SHIFT) | st_lo
    n_st = len(st_key)
    s0 = np.searchsorted(st_key, (shard << KEY_SHIFT) | first, side="right") - 1
    s1 = np.searchsorted(st_key, (shard << KEY_SHIFT) | last, side="right") - 1
    # (block, stripe) pairs for every stripe a block overlaps
    span = s1 - s0 + 1
    pair_blk = np.repeat(np.arange(len(rows)), span)
    pair_st = s0[pair_blk] + np.arange(len(pair_blk)) - np.repeat(np.cumsum(span) - span, span)
    tmax = np.zeros(len(slot_w) * n_st)
    np.maximum.at(tmax, slot[pair_blk] * n_st + pair_st, ub[pair_blk])
    stripe_ub = tmax.reshape(len(slot_w), n_st).sum(axis=0)

    nbr = len(branches)
    need = np.array([p["n_required"] or 1 for p in branches], dtype=np.int64)
    roles = [p["role"] for p in branches]
    musts = [i for i, r in enumerate(roles) if r == "must"]
    shoulds = [i for i, r in enumerate(roles) if r == "should"]
    nots = [i for i, r in enumerate(roles) if r == "must_not"]
    caches = [next(p["cache"] for p in branches if p["field"] == f) for f in fields]

    order = np.argsort(-stripe_ub, kind="stable")
    round_n = int(live.sum())
    decoded = np.zeros(len(rows), dtype=bool)
    in_round = np.zeros(n_st, dtype=bool)
    # decoded postings whose stripe is not processed yet
    p_key = np.empty(0, np.int64)
    p_slot = np.empty(0, np.int64)
    p_c = np.empty(0, np.float64)
    p_st = np.empty(0, np.int64)
    top_keys, top_scores = empty
    theta = -np.inf
    for r0 in range(0, n_st, round_n):
        sel = order[r0 : r0 + round_n]
        sel = sel[stripe_ub[sel] >= theta]
        if not len(sel):
            break  # every remaining stripe is below threshold — pruned
        in_round[:] = False
        in_round[sel] = True
        due = np.unique(pair_blk[in_round[pair_st] & ~decoded[pair_blk]])
        if len(due):
            decoded[due] = True
            r = rows[due]
            norms = col["norms"][r]
            counts = np.fromiter(map(len, norms), np.int64, len(r))
            # ONE VByte pass for every block this round needs (batch decode
            # identity unit-tested); blocks of pruned stripes are never touched
            d, tf, nm = codec.decode_posting_blocks(
                col["doc_gaps"][r], col["tfs"][r], norms, counts
            )
            sl = np.repeat(slot[due], counts)
            key = (np.repeat(shard[due], counts) << KEY_SHIFT) | d
            ok = np.ones(len(key), dtype=bool)
            if allow is not None:
                ok &= _member(allow, key)
            if ban is not None:
                ok &= ~_member(ban, key)
            key, sl, tf, nm = key[ok], sl[ok], tf[ok], nm[ok]
            w, tf32, cid = slot_w[sl], tf.astype(np.float32), slot_cache[sl]
            if len(caches) == 1:
                c = lucene.bm25_contrib(w, tf32, nm, caches[0])
            else:
                c = np.empty(len(key), dtype=np.float32)
                for i, cache in enumerate(caches):
                    m = cid == i
                    c[m] = lucene.bm25_contrib(w[m], tf32[m], nm[m], cache)
            p_key = np.concatenate([p_key, key])
            p_slot = np.concatenate([p_slot, sl])
            p_c = np.concatenate([p_c, slot_m[sl] * c.astype(np.float64)])
            p_st = np.concatenate(
                [p_st, np.searchsorted(st_key, key, side="right") - 1]
            )
        take = in_round[p_st]
        o = np.argsort(p_slot[take], kind="stable")  # (branch, term) order
        key, sl, c = p_key[take][o], p_slot[take][o], p_c[take][o]
        p_key, p_slot, p_c, p_st = p_key[~take], p_slot[~take], p_c[~take], p_st[~take]
        if not len(key):
            continue
        uniq, inv = np.unique(key, return_inverse=True)
        nu = len(uniq)
        flat = slot_br[sl] * nu + inv
        # bincount adds in input order: each doc's float64 sum follows the
        # (branch, term) order, the exact chain of the flat plan
        sums32 = np.bincount(flat, weights=c, minlength=nbr * nu).astype(np.float32)
        hits = np.bincount(flat, minlength=nbr * nu).reshape(nbr, nu) >= need[:, None]
        sums32 = sums32.reshape(nbr, nu)
        # bool/dismax combination in float64 over the float32 branch sums —
        # the exact engine._fused chain
        if kind == "bool":
            cond = np.ones(nu, dtype=bool)
            score = np.zeros(nu, dtype=np.float64)
            for bi in musts:
                cond &= hits[bi]
                score += sums32[bi].astype(np.float64)
            for bi in nots:
                cond &= ~hits[bi]
            ok_any = np.zeros(nu, dtype=bool)
            for bi in shoulds:
                ok_any |= hits[bi]
                score += np.where(hits[bi], sums32[bi].astype(np.float64), 0.0)
            if not musts:
                cond &= ok_any
        else:  # dismax
            vals = np.where(hits, sums32.astype(np.float64), -np.inf)
            cond = hits.any(axis=0)
            mx = vals.max(axis=0)
            total = np.where(vals == -np.inf, 0.0, vals).sum(axis=0)
            score = mx + np.float64(tie) * (total - mx)
        top_keys = np.concatenate([top_keys, uniq[cond]])
        top_scores = np.concatenate([top_scores, score[cond].astype(np.float32)])
        if len(top_scores) < k:
            continue
        kth = np.partition(top_scores, len(top_scores) - k)[len(top_scores) - k]
        keep = top_scores >= kth
        top_keys, top_scores = top_keys[keep], top_scores[keep]
        if len(top_keys) > k + TIE_KEEP:
            # cap ties per shard in (score desc, ordinal asc) order
            sh = top_keys >> KEY_SHIFT
            o = np.lexsort((top_keys, -top_scores.astype(np.float64), sh))
            rank = np.arange(len(o)) - np.searchsorted(sh[o], sh[o], side="left")
            o = o[rank < k + TIE_KEEP]
            top_keys, top_scores = top_keys[o], top_scores[o]
        theta = float(kth)
    return top_keys, top_scores


def _packed_unready(reader: IndexReader) -> str | None:
    """Why the packed/WAND serving path cannot serve ``reader``, or None
    when it can: quantized index, packed table present and not stale vs
    the flat postings (appends since the last pack make WAND silently miss
    docs — the staleness guard)."""
    if not reader.quantize:
        return "WAND serving path requires a quantized index"
    if "packed_seqnum" in reader.stats:  # absent = legacy stats (always packed)
        ps = reader.stats["packed_seqnum"]
        if ps is None or ps != reader.stats.get("seqnum"):
            return (
                "packed table is stale (appends since last pack) — run merge()/"
                "compact() or finalize(pack=True); the flat Searcher path is fresh"
            )
    if not os.path.isdir(os.path.join(reader.index_dir, "packed")):
        return "index has no packed table — run finalize(pack=True)"
    return None


def packed_ready(reader: IndexReader) -> bool:
    """True when the packed/WAND serving path is usable (_packed_unready)."""
    return _packed_unready(reader) is None


def _resolve_keys(reader: IndexReader, keys: np.ndarray) -> np.ndarray:
    """Segmented keys → docids. Driver LUT when the corpus fits (zero jobs
    after warmup); above that, pushed point-lookup predicates against the
    ordinal map (parquet row-group pruned)."""
    docids = reader.ordinal_lookup(keys)
    if docids is not None:
        return docids
    shard, ords = keys >> KEY_SHIFT, keys & ORD_MASK
    pred = None
    for s in np.unique(shard):
        p = (F.col("shard") == int(s)) & F.col("ordinal").isin(
            [int(x) for x in ords[shard == s]]
        )
        pred = p if pred is None else (pred | p)
    omap = {
        (int(r["shard"]) << KEY_SHIFT) | int(r["ordinal"]): int(r["docid"])
        for r in reader.ordinal_map.where(pred).collect()
    }
    return np.array([omap[int(x)] for x in keys], dtype=np.int64)


def _topk_frame(reader: IndexReader, keys: np.ndarray, scores: np.ndarray, k: int) -> LocalFrame:
    """Kernel candidates → the global top-k under (score desc, docid asc)
    as a LocalFrame: the answer stays on the driver, and the API reads it
    without a JVM round trip."""
    if not len(keys):
        return LocalFrame.empty(reader.spark, FINAL_SCHEMA)
    docids = _resolve_keys(reader, keys)
    o = np.lexsort((docids, -scores.astype(np.float64)))[:k]
    out = pd.DataFrame({"docid": docids[o], "score": scores[o]})
    return LocalFrame(reader.spark, out, FINAL_SCHEMA)


def _wand_topk_driver(reader: IndexReader, plan: dict, k: int, n_stripes: int) -> LocalFrame:
    """Search-head WAND: the query's matched blocks come from a direct
    pyarrow read of the packed parquet (zero Spark jobs, zero plan
    compiles; IndexReader.fetch_packed falls back to one Spark read on
    non-local storage), ONE kernel call scores every shard in-process, and
    the ordinal→docid resolve hits the driver LUT. Same kernel, same tie
    semantics → bit-identical to the distributed plan."""
    keys, scores = _shard_topk(_fetch_blocks(reader, [plan]), [plan], k, n_stripes)
    return _topk_frame(reader, keys, scores, k)


def match_scores_driver(
    reader: IndexReader, field: str, text: str, operator: str = "or"
) -> "pd.DataFrame | None":
    """FULL match-set (docid, score float32) decoded on the search head —
    the driver analog of engine.score() for a match query, feeding facet
    and sort-by-field serving. One kernel call with an unreachable k (no
    θ ever set, one stripe per shard → plain decode-all), so the float32
    score chain is the exact WAND/flat chain. Returns None when the packed
    path or the driver ordinal LUT is unavailable (callers fall back to
    the cluster plan); tombstones must be handled by the caller (decline)."""
    if not packed_ready(reader):
        return None
    empty = pd.DataFrame({"docid": np.empty(0, np.int64), "score": np.empty(0, np.float32)})
    plan = _match_plan(reader, field, text, operator)
    if plan is None:
        return empty
    keys, scores = _shard_topk(_fetch_blocks(reader, [plan]), [plan], 1 << 60, 1)
    if not len(keys):
        return empty
    docids = reader.ordinal_lookup(keys)
    if docids is None:  # corpus too big for the driver map → cluster plan
        return None
    return pd.DataFrame({"docid": docids, "score": scores})


def _match_plan(
    reader: IndexReader, field: str, text: str, operator: str = "or", role: str = "should"
):
    """Resolve a match query's terms/weights/bounds against the dictionary
    (driver-side, zero jobs on a local index) into a branch of ``role`` —
    the one resolution of a match query for the kernel routes and the flat
    plan (engine.Searcher._fused). None = provably-empty query (no known
    terms, or an AND with a missing term)."""
    terms = analyzer_py(reader.field_analyzer(field))(text)
    mult = Counter(terms)
    tstats = reader.term_stats(field, list(mult))
    present = [t for t in mult if t in tstats]
    if not present or (operator == "and" and len(present) < len(mult)):
        return None
    fs = reader.field_stats(field)
    avgdl_now = float(fs["avgdl"])
    pack_avgdl = (reader.stats.get("pack_avgdl") or {}).get(field)
    return {
        "role": role,
        "field": field,
        "present": present,
        "dfs": {t: int(tstats[t][0]) for t in present},
        # the float32 Lucene weight on a quantized index; the float64 idf
        # of the flat plan's double-precision chain otherwise
        "weights": {
            t: tstats[t][1] if reader.quantize
            else float(lucene.idf(tstats[t][0], fs["doc_count"]))
            for t in present
        },
        "mults": {t: int(mult[t]) for t in present},
        "n_required": len(present) if operator == "and" else 0,
        # see wand_topk: exact scoring uses avgdl_now; stored block bounds
        # were computed at pack_avgdl and stay sound scaled by the ratio
        "cache": lucene.norm_cache(np.float32(avgdl_now)),
        "bound_scale": max(1.0, avgdl_now / float(pack_avgdl)) if pack_avgdl else 1.0,
    }


def _fetch_blocks(reader: IndexReader, plans: list) -> pa.Table:
    """The packed blocks of every plan's present terms: one
    IndexReader.fetch_packed per field, fields in first-seen order. Blocks
    of several fields carry a "field" column, which the kernel then keys
    its slots by."""
    by_field: dict[str, set] = {}
    for p in plans:
        by_field.setdefault(p["field"], set()).update(p["present"])
    tables = [reader.fetch_packed(f, sorted(ts)) for f, ts in by_field.items()]
    if len(tables) == 1:
        return tables[0]
    tables = [
        t.append_column("field", pa.array([f] * len(t), pa.string()))
        for f, t in zip(by_field, tables)
    ]
    # promote: an empty Spark-fallback fetch carries null-typed columns
    return pa.concat_tables(tables, promote_options="default")


def _est_blocks(reader: IndexReader, plans: list) -> int:
    """Upper bound on the matched block count from dictionary df:
    ceil(df/bs) + one boundary block per (term, shard, ordinal sub-group) —
    known driver-side with zero jobs."""
    bs = int(reader.stats.get("block_size", 128))
    nsh = int(reader.stats.get("n_shards", 32))
    return sum(p["dfs"][t] // bs + 1 + nsh for p in plans for t in p["present"])


def rrf_topk_driver(
    reader: IndexReader,
    branches: list,
    size: int = 10,
    window: int = 100,
    rrf_k: float = 60.0,
    n_stripes: int = 32,
) -> LocalFrame:
    """Search-head RRF over match branches (the rrf_fuse semantics of
    query/rrf.py executed entirely on the driver): each branch's top-window
    comes from one call of the WAND kernel (bit-identical branch scores),
    ranks fuse as Σ 1/(rrf_k + rank) in float64 with the docid-asc tiebreak
    at every cut, and the fused top-``size`` returns as a LocalFrame
    (float64 scores). Zero Catalyst compiles and zero JVM calls — this is
    the serving answer to the two-branch plan-compile floor (BENCH.md r3
    §1).

    ``branches``: ast.MatchQuery objects or (field, text, operator) tuples.
    Dead branches drop out exactly like rrf_fuse_matches' ``live`` filter;
    results match the on-cluster fused path (tests/test_wand.py parity).
    Requires ``packed_ready(reader)`` — callers route elsewhere when stale.
    """
    live = []
    for m in branches:
        field, text, op = (
            (m.field, m.query, m.operator) if hasattr(m, "field") else m
        )
        p = _match_plan(reader, field, text, op)
        if p is not None:
            live.append(p)
    empty = LocalFrame.empty(reader.spark, RRF_SCHEMA)
    if not live:
        return empty
    blocks = _fetch_blocks(reader, live)
    cands = [_shard_topk(blocks, [p], window, n_stripes) for p in live]
    cands = [c for c in cands if len(c[0])]
    if not cands:
        return empty
    keys = np.unique(np.concatenate([c[0] for c in cands]))
    docid_of = _resolve_keys(reader, keys)
    docs, contribs = [], []
    for bkeys, scores in cands:
        docids = docid_of[np.searchsorted(keys, bkeys)]
        # branch rank = position under (score desc, docid asc) — the same
        # total order rrf_fuse's orderBy().limit(window) applies
        o = np.lexsort((docids, -scores.astype(np.float64)))[:window]
        docs.append(docids[o])
        contribs.append(1.0 / (float(rrf_k) + np.arange(len(o), dtype=np.float64)))
    uniq, inv = np.unique(np.concatenate(docs), return_inverse=True)
    # branch-major input order: each doc's float64 sum adds its branches in
    # branch order
    fused = np.bincount(inv, weights=np.concatenate(contribs), minlength=len(uniq))
    o = np.lexsort((uniq, -fused))[:size]
    out = pd.DataFrame({"docid": uniq[o], "score": fused[o]})
    return LocalFrame(reader.spark, out, RRF_SCHEMA)


def bool_topk_driver(
    reader: IndexReader,
    branches: list,
    k: int = 10,
    kind: str = "bool",
    tie: float = 0.0,
    n_stripes: int = 32,
    driver_max_blocks: int = DRIVER_MAX_BLOCKS,
) -> LocalFrame | None:
    """Search-head fused bool/dis_max top-k over match branches —
    bit-identical to engine._fused's flat plan (tests/test_serving.py).
    ``branches``: list of (role, MatchQuery-like). Returns None when this
    physical strategy declines (block volume too large for the driver, or
    dis_max tie > 1 which breaks the Σ-bound soundness) — callers fall
    back to the Catalyst plan."""
    if kind == "dismax" and not (0.0 <= float(tie) <= 1.0):
        return None
    plans = []
    for role, m in branches:
        plans.append((role, _match_plan(reader, m.field, m.query, m.operator, role)))
    empty = LocalFrame.empty(reader.spark, FINAL_SCHEMA)
    # dead-branch semantics identical to engine._fused
    if any(role == "must" and p is None for role, p in plans):
        return empty
    live = [p for _, p in plans if p is not None]
    if not any(p["role"] in ("must", "should", "dismax") for p in live):
        return empty
    if _est_blocks(reader, live) > driver_max_blocks:
        return None
    blocks = _fetch_blocks(reader, live)
    keys, scores = _shard_topk(blocks, live, k, n_stripes, kind, float(tie))
    return _topk_frame(reader, keys, scores, k)


def wand_topk(
    reader: IndexReader,
    field: str,
    text: str,
    k: int = 10,
    n_stripes: int = 32,
    operator: str = "or",
    resolve: str = "auto",
    filters: dict | None = None,
    mode: str = "auto",
    driver_max_blocks: int = DRIVER_MAX_BLOCKS,
) -> DataFrame | LocalFrame:
    """Block-max WAND match top-k over the packed table.
    ``operator="and"`` requires every query term per doc (conjunction is
    applied inside the stripe scorer; the OR upper bounds stay valid).
    ``resolve``: ordinal→docid strategy — "join" | "lookup" | "auto"
    (lookup above DRIVER_MAX_ROWS docs; see inline rationale).
    ``filters``: same predicate dict as the flat Searcher — applied inside
    the pruned search as an allowed-key mask (module docstring); results
    are bit-identical to ``Searcher.search(..., filters=...)``. Tombstones
    are honored the same way (banned-key set), so a WAND query between
    deletes and the next compaction stays correct.

    ``mode``: physical strategy — "distributed" | "driver" | "auto". The
    driver path is the search-head pattern (the reference's coordinator
    searching Lucene segments in-process): when the dictionary says the
    query's matched blocks are small (Σ df/block_size ≤ driver_max_blocks,
    known BEFORE any job), the matched blocks are read on the driver, ONE
    kernel call scores every shard, and the ordinal LUT resolves just the
    global top-k, returned as a LocalFrame. That replaces the repartition
    exchange + python-worker round-trip + broadcast-join job (~0.5 s of
    pure scheduling at any data size). High-df queries — where block
    volume is real work — keep the distributed plan, one kernel call per
    partition; "auto" also falls back to it whenever a filter or
    tombstones are in play (their ordinal sets belong on the cluster).
    Results are bit-identical across modes (tests/test_wand.py)."""
    why = _packed_unready(reader)
    if why is not None:
        raise ValueError(why)
    spark = reader.spark
    # _match_plan resolves terms/weights and the avgdl-drift bound_scale
    # (incremental packs keep block max_impact bounds computed at the avgdl
    # of the last FULL pack; BM25 contrib is increasing in avgdl and for
    # a ≤ a' the ratio contrib(a')/contrib(a) ≤ a'/a, so scaling stored
    # bounds by max(1, avgdl_now/pack_avgdl) keeps them sound upper bounds
    # under drift; exact scoring always uses avgdl_now, so results stay
    # bit-identical to the flat path — drift only costs pruning power).
    plan = _match_plan(reader, field, text, operator)
    if plan is None:
        return LocalFrame.empty(spark, FINAL_SCHEMA)

    # resolve filters/tombstones to (shard, ordinal) sets (docs rows carry
    # shard + ordinal — a column projection, no join); "allow" mode when a
    # filter is present (tombstones anti-joined in), "ban" mode for
    # tombstones alone (cheaper: ships only deleted ordinals)
    tombs = reader.tombstones
    fmode = 0  # 0 = none, 1 = allow, 2 = ban
    fframe = None
    if filters is not None:
        from nixiesearch_spark.query.filters import compile_predicate

        keep = reader.docs.where(compile_predicate(filters))
        if tombs is not None:
            keep = keep.join(tombs, "docid", "left_anti")
        fframe, fmode = keep.select("shard", "ordinal"), 1
    elif tombs is not None:
        fframe, fmode = (
            reader.docs.join(tombs, "docid", "left_semi").select("shard", "ordinal"),
            2,
        )

    # filters/tombstones always take the distributed plan (their ordinal
    # sets belong on the cluster) — an explicit mode="driver" is a physical
    # HINT, never a license to drop the masks
    if fframe is None and (
        mode == "driver"
        or (mode == "auto" and _est_blocks(reader, [plan]) <= driver_max_blocks)
    ):
        return _wand_topk_driver(reader, plan, k, n_stripes)

    def run(batches):
        # mapInArrow over an explicit repartition: AQE would coalesce the
        # tiny query-time shuffle into ONE task (serializing all shards into
        # a single python worker); an explicit numPartitions exchange is
        # never coalesced. One kernel call scores every shard of the
        # partition (query-matched blocks are small by construction).
        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        allow = ban = None
        if fmode:
            f = tbl.column("_f").to_numpy()
            sets = np.unique(
                (tbl.column("shard").to_numpy()[f != 0].astype(np.int64) << KEY_SHIFT)
                | tbl.column("f_ord").to_numpy()[f != 0].astype(np.int64)
            )
            if fmode == 1:
                allow = sets
            else:
                ban = sets
            tbl = tbl.filter(pa.array(f == 0))
        keys, scores = _shard_topk(tbl, [plan], k, n_stripes, allow=allow, ban=ban)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array((keys >> KEY_SHIFT).astype(np.int32)),
                pa.array(keys & ORD_MASK),
                pa.array(scores),
            ],
            names=["shard", "ordinal", "score"],
        )

    matched = reader.packed.where(
        (F.col("field") == field) & F.col("term").isin(plan["present"])
    ).select(*IndexReader.PACKED_FETCH_COLS)
    if fmode:
        # union the ordinal set into the SAME exchange as the packed blocks
        # (one shuffle, co-located by shard; no cogroup — grouped applyInPandas
        # would hand AQE a coalescible shuffle again)
        matched = matched.withColumn("_f", F.lit(0).cast("int")).withColumn(
            "f_ord", F.lit(None).cast("long")
        )
        fpad = fframe.select(
            "shard",
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("long").alias("block_id"),
            F.lit(None).cast("long").alias("block_last"),
            F.lit(None).cast("binary").alias("doc_gaps"),
            F.lit(None).cast("binary").alias("tfs"),
            F.lit(None).cast("binary").alias("norms"),
            F.lit(None).cast("float").alias("max_impact"),
            F.lit(fmode).cast("int").alias("_f"),
            F.col("ordinal").alias("f_ord"),
        )
        matched = matched.unionByName(fpad)
    nsh = int(reader.stats.get("n_shards", 32))
    local = matched.repartition(nsh, "shard").mapInArrow(run, schema=TOPK_SCHEMA)
    # map shard-local ordinals back to global docids. Two physical
    # strategies with identical results:
    # - "join": broadcast the tiny candidate frame against the
    #   (shard, ordinal, docid) map — one job, minimal plan, fastest when
    #   the map fits a cached scan (sandbox scale);
    # - "lookup": collect the ≈k-per-partition candidates and fold them into
    #   pushable point predicates (OR of shard = s AND ordinal IN (...))
    #   + a literal score map — at 10^9+ docs the join side would scan the
    #   WHOLE docs-derived map per query, while the predicates prune to a
    #   handful of parquet row-groups (docs are written sorted by
    #   (shard, bucket, docid)). Plan-compile cost of the literals is
    #   ~1 s, noise at that scale.
    use_lookup = resolve == "lookup" or (
        resolve == "auto" and reader.doc_count > DRIVER_MAX_ROWS
    )
    if not use_lookup:
        joined = reader.ordinal_map.join(F.broadcast(local), ["shard", "ordinal"])
        return (
            joined.select("docid", "score")
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(k)
        )
    rows = local.collect()
    if not rows:
        return LocalFrame.empty(spark, FINAL_SCHEMA)
    by_shard: dict[int, list[int]] = {}
    smap: dict[str, float] = {}
    for r in rows:
        by_shard.setdefault(int(r["shard"]), []).append(int(r["ordinal"]))
        smap[f"{int(r['shard'])}_{int(r['ordinal'])}"] = float(r["score"])
    pred = None
    for s, ords in by_shard.items():
        p = (F.col("shard") == s) & F.col("ordinal").isin(ords)
        pred = p if pred is None else (pred | p)
    score_map = F.create_map(
        *[x for kv in smap.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    key = F.concat_ws("_", F.col("shard"), F.col("ordinal"))
    out = (
        reader.ordinal_map.where(pred)
        .select("docid", score_map[key].cast("float").alias("score"))
    )
    return out.orderBy(F.desc("score"), F.asc("docid")).limit(k)
