"""Per-shard HNSW graphs: the reference's vector index, Spark-shaped.

The reference serves knn from Lucene's per-segment HNSW graphs
(``api/query/retrieve/KnnQuery.scala:20-88``; Lucene99HnswVectorsFormat).
The Spark-native analog mirrors the document-partitioned lexical design
(query/wand.py): every shard builds an INDEPENDENT graph over its own
vectors, each shard answers an exact-local-approximate-global top-k from
its graph, and the global answer is the union of shard top-ks — identical
fan-out to a Lucene multi-segment knn search.

Build — one ``applyInPandas`` per shard (the only place imperative graph
construction is genuinely needed): a numpy HNSW with deterministic level
assignment (multiplicative-hash uniform per id, so rebuilds are
bit-reproducible — no RNG state), greedy descent + beam (efConstruction)
insertion, and closest-M neighbor selection with per-layer degree caps
(2M at layer 0). One output row per node: ``(shard, id, vec, level,
links array<array<long>>)`` — parquet-partitioned by shard so serving
prunes directories.

Serve — ``mapInPandas`` over the (cached) graph table repartitioned by
shard: rebuild the adjacency dict per batch (vectors ride in the same
rows), greedy from the shard's max-level entry node, ef-beam at layer 0,
shard top-k out; global ``orderBy(score).limit(k)`` merges k rows per
shard. Approximate by construction, so the correctness gate records this
operator rows-only; tests pin determinism and recall ≥ 0.9 against the
exact cosine scan.

Scale: graphs are per-shard, so build parallelism = n_shards and graph
memory per task is shard-sized, exactly the segment-local deal Lucene
makes. At 100 TB the embedding table shards the same way the lexical index
does; no stage ever holds more than one shard's graph.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nixiesearch_spark.index.builder import DRIVER_MAX_ROWS

try:  # ship by value for foreign-cwd executors (same pattern as wand.py)
    from pyspark import cloudpickle as _cp
    import sys as _sys

    _cp.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

GRAPH_SCHEMA = (
    "shard int, id long, vec array<float>, level int, links array<array<long>>"
)
TOPK_SCHEMA = "id long, cosine double"


def _level_for(node_id: int, m_l: float) -> int:
    """Deterministic HNSW level: multiplicative-hash uniform → geometric.
    Plain python ints (exact wraparound, negative ids fine, no RNG state)."""
    h = ((int(node_id) & 0xFFFFFFFFFFFFFFFF) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    u = (h + 1.0) / (2.0**64 + 2.0)
    return int(-np.log(u) * m_l)


def _select_closest(cand_ids: list[int], dists: dict[int, float], m: int) -> list[int]:
    return sorted(cand_ids, key=lambda i: (dists[i], i))[:m]


def _graph_insert(
    ids: np.ndarray,
    vecs: np.ndarray,
    links: dict[int, list[list[int]]],
    levels: dict[int, int],
    insert_ids,
    m: int,
    ef_c: int,
) -> None:
    """Insert ``insert_ids`` (ascending) into an existing graph state in
    place. ``ids``/``vecs`` cover ALL nodes (existing + new, vecs
    L2-normalized rows); ``links``/``levels`` hold the existing nodes.
    This is the one shared insertion kernel: a full build is an insert of
    everything into an empty state, an incremental batch continues from the
    loaded state — the same segment-append deal Lucene's HNSW writer makes
    (reference indexes vectors per segment incrementally,
    index/Indexer.scala:41-101)."""
    m_l = 1.0 / np.log(m)
    pos = {int(i): p for p, i in enumerate(ids)}
    # entry = lowest id at the top layer — equals the build-order entry
    # because insertion is ascending by id (first to reach a new max level)
    entry, max_level = None, -1
    for i, lv in levels.items():
        if lv > max_level or (lv == max_level and (entry is None or i < entry)):
            entry, max_level = int(i), int(lv)

    from bisect import insort  # hoisted out of the beam inner loop

    def dist(a: int, b: int) -> float:
        return 1.0 - float(vecs[pos[a]] @ vecs[pos[b]])

    def dist_q(qv: np.ndarray, b: int) -> float:
        return 1.0 - float(qv @ vecs[pos[b]])

    def search_layer(qv, eps: list, ef: int, layer: int) -> list:
        """Beam search over (dist, id) pairs: takes entry pairs, returns up
        to ef closest pairs ascending — distances ride along so callers
        (and the next layer) never recompute them. Identical arithmetic
        and tie order to the id-only form: tuples compare (dist, id)."""
        visited = {e for _, e in eps}
        cand = sorted(eps)
        best = list(cand)
        while cand:
            d, c = cand.pop(0)
            worst = best[-1][0] if len(best) >= ef else np.inf
            if d > worst:
                break
            for nb in links[c][layer] if layer < len(links[c]) else []:
                if nb in visited:
                    continue
                visited.add(nb)
                dn = dist_q(qv, nb)
                if len(best) < ef or dn < best[-1][0]:
                    insort(cand, (dn, nb))
                    insort(best, (dn, nb))
                    if len(best) > ef:
                        best.pop()
        return best

    for i in insert_ids:
        i = int(i)
        lvl = levels.get(i)
        if lvl is None:
            lvl = levels[i] = _level_for(i, m_l)
        links[i] = [[] for _ in range(lvl + 1)]
        if entry is None:
            entry, max_level = i, lvl
            continue
        qv = vecs[pos[i]]
        eps = [(dist_q(qv, entry), entry)]
        for layer in range(max_level, lvl, -1):
            eps = search_layer(qv, eps, 1, layer)
        for layer in range(min(lvl, max_level), -1, -1):
            cands = search_layer(qv, eps, ef_c, layer)
            m_cap = 2 * m if layer == 0 else m
            # cands are (dist, id) ascending — the closest-M selection is
            # its prefix (same (dist, id) order _select_closest produced)
            sel = [c for _, c in cands[:m]]
            links[i][layer] = list(sel)
            for nb in sel:
                nl = links[nb][layer]
                nl.append(i)
                if len(nl) > m_cap:
                    dn = {x: dist(nb, x) for x in nl}
                    links[nb][layer] = _select_closest(nl, dn, m_cap)
            eps = cands
        if lvl > max_level:
            entry, max_level = i, lvl


def _build_shard_graph(
    ids: np.ndarray, vecs: np.ndarray, m: int, ef_c: int
) -> tuple[dict[int, list[list[int]]], dict[int, int]]:
    """Insert-in-id-order HNSW build. vecs must be L2-normalized rows.
    Returns (links[id][layer] adjacency, levels[id])."""
    order = np.argsort(ids)
    ids, vecs = ids[order], vecs[order]
    links: dict[int, list[list[int]]] = {}
    levels: dict[int, int] = {}
    _graph_insert(ids, vecs, links, levels, [int(i) for i in ids], m, ef_c)
    return links, levels


def build_hnsw(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dir: str,
    n_shards: int = 8,
    m: int = 16,
    ef_construction: int = 100,
) -> None:
    """Build per-shard HNSW graphs over ``df(id, vec)`` → parquet at
    ``out_dir`` partitioned by shard."""
    mm, efc = int(m), int(ef_construction)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        vecs = np.stack(pdf["_vec"].to_list()).astype(np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        vecs = vecs / norms[:, None]
        links, levels = _build_shard_graph(ids, vecs, mm, efc)
        shard = int(pdf["shard"].iloc[0])
        order = np.argsort(ids)
        return pd.DataFrame(
            {
                "shard": shard,
                "id": ids[order],
                "vec": [np.asarray(v, dtype=np.float32) for v in vecs[order]],
                "level": [levels[int(i)] for i in ids[order]],
                "links": [links[int(i)] for i in ids[order]],
            }
        )

    src = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.col(id_col).cast("long"), F.lit(n_shards)).cast("int").alias("shard"),
    )
    (
        src.groupBy("shard")
        .applyInPandas(build, schema=GRAPH_SCHEMA)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    import json as _json
    import os as _os

    with open(_os.path.join(out_dir, "_hnsw_meta.json"), "w") as f:
        _json.dump(
            {"n_shards": int(n_shards), "m": mm, "ef_construction": efc}, f
        )


def insert_hnsw(
    spark, new_df: DataFrame, id_col: str, vec_col: str, graph_dir: str
) -> list[int]:
    """Append a batch into the existing per-shard graphs WITHOUT a full
    rebuild (the reference appends vectors into per-segment Lucene graphs
    incrementally, index/Indexer.scala:41-101). Only shards that receive new
    vectors are rewritten — untouched shards' partition files stay
    byte-identical on disk. New nodes insert in ascending-id order through
    the same kernel the full build uses (_graph_insert), continuing from the
    loaded graph state; ids that already exist in a graph are skipped.
    Returns the list of rewritten shard ids."""
    import json
    import os
    import shutil

    with open(os.path.join(graph_dir, "_hnsw_meta.json")) as f:
        meta = json.load(f)
    nsh, mm, efc = int(meta["n_shards"]), int(meta["m"]), int(meta["ef_construction"])
    src = new_df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.col(id_col).cast("long"), F.lit(nsh)).cast("int").alias("shard"),
    )
    touched = sorted(r[0] for r in src.select("shard").distinct().collect())
    if not touched:
        return []
    graph = spark.read.parquet(graph_dir).where(F.col("shard").isin(touched))
    old = graph.select(
        "shard", "id", "vec", "level", "links", F.lit(0).alias("_new")
    )
    new = src.select(
        "shard",
        "id",
        F.col("vec").cast("array<float>").alias("vec"),
        F.lit(-1).alias("level"),
        F.lit(None).cast("array<array<long>>").alias("links"),
        F.lit(1).alias("_new"),
    )
    u = old.unionByName(new)

    def upsert(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        oldp = pdf[pdf["_new"] == 0]
        newp = pdf[pdf["_new"] == 1].drop_duplicates("id").sort_values("id")
        old_ids = oldp["id"].to_numpy(dtype=np.int64)
        links = {
            int(i): [list(map(int, lk)) for lk in lks]
            for i, lks in zip(old_ids, oldp["links"].to_list())
        }
        levels = {int(i): int(lv) for i, lv in zip(old_ids, oldp["level"])}
        newp = newp[~newp["id"].isin(list(links))]
        ins_ids = newp["id"].to_numpy(dtype=np.int64)
        if len(newp):
            nv = np.stack(newp["vec"].to_list()).astype(np.float64)
            norms = np.linalg.norm(nv, axis=1)
            norms[norms == 0] = 1.0
            nv = nv / norms[:, None]
        else:
            nv = np.empty((0, 0))
        if len(old_ids):
            ov = np.stack(oldp["vec"].to_list()).astype(np.float64)  # stored normalized
            all_ids = np.concatenate([old_ids, ins_ids])
            all_vecs = np.vstack([ov, nv]) if len(newp) else ov
        else:
            all_ids, all_vecs = ins_ids, nv
        _graph_insert(all_ids, all_vecs, links, levels, [int(i) for i in ins_ids], mm, efc)
        order = np.argsort(all_ids)
        pos = {int(i): p for p, i in enumerate(all_ids)}
        return pd.DataFrame(
            {
                "shard": shard,
                "id": all_ids[order],
                "vec": [
                    np.asarray(all_vecs[pos[int(i)]], dtype=np.float32)
                    for i in all_ids[order]
                ],
                "level": [levels[int(i)] for i in all_ids[order]],
                "links": [links[int(i)] for i in all_ids[order]],
            }
        )

    tmp = graph_dir + ".inserting"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        u.groupBy("shard")
        .applyInPandas(upsert, schema=GRAPH_SCHEMA)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    # swap ONLY the touched shard partition dirs; every other shard's files
    # are untouched bytes on disk. Rename-first protocol: the old shard is
    # moved aside (atomic rename) BEFORE the replacement moves in, so no
    # point in time has the only copy deleted — a crash between the two
    # renames leaves the old data recoverable under shard=N.old. The
    # remaining reader-visibility window is the same single-writer gap the
    # rest of the engine documents (incremental._swap_rows_in_place); a
    # real deployment closes it with an Iceberg/snapshot commit.
    for sd in sorted(os.listdir(tmp)):
        if not sd.startswith("shard="):
            continue
        dst = os.path.join(graph_dir, sd)
        # aside-dir lives OUTSIDE the table root so a crash leftover never
        # pollutes hive partition discovery
        old = f"{graph_dir}.old.{sd}"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(dst):
            os.rename(dst, old)
        shutil.move(os.path.join(tmp, sd), dst)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return touched


def _beam_search_shard(
    q: np.ndarray, g: pd.DataFrame, k: int, ef: int
) -> pd.DataFrame:
    """One shard's greedy-descent + layer-0 ef-beam: (id, cosine) pandas
    frame of the shard top-k. Shared verbatim by the distributed serve path
    and the driver mode, so both produce identical candidates."""
    ids = g["id"].to_numpy(dtype=np.int64)
    vecs = np.stack(g["vec"].to_list()).astype(np.float64)
    pos = {int(i): p for p, i in enumerate(ids)}
    links = {int(i): lk for i, lk in zip(ids, g["links"].to_list())}
    levels = g["level"].to_numpy()
    # entry = max level, min id tiebreak (same rule as build order)
    top = levels.max()
    entry = int(ids[levels == top].min())

    def dq(b: int) -> float:
        return 1.0 - float(q @ vecs[pos[b]])

    import bisect

    eps = [entry]
    for layer in range(int(top), 0, -1):
        changed = True
        while changed:
            changed = False
            for nb in links[eps[0]][layer] if layer < len(links[eps[0]]) else []:
                if dq(int(nb)) < dq(eps[0]):
                    eps = [int(nb)]
                    changed = True
    visited = set(eps)
    cand = [(dq(e), e) for e in eps]
    best = list(cand)
    while cand:
        d, c = cand.pop(0)
        if len(best) >= ef and d > best[-1][0]:
            break
        for nb in links[c][0] if len(links[c]) else []:
            nb = int(nb)
            if nb in visited:
                continue
            visited.add(nb)
            dn = dq(nb)
            if len(best) < ef or dn < best[-1][0]:
                bisect.insort(cand, (dn, nb))
                bisect.insort(best, (dn, nb))
                if len(best) > ef:
                    best.pop()
    out = sorted(best)[:k]
    return pd.DataFrame(
        {
            "id": np.array([b for _, b in out], dtype=np.int64),
            "cosine": np.array([1.0 - d for d, _ in out], dtype=np.float64),
        }
    )


# driver mode refuses graphs beyond this many nodes (loads per-shard
# frames on the search head; above it, stay distributed)
DRIVER_MAX_GRAPH_ROWS = DRIVER_MAX_ROWS


def hnsw_topk_driver(
    spark,
    query_vec: list[float],
    k: int = 10,
    ef_search: int = 64,
    graph_dir: str | None = None,
) -> DataFrame | None:
    """Search-head HNSW serve: read the per-shard graph parquet directly
    with pyarrow (zero Spark jobs — the shard=* hive dirs ARE the shard
    routing) and run the same beam kernel in-process. Returns None when the
    dir isn't local-listable or the graph exceeds DRIVER_MAX_GRAPH_ROWS
    (callers fall back to the distributed path). Same kernel + same final
    round/order plan → results identical to hnsw_topk."""
    import glob
    import os

    if graph_dir is None:
        return None
    shard_dirs = sorted(glob.glob(os.path.join(graph_dir, "shard=*")))
    if not shard_dirs:
        return None
    try:
        import pyarrow.parquet as pq

        files = [
            os.path.join(d, f)
            for d in shard_dirs
            for f in os.listdir(d)
            if f.endswith(".parquet")
        ]
        total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if total > DRIVER_MAX_GRAPH_ROWS:
            return None
        q = np.asarray(query_vec, dtype=np.float64)
        qn = np.linalg.norm(q)
        q = q / (qn if qn else 1.0)
        ef = max(int(ef_search), k)
        parts = []
        for d in shard_dirs:
            g = pq.read_table(d, columns=["id", "vec", "level", "links"]).to_pandas()
            if len(g):
                parts.append(_beam_search_shard(q, g, k, ef))
    except OSError:
        return None
    if not parts:
        return spark.createDataFrame([], TOPK_SCHEMA)
    cand = pd.concat(parts, ignore_index=True)
    local = spark.createDataFrame(cand, TOPK_SCHEMA)
    # identical final plan to hnsw_topk (same F.round semantics/ordering),
    # over a LocalRelation of <= k*n_shards rows
    return (
        local.select("id", F.round(F.col("cosine"), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def hnsw_topk(
    spark_or_graph,
    query_vec: list[float],
    k: int = 10,
    ef_search: int = 64,
    graph_dir: str | None = None,
    n_shards: int | None = None,
    mode: str = "auto",
) -> DataFrame:
    """ANN top-k over the per-shard graphs: (id, cosine) DataFrame.

    Pass either a SparkSession + ``graph_dir`` or an already-loaded (ideally
    persisted) graph DataFrame. mode="auto" serves small local graphs from
    the search head (hnsw_topk_driver — zero Spark jobs); "cluster" pins the
    distributed path. Each distributed shard's beam search runs where its
    graph rows are; only k rows per shard cross the wire."""
    if graph_dir is not None:
        if mode == "auto":
            out = hnsw_topk_driver(
                spark_or_graph, query_vec, k, ef_search, graph_dir
            )
            if out is not None:
                return out
        graph = spark_or_graph.read.parquet(graph_dir)
    else:
        graph = spark_or_graph
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    q = q / (qn if qn else 1.0)
    ef = max(int(ef_search), k)

    def run(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        for _, g in pdf.groupby("shard", sort=False):
            yield _beam_search_shard(q, g, k, ef)

    if n_shards is not None:
        nsh = int(n_shards)
    elif graph_dir is not None:
        # shard= partition dirs name the count — no Spark job needed
        import glob as _glob
        import os as _os

        dirs = _glob.glob(_os.path.join(graph_dir, "shard=*"))
        nsh = max(len(dirs), 1)
    else:
        nsh = graph.select(F.max("shard")).first()[0]
        nsh = int(nsh) + 1 if nsh is not None else 1
    local = graph.repartition(nsh, "shard").mapInPandas(run, schema=TOPK_SCHEMA)
    return (
        local.select("id", F.round(F.col("cosine"), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )
