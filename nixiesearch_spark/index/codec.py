"""Posting-list compression: delta gaps + variable-byte (VByte), block-max.

The reference relies on Lucene's default codec (FOR/PFOR delta blocks,
reference ``core/codec/compat/NixiesearchCodec.scala:24-72`` only overrides
suggest/HNSW formats). The north rule mandates delta-encoded docID gaps +
term frequencies, variable-byte compressed, with per-block max-impact
metadata for WAND — implemented here as vectorized numpy transforms used
inside Arrow-batched pandas UDFs (never per-row Python).

Layout per posting block (≤ BLOCK_SIZE postings of one (shard, term)):
- ``doc_gaps``: VByte(delta(docids)) — first value is docid - block_base(=prev last or 0)
- ``tfs``: VByte(tf - 1)  (tf ≥ 1 always, save a byte on tf=1 runs)
- ``norms``: raw uint8 norm bytes, one per posting
- ``max_impact``: float32 max over block of tf/(tf + k1*(1-b+b*dl/avgdl))
  (idf-free impact; query-time upper bound = weight * max_impact).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def _bit_length(arr: np.ndarray) -> np.ndarray:
    """bit_length over uint64 values. frexp's exponent is exact below 2^53;
    above, float64 rounding can only round UP across a power-of-two boundary,
    which merely overestimates by one (a wasted zero byte, still decodable).
    Input must be uint64 — int64 would go negative for zigzagged big ids."""
    v = np.asarray(arr, dtype=np.uint64)
    _, e = np.frexp(np.maximum(v, np.uint64(1)).astype(np.float64))
    return np.where(v > 0, e, 1).astype(np.int64)


def vbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """VByte-encode + per-value byte counts (for bulk slice-per-block packing)."""
    v = np.asarray(values, dtype=np.uint64)
    if len(v) == 0:
        return b"", np.array([], dtype=np.int64)
    nbytes = ((_bit_length(v) + 6) // 7).astype(np.int64)
    return _vbyte_core(v, nbytes), nbytes


def vbyte_encode(values: np.ndarray) -> bytes:
    """VByte-encode non-negative int64 values (vectorized).

    7 data bits per byte, little-endian groups, high bit set on all but the
    final byte of each value.
    """
    v = np.asarray(values, dtype=np.uint64)
    if len(v) == 0:
        return b""
    nbytes = ((_bit_length(v) + 6) // 7).astype(np.int64)
    return _vbyte_core(v, nbytes)


def _vbyte_core(v: np.ndarray, nbytes: np.ndarray) -> bytes:
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    rem = v.copy()
    max_nb = int(nbytes.max())
    for b in range(max_nb):
        mask = nbytes > b
        pos = starts[mask] + b
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (b + 1 < nbytes[mask]).astype(np.uint8) << 7
        out[pos] = byte | cont
        rem[mask] >>= np.uint64(7)
    return out.tobytes()


def vbyte_decode(buf: bytes, n: int | None = None) -> np.ndarray:
    """Decode VByte buffer to int64 array (vectorized)."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if len(raw) == 0:
        return np.array([], dtype=np.int64)
    is_last = (raw & 0x80) == 0
    # value index for each byte: cumulative count of completed values before it
    val_idx = np.concatenate([[0], np.cumsum(is_last)[:-1]]).astype(np.int64)
    # byte position within its value
    byte_pos = np.arange(len(raw), dtype=np.int64)
    value_start = np.zeros(len(raw), dtype=np.int64)
    starts = np.concatenate([[0], np.nonzero(is_last)[0][:-1] + 1])
    value_start = starts[val_idx]
    shift = ((byte_pos - value_start) * 7).astype(np.uint64)
    parts = (raw & 0x7F).astype(np.uint64) << shift
    nvals = int(is_last.sum())
    out = np.zeros(nvals, dtype=np.uint64)
    np.add.at(out, val_idx, parts)
    res = out.astype(np.int64)
    if n is not None and len(res) != n:
        raise ValueError(f"decoded {len(res)} values, expected {n}")
    return res


def delta_encode(sorted_docids: np.ndarray) -> np.ndarray:
    """Gaps: first value kept absolute (shifted into non-negative space),
    rest are strictly-positive deltas. Caller guarantees ascending order."""
    d = np.asarray(sorted_docids, dtype=np.int64)
    out = np.empty_like(d)
    out[0] = d[0]
    out[1:] = np.diff(d)
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(gaps, dtype=np.int64))


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    """Map int64 → non-negative (docids may be negative xxhash64 values)."""
    v = np.asarray(v, dtype=np.int64)
    return ((v.astype(np.uint64) << np.uint64(1)) ^ (v >> np.int64(63)).astype(np.uint64)).astype(
        np.int64
    )


def zigzag_decode(v: np.ndarray) -> np.ndarray:
    u = np.asarray(v, dtype=np.int64).astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (np.uint64(0) - (u & np.uint64(1)))).astype(np.int64)


def encode_posting_block(docids: np.ndarray, tfs: np.ndarray, norms: np.ndarray):
    """docids ascending. Returns (doc_gaps bytes, tfs bytes, norms bytes)."""
    gaps = delta_encode(docids)
    # first gap can be negative (absolute docid) → zigzag just the head
    head = zigzag_encode(gaps[:1])
    gaps_nn = np.concatenate([head, gaps[1:]])
    return (
        vbyte_encode(gaps_nn),
        vbyte_encode(np.asarray(tfs, dtype=np.int64) - 1),
        np.asarray(norms, dtype=np.uint8).tobytes(),
    )


def decode_posting_block(doc_gaps: bytes, tfs: bytes, norms: bytes):
    gaps = vbyte_decode(doc_gaps)
    if len(gaps):
        gaps = np.concatenate([zigzag_decode(gaps[:1]), gaps[1:]])
    docids = delta_decode(gaps)
    tf = vbyte_decode(tfs) + 1
    nm = np.frombuffer(norms, dtype=np.uint8).astype(np.int64)
    return docids, tf, nm


def decode_posting_blocks(
    doc_gaps: list, tfs: list, norms: list, counts: np.ndarray
):
    """Batch form of :func:`decode_posting_block`: decode MANY blocks with
    ONE VByte pass each for gaps and tfs (VByte is self-delimiting, so
    concatenated buffers decode to concatenated values), then rebuild the
    per-block absolute docids with a segmented cumsum. ``counts[i]`` is
    block i's posting count (== len(norms[i])). Returns flat
    (docids, tf, norm) int64 arrays — slice with cumsum(counts) bounds.
    Identity with the per-block decode is unit-tested (test_codec)."""
    total = int(counts.sum())
    vals = vbyte_decode(b"".join(doc_gaps), total)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]]).astype(np.int64)
    if total:
        vals = vals.copy()
        vals[starts] = zigzag_decode(vals[starts])
        c = np.cumsum(vals)
        # subtract each block's preceding running total so every block's
        # cumsum restarts at its own absolute first docid
        offs = np.repeat(
            np.concatenate([[np.int64(0)], c[starts[1:] - 1]]), counts
        )
        docids = c - offs
    else:
        docids = vals
    tf = vbyte_decode(b"".join(tfs), total) + 1
    nm = np.frombuffer(b"".join(norms), dtype=np.uint8).astype(np.int64)
    return docids, tf, nm


# ---------- packing sorted posting rows into blocks ----------
#
# Shared by both build paths: the Spark pack's mapInArrow kernel
# (IndexBuilder._pack) and the driver push's re-pack (index/driver_push.py)
# feed these the same sorted (shard, field, term, og, ordinal, tf, norm)
# rows, so both write the same blocks.


def group_starts(rb) -> np.ndarray:
    """Row indices where a new (shard, og, field, term) group begins, via
    Arrow vectorized neighbor comparison — the string columns never
    materialize as Python objects."""
    import pyarrow.compute as pc

    n = rb.num_rows
    if n == 1:
        return np.array([0], dtype=np.int64)
    cols = {nm: rb.column(i) for i, nm in enumerate(rb.schema.names)}

    def neq(a):
        return pc.not_equal(a.slice(1), a.slice(0, n - 1))

    ch = pc.or_(
        pc.or_(neq(cols["shard"]), neq(cols["og"])),
        pc.or_(neq(cols["field"]), neq(cols["term"])),
    ).to_numpy(zero_copy_only=False)
    newgrp = np.empty(n, dtype=bool)
    newgrp[0] = True
    newgrp[1:] = ch
    return np.flatnonzero(newgrp)


def encode_region(rb, gstart: np.ndarray, block_size: int, caches: dict):
    """VByte-encode an Arrow batch of complete, sorted groups into one
    packed batch (builder.PACKED_SCHEMA). ``caches`` maps each field to
    its ``lucene.norm_cache``. Binary columns are built zero-copy from
    (offsets, value-buffer) pairs — no per-block Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from nixiesearch_spark import lucene

    n = rb.num_rows
    cols = {nm: rb.column(i) for i, nm in enumerate(rb.schema.names)}
    docids = cols["ordinal"].to_numpy()
    tfs = cols["tf"].to_numpy().astype(np.int64)
    norms = cols["norm"].to_numpy().astype(np.int64)
    glen = np.diff(np.append(gstart, n))
    pos_in_grp = np.arange(n) - np.repeat(gstart, glen)
    bstart = np.flatnonzero(pos_in_grp % block_size == 0)
    bend = np.append(bstart[1:], n)
    impact = np.empty(n, dtype=np.float32)
    for fld in pc.unique(cols["field"]).to_pylist():
        m = pc.equal(cols["field"], fld).to_numpy(zero_copy_only=False)
        impact[m] = lucene.bm25_contrib(
            np.float32(1.0), tfs[m].astype(np.float32), norms[m], caches[fld]
        )
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = 0
    gaps[1:] = docids[1:] - docids[:-1]
    gaps[bstart] = zigzag_encode(docids[bstart])
    enc_g, len_g = vbyte_encode_with_lengths(gaps)
    enc_t, len_t = vbyte_encode_with_lengths(tfs - 1)
    off_g = np.concatenate([[0], np.cumsum(len_g)])
    off_t = np.concatenate([[0], np.cumsum(len_t)])
    bounds = np.append(bstart, n)
    nb = len(bstart)

    def binary_col(values: np.ndarray, offsets: np.ndarray):
        return pa.Array.from_buffers(
            pa.binary(),
            nb,
            [None, pa.py_buffer(offsets.astype(np.int32)),
             pa.py_buffer(np.ascontiguousarray(values))],
        )

    bmax = np.maximum.reduceat(impact.astype(np.float64), bstart)
    btf = np.add.reduceat(tfs, bstart)
    idx = pa.array(bstart, type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            pc.take(cols["shard"], idx),
            pc.take(cols["field"], idx),
            pc.take(cols["term"], idx),
            pa.array(docids[bstart], type=pa.int64()),
            pa.array(docids[bend - 1], type=pa.int64()),
            pa.array((bend - bstart).astype(np.int32)),
            binary_col(np.frombuffer(enc_g, dtype=np.uint8), off_g[bounds]),
            binary_col(np.frombuffer(enc_t, dtype=np.uint8), off_t[bounds]),
            binary_col(norms.astype(np.uint8), bounds),
            pa.array(np.float32(bmax)),
            pa.array(btf, type=pa.int64()),
            pc.take(cols["og"], idx),
        ],
        names=[
            "shard", "field", "term", "block_id", "block_last", "n",
            "doc_gaps", "tfs", "norms", "max_impact", "tf_sum", "og",
        ],
    )


def pack_batches(batches, block_size: int, caches: dict):
    """Packed batches for a stream of Arrow batches sorted by (shard,
    field, term, og, ordinal). The trailing group of each batch may
    continue in the next one, so it is carried over (the carry is bounded
    by the og sub-group span)."""
    import pyarrow as pa

    carry = None
    for rb in batches:
        if carry is not None:
            rb = pa.Table.from_batches([carry, rb]).combine_chunks().to_batches()[0]
            carry = None
        if rb.num_rows == 0:
            continue
        gstart = group_starts(rb)
        last = int(gstart[-1])
        if last == 0:
            carry = rb  # whole batch is one group — keep growing
            continue
        carry = rb.slice(last)
        yield encode_region(rb.slice(0, last), gstart[:-1], block_size, caches)
    if carry is not None and carry.num_rows:
        yield encode_region(carry, group_starts(carry), block_size, caches)
