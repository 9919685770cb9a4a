"""Pushes built on the driver.

A REST push arrives as a small batch of parsed documents already in the
driver's memory. The Spark push (``IndexBuilder._build_shards`` +
``finalize``) spends ~22 jobs on it; the reference indexes such a batch
in-process into its open IndexWriter (``api/IndexModifyRoute.scala:21-45``,
``index/Indexer.scala:41-101``). ``DriverPush`` builds it with pyarrow and
numpy in zero Spark jobs and writes the same tables, row for row:

1. docid (Spark's ``xxhash64`` in Python) and shard;
2. per-shard ordinals above the lineage base, in ``_with_ordinals``' order;
3. analysis with each analyzer's Python form;
4. postings with norms (``lucene.int_to_byte4``, the ``_norm_expr`` math);
5. one docs, one postings and one lineage file;
6. a re-pack of the touched ordinal groups (``og``), decided by the same
   ``IndexBuilder._pack_plan`` and encoded by the same
   ``codec.pack_batches`` the Spark pack runs;
7. the dictionary fold;
8. ``packed_manifest.json`` and ``stats.json``, in finalize's commit order.

Each step's equality with its Spark form is tested
(tests/test_driver_push.py). ``DriverPush.decline`` names every shape that
takes the Spark push instead.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
import uuid
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from nixiesearch_spark import lucene
from nixiesearch_spark.analysis import analyzer_py
from nixiesearch_spark.index import codec
from nixiesearch_spark.index.builder import (
    DRIVER_MAX_ROWS,
    LINEAGE_SCHEMA,
    PACKED_SCHEMA,
    IndexReader,
)
from nixiesearch_spark.index.parquet_files import (
    ARROW_TYPES,
    CODECS,
    local_files,
    part_name,
    write_parquet,
)

# ---------- Spark's xxhash64, in Python ----------

_M = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_SEED = 42  # Spark's xxhash64 seed
# Spark column type → how xxhash64 hashes its value
_HASH_KINDS = {StringType: "string", LongType: "long", IntegerType: "int"}


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned int: what Spark's XXH64 computes
    over a value's bytes."""
    n, i, seed = len(data), 0, seed & _M
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M
        h = _rotl(h, 11) * _P1 & _M
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    return h ^ (h >> 32)


def spark_xxhash64(values, kinds) -> int:
    """``F.xxhash64`` over one row, as a signed long: XXH64 chained column
    by column from seed 42, the running hash seeding the next value; a
    null leaves it as it is. ``kinds[i]`` says how column i hashes:
    "string" (its UTF-8 bytes), "long" (8 bytes) or "int" (4 bytes)."""
    h = _SEED
    for v, kind in zip(values, kinds):
        if v is None:
            continue
        if kind == "string":
            data = v.encode("utf-8")
        else:
            data = int(v).to_bytes(8 if kind == "long" else 4, "little", signed=True)
        h = xxh64(data, h)
    return h - (1 << 64) if h >> 63 else h


def _text_key(v):
    """Spark's ascending string order: nulls first, then UTF-8 bytes."""
    return (0, b"") if v is None else (1, v.encode("utf-8"))


# ---------- the push ----------

# the tables a push reads before it writes
_TABLES = ("docs", "postings", "lineage", "dictionary")
# columns the docs table adds to a batch's own
_RESERVED = {"docid", "ordinal", "shard", "sha256", "seqnum"}
_POSTINGS_COLS = ("shard", "field", "term", "docid", "ordinal", "norm", "tf")
_PACK_KEYS = ("shard", "field", "term", "og", "ordinal")
_DICT_COLS = ("field", "term", "df", "cf")


def _dictionary_schema(summed: bool) -> StructType:
    """The dictionary's schema: an incremental fold's coalesced sums are
    non-null, a full pack's aggregate sums nullable."""
    return StructType(
        [
            StructField("field", StringType()),
            StructField("term", StringType()),
            StructField("df", LongType(), summed),
            StructField("cf", LongType(), summed),
        ]
    )


class DriverPush:
    """One in-memory batch (``streaming.incremental.LocalBatch``) built on
    the driver. ``decline()`` names why it cannot be (None when it can);
    ``run()`` then writes it. Both run zero Spark jobs."""

    def __init__(self, indexer, batch, batch_id: int):
        self.spark = indexer.spark
        self.config = indexer.config
        self.builder = indexer.builder
        self.pack_each_batch = indexer.pack_each_batch
        self.dir = indexer.index_dir
        self.batch, self.batch_id = batch, int(batch_id)
        self.types = {f.name: type(f.dataType) for f in batch.schema.fields}
        self.col = {n: i for i, n in enumerate(batch.schema.names)}
        self.codec = str(self.spark.conf.get("spark.sql.parquet.compression.codec")).lower()
        self.postings_name = part_name("snappy")
        self.t0 = time.time()

    def _path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    def _stored(self) -> list[str]:
        """The docs table's stored columns, as _build_shards picks them."""
        c = self.config
        if c.stored_cols:
            return list(c.stored_cols)
        return [x for x in [*self.batch.schema.names, "seqnum"] if x not in ("docid", "shard")]

    def decline(self) -> str | None:
        """Why this batch takes the Spark push, or None. Every shape the
        driver cannot write bit for bit has one named reason here, checked
        cheapest first; the last, the re-pack's row bound, needs the
        batch's ordinals and postings, which it builds."""
        c, types = self.config, self.types
        if not c.quantize:
            return "unquantized"
        if not self.pack_each_batch:
            return "deferred_pack"
        if self.codec not in CODECS:
            return "codec"
        if c.id_col is not None:
            if types.get(c.id_col) not in (LongType, IntegerType) or any(
                r[self.col[c.id_col]] is None for r in self.batch.rows
            ):
                return "id_col"
        elif any(types.get(x) not in _HASH_KINDS for x in c.id_cols):
            return "id_cols"
        if any(types.get(f) is not StringType for f in c.text_fields):
            return "text_type"
        if _RESERVED & set(types):
            return "reserved_column"
        if any(x != "seqnum" and types.get(x) not in ARROW_TYPES for x in self._stored()):
            return "column_type"
        if not self._encodable():
            return "encoding"
        if not os.path.exists(self._path("stats.json")):
            return "no_index"
        if any(glob.glob(self._path(t, "shard=*")) for t in ("docs", "postings")):
            return "legacy_layout"  # the Spark push raises its own error
        reader = IndexReader(self.spark, self.dir)
        if any(reader._local_dataset(t) is None for t in _TABLES):
            return "storage"
        if not reader.head_segment.fits():
            return "head_segment"
        self._prelude()
        if self._repack_rows_bound() > DRIVER_MAX_ROWS:
            return "rows"
        return None

    def _encodable(self) -> bool:
        """Every string value has a UTF-8 form (JSON admits lone
        surrogates; Spark and pyarrow need UTF-8)."""
        cols = [i for n, i in self.col.items() if self.types[n] is StringType]
        try:
            for r in self.batch.rows:
                for i in cols:
                    if r[i] is not None:
                        r[i].encode("utf-8")
        except UnicodeEncodeError:
            return False
        return True

    # ---------- steps 1-4: docids, ordinals, analysis, postings ----------

    def _prelude(self) -> None:
        c, rows, col = self.config, self.batch.rows, self.col
        if c.id_col is not None:
            docid = [int(r[col[c.id_col]]) for r in rows]
        else:
            kinds = [_HASH_KINDS[self.types[x]] for x in c.id_cols]
            docid = [spark_xxhash64([r[col[x]] for x in c.id_cols], kinds) for r in rows]
        shard = [d % c.n_shards for d in docid]  # pmod: n_shards > 0
        # _with_ordinals: rank within (shard, hash bucket) by docid, then
        # the text fields, above the bucket's offset and the shard's base
        buckets = int(c.extra.get("ordinal_buckets", 64))
        hb = [spark_xxhash64([d], ["long"]) % buckets for d in docid]
        texts = [[r[col[f]] for f in c.text_fields] for r in rows]
        order = sorted(
            range(len(rows)),
            key=lambda i: (shard[i], hb[i], docid[i], *map(_text_key, texts[i])),
        )
        bases, seen = self._shard_bases(), Counter()
        ordinal = [0] * len(rows)
        for i in order:
            ordinal[i] = bases.get(shard[i], 0) + seen[shard[i]]
            seen[shard[i]] += 1
        self.docid = np.array(docid, dtype=np.int64)
        self.shard = np.array(shard, dtype=np.int32)
        self.ordinal = np.array(ordinal, dtype=np.int64)
        self.doclen, post = {}, {k: [] for k in _POSTINGS_COLS}
        for j, f in enumerate(c.text_fields):
            analyze = analyzer_py(c.analyzers.get(f, "standard"))
            toks = [analyze(t[j]) for t in texts]
            self.doclen[f] = np.array([len(t) for t in toks], dtype=np.int64)
            norms = lucene.int_to_byte4(self.doclen[f])
            for i, tt in enumerate(toks):
                for term, tf in Counter(tt).items():
                    post["shard"].append(shard[i])
                    post["field"].append(f)
                    post["term"].append(term)
                    post["docid"].append(docid[i])
                    post["ordinal"].append(ordinal[i])
                    post["norm"].append(int(norms[i]))
                    post["tf"].append(tf)
        types = {"shard": pa.int32(), "docid": pa.int64(), "ordinal": pa.int64(),
                 "norm": pa.int32(), "tf": pa.int32()}
        self.postings = pa.table(
            {k: pa.array(v, type=types.get(k, pa.string())) for k, v in post.items()}
        ).sort_by([(k, "ascending") for k in ("shard", "field", "term", "docid")])

    def _shard_bases(self) -> dict:
        """IndexBuilder._shard_bases from a pyarrow read of the lineage
        (and, for shards with a NULL rows_in batch, of the docs ordinals)."""
        lin = pq.read_table(
            self._path("lineage"), columns=["shard", "field", "rows_in", "status"]
        ).to_pandas()
        lin = lin[(lin["status"] == "committed") & (lin["field"] == self.config.text_fields[0])]
        bases, incomplete = {}, []
        for s, g in lin.groupby("shard"):
            if g["rows_in"].notna().all():
                bases[int(s)] = int(g["rows_in"].sum())
            else:
                incomplete.append(int(s))
        if incomplete:
            docs = pq.read_table(
                self._path("docs"), columns=["shard", "ordinal"],
                filters=[("shard", "in", incomplete)],
            ).to_pandas()
            for s, g in docs.groupby("shard"):
                bases[int(s)] = int(g["ordinal"].max()) + 1
            for s in incomplete:  # committed batches that wrote 0 rows
                bases.setdefault(s, 0)
        return bases

    def _plan_fields(self) -> dict:
        """Field names finalize will see (avgdl unknown before the write):
        enough for _pack_plan's mode."""
        prev = self.builder._read_stats(self.dir).get("fields", {})
        return {f: {"avgdl": 0.0} for f in {*prev, *self.config.text_fields}}

    def _changed_groups(self, span: int) -> np.ndarray:
        return np.unique(self.postings.column("ordinal").to_numpy() // span)

    def _repack_rows_bound(self) -> int:
        """Upper bound on the postings rows the re-pack reads, from the
        files' row-group ``ordinal`` statistics: the batch's rows plus
        every row group that may hold a touched og (all of them for a
        full pack)."""
        mode, manifest, _ = self.builder._pack_plan(
            self.dir, self._plan_fields(), adding=(self.postings_name,)
        )
        changed = self._changed_groups(manifest["group_span"])
        lo = int(changed.min()) * manifest["group_span"] if len(changed) else None
        total = self.postings.num_rows
        for f in local_files(self._path("postings")) or ():
            md = pq.read_metadata(f)
            names = [md.schema.column(i).path for i in range(md.num_columns)]
            i = names.index("ordinal")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(i).statistics
                skip = (
                    mode == "incremental"
                    and (lo is None or (st is not None and st.has_min_max and st.max < lo))
                )
                total += 0 if skip else md.row_group(g).num_rows
        return total

    # ---------- steps 5-8: write, re-pack, fold, commit ----------

    def run(self) -> None:
        b, c = self.builder, self.config
        t_ph = b._mark("prelude", self.t0)
        self._write_docs()
        write_parquet(
            {k: self.postings.column(k) for k in _POSTINGS_COLS},
            self._postings_schema(), self._path("postings"), "snappy",
            self.spark.version, name=self.postings_name,
        )
        t_ph = b._mark("postings_write", t_ph)
        shards = list(range(c.n_shards))
        rows = b._lineage_rows(shards, self._lineage_metrics(shards),
                               int((time.time() - self.t0) * 1000))
        write_parquet({f.name: [r[f.name] for r in rows] for f in LINEAGE_SCHEMA.fields},
                      LINEAGE_SCHEMA, self._path("lineage"), self.codec, self.spark.version)
        t_ph = b._mark("lineage_write", t_ph)
        lin = pq.read_table(self._path("lineage"), columns=["field", "docs_with_field", "sum_dl"])
        sums = lin.group_by("field").aggregate([("docs_with_field", "sum"), ("sum_dl", "sum")])
        fields = b._field_stats(
            zip(*(sums.column(k).to_pylist()
                  for k in ("field", "docs_with_field_sum", "sum_dl_sum")))
        )
        seqnum = int(time.time() * 1000)
        t_ph = b._mark("finalize_stats", t_ph)
        # never "noop": the manifest cannot list the file just written
        mode, manifest, _ = b._pack_plan(self.dir, fields)
        read = self._repack(mode, manifest)
        with open(self._path("packed_manifest.json"), "w") as f:
            json.dump(manifest, f)
        t_ph = b._mark("pack", t_ph)
        self._fold_dictionary(mode, read)
        b._mark("dictionary", t_ph)
        stats = b._stats_doc(fields, seqnum, seqnum, manifest["pack_avgdl"])
        with open(self._path("stats.json"), "w") as f:
            json.dump(stats, f, indent=2)

    def _docid_nullable(self) -> bool:
        c = self.config
        return c.id_col is not None and self.batch.schema[c.id_col].nullable

    def _postings_schema(self) -> StructType:
        nullable = {"shard": True, "ordinal": True, "docid": self._docid_nullable()}
        kinds = {"shard": IntegerType(), "docid": LongType(), "ordinal": LongType(),
                 "norm": IntegerType(), "tf": IntegerType()}
        return StructType(
            [StructField(k, kinds.get(k, StringType()), nullable.get(k, False))
             for k in _POSTINGS_COLS]
        )

    def _write_docs(self) -> None:
        c, rows = self.config, self.batch.rows
        stored = self._stored()
        fields = [
            StructField("docid", LongType(), self._docid_nullable()),
            StructField("ordinal", LongType()),
            StructField("shard", IntegerType()),
            StructField("sha256", StringType()),
        ] + [
            StructField("seqnum", LongType(), False) if x == "seqnum" else self.batch.schema[x]
            for x in stored
        ]
        first = self.col[c.text_fields[0]]
        cols = {
            "docid": self.docid,
            "ordinal": self.ordinal,
            "shard": self.shard,
            "sha256": [hashlib.sha256((r[first] or "").encode("utf-8")).hexdigest() for r in rows],
            "seqnum": [self.batch_id] * len(rows),
        }
        for x in stored:
            if x != "seqnum":
                cols[x] = [r[self.col[x]] for r in rows]
        write_parquet(cols, StructType(fields), self._path("docs"), self.codec, self.spark.version)

    def _lineage_metrics(self, shards: list[int]) -> dict:
        """The values _build_shards' Observations collect, keyed the same."""
        post = Counter(zip(self.postings.column("shard").to_pylist(),
                           self.postings.column("field").to_pylist()))
        vals = {}
        for g in self.builder._lineage_groups(shards):
            m = self.shard == g if g != -1 else np.ones(len(self.shard), dtype=bool)
            vals[f"rows__{g}"] = int(m.sum())
            for f in self.config.text_fields:
                dl = self.doclen[f][m]
                vals[f"docs__{g}__{f}"] = int((dl > 0).sum())
                vals[f"dl__{g}__{f}"] = int(dl.sum())
                vals[f"post__{g}__{f}"] = sum(
                    n for (s, pf), n in post.items() if pf == f and (g == -1 or s == g)
                )
        return vals

    def _repack(self, mode: str, manifest: dict) -> pa.Table:
        """Re-pack the og groups the batch touched ("incremental") or every
        group ("full") from the postings files as they now stand, and
        replace those og partitions whole, as the Spark pack's (dynamic)
        overwrite does. Returns the postings rows it read."""
        span = manifest["group_span"]
        ds = pads.dataset(self._path("postings"), format="parquet")
        cols = ["shard", "field", "term", "ordinal", "tf", "norm"]
        if mode == "incremental":
            changed = self._changed_groups(span)
            if not len(changed):
                return self.postings
            rows = ds.to_table(columns=cols, filter=pads.field("ordinal") >= int(changed[0]) * span)
            og = rows.column("ordinal").to_numpy() // span
            keep = np.isin(og, changed)
            rows, og = rows.filter(pa.array(keep)), og[keep]
        else:
            rows = ds.to_table(columns=cols)
            og = rows.column("ordinal").to_numpy() // span
        rows = rows.append_column("og", pa.array(og.astype(np.int32)))
        rows = rows.select(["shard", "field", "term", "og", "ordinal", "tf", "norm"])
        rows = rows.sort_by([(k, "ascending") for k in _PACK_KEYS])
        caches = {f: lucene.norm_cache(np.float32(a)) for f, a in manifest["pack_avgdl"].items()}
        blocks = list(codec.pack_batches(
            rows.combine_chunks().to_batches(), self.config.block_size, caches
        ))
        packed = pa.Table.from_batches(blocks).sort_by(
            [(k, "ascending") for k in ("og", "shard", "field", "term", "block_id")]
        )
        file_schema = StructType([f for f in PACKED_SCHEMA.fields if f.name != "og"])
        stage = self._path("packed.updating")
        shutil.rmtree(stage, ignore_errors=True)
        groups = packed.column("og").to_numpy()
        for g in np.unique(groups):
            part = packed.filter(pa.array(groups == g))
            write_parquet({f.name: part.column(f.name) for f in file_schema.fields},
                          file_schema, os.path.join(stage, f"og={g}"), "snappy",
                          self.spark.version)
        root = self._path("packed")
        if mode == "full":
            _swap_dir(stage, root)
            return rows
        for g in np.unique(groups):
            _swap_dir(os.path.join(stage, f"og={g}"), os.path.join(root, f"og={g}"))
        shutil.rmtree(stage, ignore_errors=True)
        return rows

    def _fold_dictionary(self, mode: str, read: pa.Table) -> None:
        """_refresh_dictionary on the driver: an incremental pack folds the
        batch's per-term (df, cf) into the dictionary; a full pack rebuilds
        it from ``read``, every postings row the re-pack read."""
        incremental = mode == "incremental"
        src = self.postings if incremental else read
        delta = _renamed(src.group_by(["field", "term"]).aggregate([("tf", "count"), ("tf", "sum")]),
                         ("field", "term", "tf_count", "tf_sum"))
        if incremental:
            old = pq.read_table(self._path("dictionary"), columns=list(_DICT_COLS))
            delta = _renamed(
                pa.concat_tables([_renamed(old, _DICT_COLS), delta])
                .group_by(["field", "term"])
                .aggregate([("df", "sum"), ("cf", "sum")]),
                ("field", "term", "df_sum", "cf_sum"),
            )
        delta = delta.sort_by([("field", "ascending"), ("term", "ascending")])
        stage = self._path("dictionary.updating")
        shutil.rmtree(stage, ignore_errors=True)
        write_parquet({k: delta.column(k) for k in _DICT_COLS},
                      _dictionary_schema(incremental), stage, self.codec, self.spark.version)
        _swap_dir(stage, self._path("dictionary"))


def _renamed(table: pa.Table, names) -> pa.Table:
    """``names``' columns of ``table`` as the dictionary's columns, all
    nullable, so tables of either origin concatenate."""
    return pa.table({k: table.column(n) for k, n in zip(_DICT_COLS, names)})


def _swap_dir(new: str, path: str) -> None:
    """Put the dir ``new`` at ``path``, replacing whatever was there. A
    reader listing in between sees ``path`` missing for one rename — the
    single-writer gap every table swap here shares (builder.finalize)."""
    old = None
    if os.path.exists(path):
        old = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.old-{uuid.uuid4()}")
        os.rename(path, old)
    os.rename(new, path)
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)
