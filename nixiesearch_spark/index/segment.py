"""The search head's resident segment.

The reference's searcher answers from an open IndexReader over its segment
files (``index/Searcher.scala:115-274``). ``HeadSegment`` is that open
reader for the search head: what a head request reads, held in memory as
sorted columns and cut by offset instead of scanned per request (PAPERS
"Columnar Formatted Inverted Index for Highly-Paralleled, Vectorized Query
Processing", ICDE 2025):

- the packed blocks, read in the dataset's own order and then stably
  sorted by (field, term), so a term's rows keep the order a scan gives;
- the dictionary's (field, term, df);
- the ordinal map, (shard, ordinal) → docid as sorted segmented keys;
- each stored docs column a facet or sort reads (the reference's doc
  values), in the ordinal map's key order, so the row ``positions`` finds
  for a key indexes every column too. It is read over the schema unified
  from every docs footer, so a file that lacks it reads null, as Spark's
  ``mergeSchema`` gives; strings stay dictionary-encoded, as stored.

Each part is read with pyarrow on first use (zero Spark jobs); where
pyarrow cannot read the storage, the first three load once through Spark
and facets and sorts take the flat plan. After that every request cuts its
rows with ``searchsorted``. An ``IndexReader`` is one index version (a push
re-opens it), so a segment is built once and never patched.

``HEAD_SEGMENT_MAX_BYTES`` bounds the whole object, with every column
loaded or asked for. The route decision (``Searcher._plan_route`` and
``wand_topk``'s "auto" mode) compares it with an estimate made from the
parquet footers before anything loads; above it nothing more loads, and
``IndexReader.term_stats`` reads just the query's terms. Its value is a
memory budget, not a measurement: no measured workload comes near it.
"""

from __future__ import annotations

import functools
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads

# Largest estimated in-memory size of one reader's head segment. Above it
# the search head declines: its request shapes take the flat plan and a
# match query takes the distributed WAND plan.
HEAD_SEGMENT_MAX_BYTES = 1 << 30
# (shard << KEY_SHIFT) | ordinal: one int64 key per document across shards
KEY_SHIFT = 40

# what IndexReader.fetch_packed returns for every request, found or not
PACKED_FETCH_SCHEMA = pa.schema(
    [
        ("shard", pa.int32()),
        ("term", pa.string()),
        ("block_id", pa.int64()),
        ("block_last", pa.int64()),
        ("doc_gaps", pa.binary()),
        ("tfs", pa.binary()),
        ("norms", pa.binary()),
        ("max_impact", pa.float32()),
    ]
)
# each part's columns, and their types when they come through Spark
_SCHEMAS = {
    "packed": pa.schema([("field", pa.string()), *PACKED_FETCH_SCHEMA]),
    "dictionary": pa.schema([("field", pa.string()), ("term", pa.string()), ("df", pa.int64())]),
    "docs": pa.schema([("shard", pa.int32()), ("ordinal", pa.int64()), ("docid", pa.int64())]),
}
# in-memory bytes beyond the posting bytes and term text: a packed row's
# fixed columns (shard 4 + block_id 8 + block_last 8 + max_impact 4) and
# four 4-byte offsets (term and the three blobs); one TermIndex key's start
# and object slot (8 + 8) and its Python str header (at most 80 before the
# text, for any code point width); an ordinal map entry (key + docid)
_ROW_BYTES = 40
_KEY_BYTES = 96
_ORDINAL_BYTES = 16
# mean term text, with its 4-byte offset, where no footer says it
_TERM_BYTES = 16
# a stored column's padding and final offset, per parquet row group
_CHUNK_BYTES = 64


def _keys(tbl: pa.Table) -> np.ndarray:
    """The segmented key of each docs row."""
    return (tbl.column("shard").to_numpy().astype(np.int64) << np.int64(KEY_SHIFT)) | (
        tbl.column("ordinal").to_numpy().astype(np.int64)
    )


def _fixed_bits(typ: pa.DataType) -> int | None:
    """Bits per value of a fixed-width type, else None."""
    try:
        return typ.bit_width
    except ValueError:
        return None


def _page_bytes(mds: list, column: str) -> int:
    """Uncompressed page bytes of top-level ``column`` in footers ``mds``."""
    return sum(
        rg.column(c).total_uncompressed_size
        for md in mds
        for rg in map(md.row_group, range(md.num_row_groups))
        for c in range(rg.num_columns)
        if rg.column(c).path_in_schema == column
    )


def _sorted(tbl: pa.Table) -> tuple[pa.Table, "TermIndex"]:
    """``tbl`` stably sorted by (field, term) — equal keys keep their scan
    order — and its key index."""
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("field", "ascending"), ("term", "ascending")]))
    return tbl, TermIndex(tbl.column("field").combine_chunks(), tbl.column("term").combine_chunks())


class TermIndex:
    """Keys of a table sorted by (field, term), one entry per distinct
    key: ``starts[i]:starts[i + 1]`` are key i's rows."""

    def __init__(self, field: pa.Array, term: pa.Array):
        n = len(term)
        new = np.ones(n, dtype=bool)
        if n > 1:
            new[1:] = pc.or_(
                pc.not_equal(field[1:], field[:-1]), pc.not_equal(term[1:], term[:-1])
            ).to_numpy(zero_copy_only=False)
        first = np.flatnonzero(new)
        self.starts = np.append(first, n).astype(np.int64)
        self.terms = term.take(first).to_numpy(zero_copy_only=False)
        fields = field.take(first).to_numpy(zero_copy_only=False)
        edge = np.flatnonzero(np.r_[True, fields[1:] != fields[:-1], True]) if n else []
        # field → its [a, b) range of keys
        self.fields = {fields[a]: (a, b) for a, b in zip(edge[:-1], edge[1:])}

    def find(self, field: str, terms) -> np.ndarray:
        """Positions of the keys (field, t) for the ``terms`` present, in
        term order."""
        a, b = self.fields.get(field, (0, 0))
        q = np.array(sorted(set(terms)), dtype=object)
        pos = a + np.searchsorted(self.terms[a:b], q)
        hit = pos < b
        hit[hit] = self.terms[pos[hit]] == q[hit]
        return pos[hit]

    def rows(self, keys: np.ndarray) -> np.ndarray:
        """Row positions, in sorted order, of every key in ``keys``."""
        lo, n = self.starts[keys], self.starts[keys + 1] - self.starts[keys]
        return np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(n.sum())

    @property
    def nbytes(self) -> int:
        return self.starts.nbytes + self.terms.nbytes + sum(map(sys.getsizeof, self.terms))


class HeadSegment:
    """One reader's resident segment; each part loads on first use.
    ``nbytes`` and ``load_s`` count what has loaded (0 before anything)."""

    def __init__(self, reader):
        self._reader = reader
        self._estimate = None
        self._packed = self._dictionary = self._ordinals = None
        self._columns: dict[str, pa.Array] = {}
        self._column_estimates: dict[str, int] = {}
        self._footer_cache: dict = {}
        self.nbytes = 0
        self.load_s = 0.0

    def _read(self, table: str) -> pa.Table:
        """The part's columns of ``table`` in the dataset's own order:
        pyarrow when it can read the storage, else one Spark pull."""
        schema = _SCHEMAS[table]
        ds = self._reader._local_dataset(table)
        if ds is not None:
            return ds.to_table(columns=schema.names)
        pdf = getattr(self._reader, table).select(*schema.names).toPandas()
        return pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)

    def _loaded(self, t0: float, *parts) -> None:
        for p in parts:
            self.nbytes += int(p.nbytes)
        self.load_s += time.perf_counter() - t0

    @property
    def packed(self) -> tuple[pa.Table, TermIndex]:
        """(blocks in (field, term) order with the fetch columns, index)."""
        if self._packed is None:
            t0 = time.perf_counter()
            tbl, idx = _sorted(self._read("packed"))
            blocks = tbl.select(PACKED_FETCH_SCHEMA.names).combine_chunks()
            self._packed = (blocks, idx)
            self._loaded(t0, blocks, idx)
        return self._packed

    @property
    def dictionary(self) -> tuple[TermIndex, np.ndarray]:
        """(index, df per key). A key listed twice keeps its last row, as
        a dict built over the scan would."""
        if self._dictionary is None:
            t0 = time.perf_counter()
            tbl, idx = _sorted(self._read("dictionary"))
            df = tbl.column("df").to_numpy().astype(np.int64)[idx.starts[1:] - 1]
            self._dictionary = (idx, df)
            self._loaded(t0, idx, df)
        return self._dictionary

    @property
    def ordinals(self) -> tuple[np.ndarray, np.ndarray]:
        """(sorted segmented keys, docid per key)."""
        if self._ordinals is None:
            t0 = time.perf_counter()
            tbl = self._read("docs")
            keys = _keys(tbl)
            order = np.argsort(keys, kind="stable")
            docids = tbl.column("docid").to_numpy().astype(np.int64)[order]
            self._ordinals = (keys[order], docids)
            self._loaded(t0, *self._ordinals)
        return self._ordinals

    def positions(self, keys: np.ndarray) -> np.ndarray:
        """Rows of segmented ``keys`` in the ordinal map and every column,
        aligned with ``keys``; a key missing from the map (packed/docs
        drift) raises KeyError."""
        lut_keys, _ = self.ordinals
        keys = np.asarray(keys, dtype=np.int64)
        if not len(keys):
            return np.empty(0, dtype=np.int64)
        pos = np.minimum(np.searchsorted(lut_keys, keys), max(len(lut_keys) - 1, 0))
        if not len(lut_keys) or not np.array_equal(lut_keys[pos], keys):
            raise KeyError("packed ordinals missing from the ordinal map")
        return pos

    def column(self, field: str) -> pa.Array:
        """Docs column ``field`` in ordinal-map key order, strings and
        binaries dictionary-encoded. Requires ``column_type(field)``."""
        if field not in self._columns:
            t0 = time.perf_counter()
            typ, schema = self.column_type(field), self.docs_schema
            dictionary = set() if _fixed_bits(typ) else {field}
            if dictionary:
                i = schema.get_field_index(field)
                schema = schema.set(i, pa.field(field, pa.dictionary(pa.int32(), typ)))
            fmt = pads.ParquetFileFormat(
                read_options=pads.ParquetReadOptions(dictionary_columns=dictionary)
            )
            path = os.path.join(self._reader.index_dir, "docs")
            ds = pads.dataset(path, schema=schema, format=fmt, partitioning="hive")
            tbl = ds.to_table(columns=["shard", "ordinal", field])
            col = tbl.column(field).unify_dictionaries() if dictionary else tbl.column(field)
            col = col.combine_chunks().take(np.argsort(_keys(tbl), kind="stable"))
            self._columns[field] = col
            self._loaded(t0, col)
        return self._columns[field]

    def _footers(self, table: str) -> list | None:
        """The table's parquet footers; None where pyarrow cannot open it."""
        if table not in self._footer_cache:
            ds = self._reader._local_dataset(table)
            self._footer_cache[table] = ds and [f.metadata for f in ds.get_fragments()]
        return self._footer_cache[table]

    @functools.cached_property
    def docs_schema(self) -> pa.Schema | None:
        """The docs schema unified over every footer (with a column some
        files lack); None without footers or where files disagree."""
        mds = self._footers("docs")
        if mds is None:
            return None
        try:
            return pa.unify_schemas(
                [self._reader._local_dataset("docs").schema]
                + [md.schema.to_arrow_schema() for md in mds]
            )
        except pa.ArrowException:
            return None

    def column_type(self, field: str) -> pa.DataType | None:
        """``field``'s type in ``docs_schema`` where the segment can hold it
        as a column (fixed width, string or binary), else None."""
        schema = self.docs_schema
        typ = schema.field(field).type if schema and field in schema.names else pa.null()
        ok = _fixed_bits(typ) or pa.types.is_string(typ) or pa.types.is_binary(typ)
        return typ if ok else None

    def _column_bytes(self, field: str) -> int:
        """Bound on column ``field``'s size from the docs footers: per row a
        fixed-width value or 4-byte dictionary index, and a validity bit;
        for strings the column's pages, which spell each dictionary entry
        with its 4-byte length at least once; padding per row group."""
        if field not in self._column_estimates:
            mds = self._footers("docs")
            bits = _fixed_bits(self.column_type(field))
            rows = sum(md.num_rows for md in mds)
            groups = sum(md.num_row_groups for md in mds)
            pages = 0 if bits else _page_bytes(mds, field)
            self._column_estimates[field] = (
                -(-rows * ((bits or 32) + 1) // 8) + pages + (groups + 1) * _CHUNK_BYTES
            )
        return self._column_estimates[field]

    def estimate_bytes(self, columns=()) -> int:
        """The segment's in-memory size with every loaded column and
        ``columns``, bounded before anything loads, with zero Spark jobs.
        Row counts come from the parquet footers; on storage pyarrow cannot
        read, from stats.json: no table outgrows the token count, and the
        docs table has doc_count rows. The blobs hold at most 2 + gap bytes
        per token: a posting's norm is one byte, its tf at most tf bytes,
        its ordinal gap at most ``gap`` vbyte bytes. The term text comes
        from the dictionary footer's ``term`` column (each term once, with
        its 4-byte length). Each column is bounded by ``_column_bytes``."""
        if self._estimate is None:
            r = self._reader
            tokens = sum(f.get("sum_ttf", 0) for f in r.stats.get("fields", {}).values())
            gap = -(-max(r.doc_count, 1).bit_length() // 7)
            rows = {"packed": tokens, "dictionary": tokens, "docs": r.doc_count}
            term = _TERM_BYTES
            for table in rows:
                mds = self._footers(table)
                if mds is None:
                    continue
                rows[table] = sum(md.num_rows for md in mds)
                if table == "dictionary" and rows[table]:
                    term = _page_bytes(mds, "term") / rows[table]
            self._estimate = int(
                rows["packed"] * (_ROW_BYTES + term)
                + tokens * (2 + gap)
                + rows["dictionary"] * (2 * (_KEY_BYTES + term) + 8)
                + rows["docs"] * _ORDINAL_BYTES
            )
        return self._estimate + sum(map(self._column_bytes, {*self._columns, *columns}))

    def fits(self, columns=()) -> bool:
        """True when the search head may hold this segment with the loaded
        columns and ``columns`` (each with a ``column_type``)."""
        return self.estimate_bytes(columns) <= HEAD_SEGMENT_MAX_BYTES
