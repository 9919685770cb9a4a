"""Parquet table files read and written on the driver with pyarrow.

The index tables are parquet dirs that Spark writes and reads. The driver
reads their footers (schemas, row counts, column statistics) and, for a
driver-built push (index/driver_push.py), writes files Spark reads exactly
as it reads its own: the same physical types, the same codec, and Spark's
schema JSON under its footer key ``SPARK_ROW_METADATA``, so Spark infers
the schema it wrote. Every function here runs zero Spark jobs; where
pyarrow cannot open the storage they say so (None) and the caller takes
its Spark form.
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"
# the Spark column types a driver write stores, with their Arrow types
ARROW_TYPES = {
    StringType: pa.string(),
    LongType: pa.int64(),
    IntegerType: pa.int32(),
    DoubleType: pa.float64(),
    FloatType: pa.float32(),
    BooleanType: pa.bool_(),
    BinaryType: pa.binary(),
}
# the index's codecs (spark.sql.parquet.compression.codec for docs,
# lineage and dictionary; snappy for postings and packed) → Spark's suffix
CODECS = {"zstd": ".zstd", "snappy": ".snappy"}
# parquet-mr's default zstd level, which Spark's writes use
_ZSTD_LEVEL = 3


def local_files(path: str) -> list[str] | None:
    """The parquet files of the table dir ``path`` as pyarrow lists them
    (hidden ``.``/``_`` names skipped, as Spark skips them), or None when
    pyarrow cannot open it."""
    if not os.path.isdir(path):
        return None
    try:
        import pyarrow.dataset as pads

        return sorted(pads.dataset(path, format="parquet", partitioning="hive").files)
    except Exception:  # non-local fs / arrow quirk → the caller's Spark form
        return None


def _file_schema(md) -> StructType:
    raw = (md.metadata or {}).get(SPARK_ROW_METADATA.encode())
    if raw is not None:
        return StructType.fromJson(json.loads(raw))
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(md.schema.to_arrow_schema())


def footer_schema(path: str) -> StructType | None:
    """The table's Spark schema merged over every file's footer — what
    ``mergeSchema`` infers, without its Spark job: each file's own Spark
    schema (Arrow-converted where a file lacks the key), columns in order
    of first appearance. None when pyarrow cannot open the dir or two
    files disagree on a column's type."""
    files = local_files(path)
    if files is None:
        return None
    merged = {}
    try:
        for f in files:
            for fld in _file_schema(pq.read_metadata(f)).fields:
                prev = merged.setdefault(fld.name, fld)
                if prev.dataType != fld.dataType:
                    return None
    except (OSError, ValueError, KeyError, TypeError, pa.ArrowException):
        return None  # an unreadable footer or a type Spark has no name for
    return StructType(list(merged.values()))


def column_max(path: str, column: str):
    """(readable, max of ``column``) over the table's files: each row
    group's footer statistics, or a read of the column where a row group
    has none. Files without the column count nothing; max is None when no
    file holds a value. readable is False when pyarrow cannot open it."""
    files = local_files(path)
    if files is None:
        return False, None
    best = None
    for f in files:
        md = pq.read_metadata(f)
        names = [md.schema.column(i).path for i in range(md.num_columns)]
        if column not in names:
            continue
        i = names.index(column)
        stats = [md.row_group(g).column(i).statistics for g in range(md.num_row_groups)]
        if all(s is not None and s.has_min_max for s in stats):
            vals = [s.max for s in stats if s.num_values]
        else:
            vals = [pc.max(pq.read_table(f, columns=[column]).column(column)).as_py()]
        vals = [v for v in vals if v is not None]
        if vals:
            best = max(vals) if best is None else max(best, *vals)
    return True, best


def part_name(codec: str) -> str:
    """A new file name as Spark names its write tasks' output."""
    return f"part-00000-{uuid.uuid4()}-c000{CODECS[codec]}.parquet"


def write_parquet(columns: dict, schema: StructType, path: str, codec: str,
                  spark_version: str, name: str | None = None) -> str:
    """Write one parquet file into the dir ``path`` as Spark would write
    these rows: ``columns`` (name → values) stored with ``schema``'s
    physical types and nullability, its JSON under SPARK_ROW_METADATA,
    compressed with ``codec`` (a CODECS key). The file is written under a
    hidden name and renamed into place, so no reader lists it half
    written. Returns its name (``name``, or a new part_name)."""
    arrow = pa.schema(
        [pa.field(f.name, ARROW_TYPES[type(f.dataType)], f.nullable) for f in schema.fields],
        metadata={
            "org.apache.spark.version": spark_version,
            SPARK_ROW_METADATA: schema.json(),
        },
    )

    def arrow_col(values, typ):
        if isinstance(values, (pa.Array, pa.ChunkedArray)):
            return values.cast(typ)
        return pa.array(values, type=typ)

    table = pa.Table.from_arrays(
        [arrow_col(columns[f.name], arrow.field(f.name).type) for f in schema.fields],
        schema=arrow,
    )
    name = name or part_name(codec)
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "." + name)
    pq.write_table(
        table, tmp, compression=codec, store_schema=False,
        compression_level=_ZSTD_LEVEL if codec == "zstd" else None,
    )
    os.replace(tmp, os.path.join(path, name))
    return name
