"""Per-level row emitters, their one dispatch table, and scan planning.

Each emitter takes a ``FileInfo`` seed and yields plain tuples matching the
corresponding StructType in ``schemas.py``. ``EMITTERS`` maps every
``(source, level)`` to its emitter for all three entry points (function
API, ``format("metadata")``, SQL table functions). Emitters run inside
Spark tasks, one task per slice of files from ``plan_slices``; everything
above them — filter, project, join, agg — is ordinary Catalyst-optimized
Spark SQL.

Parity targets: FILE rows ``MetadataFileFormat.scala:110-131``; parquet
file rows ``:163-179``; rowgroup ``:180-193`` (+ ``ParquetUtils.scala:130-157``);
column ``:194-231`` (+ ``ParquetUtils.scala:159-245``); page ``:232-320``.
"""

from __future__ import annotations

from itertools import chain
from typing import Iterator, Optional

from ..listing import FileInfo
from ..options import DEFAULT_BUFFER_SIZE, LEVEL_PAGE, validate_maxparts
from ..parquet.footer import read_footer, schema_to_string
from ..parquet.io import fs_options_snapshot, install_fs_options
from ..parquet.pages import iter_pages
from ..parquet.thrift import (
    COMPRESSION_CODECS,
    ENCODINGS,
    PAGE_TYPES,
    PHYSICAL_TYPES,
)


def file_rows(f: FileInfo) -> Iterator[tuple]:
    yield (f.path, f.name, f.size, f.mtime, f.partition_map())


def parquet_file_rows(f: FileInfo) -> Iterator[tuple]:
    meta, meta_len = read_footer(f.path, f.size)
    kv = dict(meta.key_value_metadata) if meta.key_value_metadata is not None else None
    yield (
        f.path,
        f.name,
        f.size,
        f.mtime,
        f.partition_map(),
        meta_len,
        schema_to_string(meta),
        meta.num_rows,
        len(meta.row_groups),
        meta.created_by,
        kv,
    )


def rowgroup_rows(f: FileInfo) -> Iterator[tuple]:
    meta, _ = read_footer(f.path, f.size)
    for rg_id, rg in enumerate(meta.row_groups):
        yield (
            rg_id,
            rg.start_offset,
            rg.compressed_size,
            rg.total_byte_size,
            rg.num_rows,
            len(rg.columns),
            f.path,
            rg.sorting_columns,
        )


def column_rows(f: FileInfo) -> Iterator[tuple]:
    meta, _ = read_footer(f.path, f.size)
    for rg_id, rg in enumerate(meta.row_groups):
        for col_id, col in enumerate(rg.columns):
            stats = col.statistics.as_row() if col.statistics else None
            # sizes/counts default to 0 when ColumnMetaData is absent
            # (reference ParquetUtils.scala:193-207 getOrElse(0)); offsets
            # and path stay NULL like the reference's Option fields
            yield (
                rg_id,
                col_id,
                col.start_offset,
                col.total_compressed_size or 0,
                col.total_uncompressed_size or 0,
                ".".join(p for p in col.path_in_schema if p is not None),
                PHYSICAL_TYPES[col.type] if col.type is not None else None,
                [ENCODINGS.get(e, str(e)) for e in col.encodings],
                COMPRESSION_CODECS.get(col.codec) if col.codec is not None else None,
                col.num_values or 0,
                stats,
                col.data_page_offset,
                col.dictionary_page_offset,
                col.index_page_offset,
                col.offset_index_offset,
                col.offset_index_length,
                col.column_index_offset,
                col.column_index_length,
                f.path,
                col.bloom_filter_offset,
                col.bloom_filter_length,
                col.unencoded_byte_array_data_bytes,
                col.repetition_level_histogram,
                col.definition_level_histogram,
                [
                    (PAGE_TYPES.get(pt, str(pt)), ENCODINGS.get(e, str(e)), n)
                    for pt, e, n in col.encoding_stats
                ]
                if col.encoding_stats is not None
                else None,
            )


def page_rows(
    f: FileInfo,
    buffer_size: int = DEFAULT_BUFFER_SIZE,
    page_content: bool = False,
    metrics=None,
) -> Iterator[tuple]:
    for page in iter_pages(
        f.path,
        size=f.size,
        buffer_size=buffer_size,
        page_content=page_content,
        on_close=metrics.add if metrics is not None else None,
    ):
        yield page + (f.path,)


#: (source, level) -> per-file emitter (keys as in ``schemas.SCHEMAS_BY_LEVEL``)
EMITTERS = {
    ("file", "file"): file_rows,
    ("parquet", "file"): parquet_file_rows,
    ("parquet", "rowgroup"): rowgroup_rows,
    ("parquet", "column"): column_rows,
    ("parquet", "page"): page_rows,
}


def emitter(source, level, *page_args):
    """The one-argument emitter for ``(source, level)``; ``page_args``
    (buffer size, page content, metrics) bind only at page level."""
    emit = EMITTERS[(source, level)]
    return (lambda f: emit(f, *page_args)) if level == LEVEL_PAGE else emit


def plan_slices(files: list, maxparts: int, slots: Optional[int] = None) -> list:
    """``files`` cut into ``max(1, min(n_files, maxparts, slots))``
    contiguous chunks in listing order, one scan task each. A Python task
    costs ~90 ms against ~1 ms of footer work per file, so a scan runs one
    task per task slot (``slots``: the session's ``defaultParallelism``;
    None leaves ``min(n_files, maxparts)``), capped by ``maxparts``."""
    validate_maxparts(maxparts)
    n = max(1, min(len(files), maxparts, slots or maxparts))
    return [files[i * len(files) // n : (i + 1) * len(files) // n] for i in range(n)]


def scan_rows(files, emit, fs_snapshot=None, part_keys=()) -> Iterator[tuple]:
    """The rows of ``files`` in order: the body of one scan task.

    ``fs_snapshot`` (the driver's ``fs_options_snapshot()``) installs once,
    before any filesystem resolve, since module globals do not cross the
    task boundary. An EMPTY snapshot still installs (wholesale-replacing
    the worker registry): a reused worker must not resolve with a previous
    job's options. ``part_keys`` appends those partition values to rows.
    """
    if fs_snapshot is not None:
        install_fs_options(fs_snapshot)
    for f in files:
        if not part_keys:
            yield from emit(f)
            continue
        suffix = tuple(f.partition_map().get(k) for k in part_keys)
        for row in emit(f):
            yield tuple(row) + suffix


def scan_rdd(spark, files: list, maxparts: int, emit):
    """``emit``'s rows over ``files`` as an RDD: one partition per
    ``plan_slices`` chunk, no shuffle."""
    chunks = plan_slices(files, maxparts, spark.sparkContext.defaultParallelism)
    snap = fs_options_snapshot()
    return spark.sparkContext.parallelize(chunks, len(chunks)).mapPartitions(
        lambda it: scan_rows(chain.from_iterable(it), emit, snap)
    )
