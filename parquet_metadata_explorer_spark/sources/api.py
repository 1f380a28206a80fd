"""Functional entry point: ``read_metadata(spark, path, ...)``.

The portable core (works on any Spark with an RDD API); the
``format("metadata")`` registration in ``datasource.py`` is a thin shell
over the same emitters.

Execution model: list files on the driver (distributed listing kicks in
for very wide roots), cut them into ``max(1, min(n_files, maxparts,
defaultParallelism))`` contiguous slices and run the level's row emitter
over each slice in one task. The reference's ``min(n_files, maxparts)``
(``MetadataFileFormat.scala:50-58``) suits ~1 ms JVM tasks; a Python task
costs ~90 ms against ~1 ms of footer work per file. No shuffle anywhere
in the source; downstream relational work is ordinary Catalyst.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..listing import list_files, prune_files_by_partition
from ..options import (
    DEFAULT_MAX_PARTS,
    LEVEL_FILE,
    SOURCE_FILE,
    SOURCE_PARQUET,
    MetadataOptions,
    parse_options,
    validate_source_level,
)
from ..parquet.footer import is_parquet_file
from ..schemas import SCHEMAS_BY_LEVEL
from . import rows as R


def _infer_source(files) -> str:
    """Sniff the first listed file's magic (reference DefaultSource.scala:69-81)."""
    if not files:
        return SOURCE_FILE
    return SOURCE_PARQUET if is_parquet_file(files[0].path) else SOURCE_FILE


def build_metadata_df(
    spark: SparkSession,
    opts: MetadataOptions,
    io_metrics=None,
    partition_filter=None,
) -> DataFrame:
    files = list_files(opts.path, spark=spark)
    # infer source from the FULL listing, then prune: a filter matching
    # zero files must yield an empty DataFrame of the right level, not
    # flip inference to 'file' and fail level validation
    source = opts.source or _infer_source(files)
    # prune BEFORE parallelize: only surviving files ever get a footer
    # fetch (the option string and the richer function argument share one
    # implementation)
    files = prune_files_by_partition(
        files, partition_filter if partition_filter is not None else opts.partitionfilter
    )
    validate_source_level(source, opts.level)
    emit = R.emitter(source, opts.level, opts.buffersize, opts.pagecontent, io_metrics)
    rdd = R.scan_rdd(spark, files, opts.maxparts, emit)
    return spark.createDataFrame(rdd, SCHEMAS_BY_LEVEL[(source, opts.level)])


def _page_index_schema():
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("row_group_id", IntegerType()),
            StructField("column_id", IntegerType()),
            StructField("page_idx", IntegerType()),
            StructField("offset", LongType()),
            StructField("compressed_page_size", IntegerType()),
            StructField("first_row_index", LongType()),
            StructField("null_page", BooleanType()),
            StructField("min_value", BinaryType()),
            StructField("max_value", BinaryType()),
            StructField("null_count", LongType()),
            StructField("boundary_order", IntegerType()),
            StructField("filepath", StringType()),
        ]
    )


def page_index_rows(f):
    """Per-file page-index emitter — shared by ``read_page_index`` and
    the ``metadata_page_index`` SQL table function."""
    from ..parquet.footer import read_footer
    from ..parquet.pageindex import read_page_index as _rpi

    meta, _ = read_footer(f.path, f.size)
    for rg_id, rg in enumerate(meta.row_groups):
        for col_id, col in enumerate(rg.columns):
            ci, oi = _rpi(f.path, col)
            if oi is None:
                continue
            for i, loc in enumerate(oi.page_locations):
                has_ci = ci is not None and i < len(ci.min_values)
                yield (
                    rg_id,
                    col_id,
                    i,
                    loc.offset,
                    loc.compressed_page_size,
                    loc.first_row_index,
                    bool(ci.null_pages[i]) if has_ci else None,
                    bytes(ci.min_values[i]) if has_ci else None,
                    bytes(ci.max_values[i]) if has_ci else None,
                    ci.null_counts[i]
                    if ci is not None and ci.null_counts is not None
                    else None,
                    ci.boundary_order if ci is not None else None,
                    f.path,
                )


def read_page_index(
    spark: SparkSession,
    path: str,
    maxparts: int = DEFAULT_MAX_PARTS,
) -> DataFrame:
    """Decoded parquet page-index entries (ColumnIndex ⋈ OffsetIndex):
    one row per data page per column chunk, with its location, first row
    index, min/max bytes and null statistics — the page-skipping metadata
    beyond the reference's index *offsets* (extension surface; empty for
    files written without ``write_page_index``).

    Same execution shape as the metadata levels: one footer read + two
    positioned index reads per file, parallelized over files, no shuffle.
    """
    rdd = R.scan_rdd(spark, list_files(path, spark=spark), maxparts, page_index_rows)
    return spark.createDataFrame(rdd, _page_index_schema())


def read_metadata(
    spark: SparkSession,
    path: str,
    source: Optional[str] = None,
    level: str = LEVEL_FILE,
    maxparts: Optional[int] = None,
    buffersize: Optional[int] = None,
    pagecontent: Optional[bool] = None,
    io_metrics=None,
    partition_filter=None,
    fs_options: Optional[dict] = None,
) -> DataFrame:
    """Load file / parquet metadata as a DataFrame.

    Mirrors ``spark.read.format("metadata")`` options
    (reference README.md:17-38): ``source`` in {file, parquet} (inferred
    from magic bytes when omitted), ``level`` in
    {file, rowgroup, column, page}, ``maxparts`` caps scan parallelism,
    ``buffersize`` sizes the page-scan read buffer, ``pagecontent``
    materializes raw page bytes. ``io_metrics`` (a ``metrics.ScanMetrics``)
    aggregates page-scan remote read/seek counts across all tasks.
    ``partition_filter`` (dict / callable / ``"col=value"`` string — see
    ``listing.prune_files_by_partition``) prunes files against their
    typed Hive partition values BEFORE any footer is read.
    ``fs_options`` registers pyarrow filesystem constructor kwargs
    (endpoint_override, access_key, region, ...) for this path's URI
    scheme — session-global like the reference's Hadoop conf, and
    threaded into executor tasks.
    """
    if fs_options:
        if "://" not in path:
            raise ValueError("fs_options requires a scheme-qualified URI path")
        from ..parquet.io import set_fs_options

        set_fs_options(path.split("://", 1)[0], fs_options)
    params: dict = {"path": path, "level": level}
    if source is not None:
        params["source"] = source
    if maxparts is not None:
        params["maxparts"] = str(maxparts)
    if buffersize is not None:
        params["buffersize"] = str(buffersize)
    if pagecontent is not None:
        params["pagecontent"] = str(pagecontent)
    return build_metadata_df(
        spark,
        parse_options(params),
        io_metrics=io_metrics,
        partition_filter=partition_filter,
    )
