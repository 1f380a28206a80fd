"""SQL-facing metadata access: Python UDTFs over the per-file emitters.

Registers one table function per metadata level, so metadata becomes
queryable from pure SQL — no DataFrame code, no format registration:

    SELECT * FROM metadata_columns('/data/part-0.parquet')

and, the scale-correct form, LATERAL over a file listing (each file's
footer parses inside the task that owns its row, so parallelism follows
the listing DataFrame's partitioning instead of a single eval call):

    SELECT f.filepath, c.path, c.num_values
    FROM metadata_files_df f, LATERAL metadata_columns(f.filepath) c

The UDTF bodies dispatch through the ``rows.EMITTERS`` table that backs
``read_metadata()`` and ``format("metadata")`` — three entry points, one
row contract (SURVEY §1.2 schemas, byte-for-byte). Python UDTFs are a
Spark 4.x surface (``pyspark.sql.functions.udtf``); the page variant
emits headers only (``pagecontent`` stays a DataFrame-API option — page
bytes don't belong in ad-hoc SQL result sets).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..listing import list_files, prune_files_by_partition
from ..schemas import SCHEMAS_BY_LEVEL
from . import rows as R

#: UDTF name -> (source, level)
_UDTFS = {
    "metadata_files": ("file", "file"),
    "metadata_parquet_file": ("parquet", "file"),
    "metadata_rowgroups": ("parquet", "rowgroup"),
    "metadata_columns": ("parquet", "column"),
    "metadata_pages": ("parquet", "page"),
}


def _make_udtf_class(emit):
    class MetadataUDTF:
        def eval(self, path: str, partition_filter: str = None):
            # a file path yields that file; a directory path lists
            # recursively (serial within this eval — prefer LATERAL over a
            # listing for wide roots). The optional second argument is the
            # same "col=a|b,col2=v" conjunction the partitionfilter option
            # takes: pruned files are never footer-read, from pure SQL.
            files = prune_files_by_partition(list_files(path), partition_filter)
            yield from R.scan_rows(files, emit)

    return MetadataUDTF


def register_udtfs(spark: SparkSession) -> SparkSession:
    """Register all metadata table functions with this session."""
    from pyspark.sql.functions import udtf

    for name, key in _UDTFS.items():
        cls = _make_udtf_class(R.emitter(*key))
        spark.udtf.register(name, udtf(cls, returnType=SCHEMAS_BY_LEVEL[key]))
    from .api import _page_index_schema, page_index_rows

    spark.udtf.register(
        "metadata_page_index",
        udtf(_make_udtf_class(page_index_rows), returnType=_page_index_schema()),
    )
    return spark
