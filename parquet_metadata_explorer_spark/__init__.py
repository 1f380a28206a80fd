"""PySpark-native rebuild of sadikovi/parquet-metadata-explorer.

Public surface:
- ``read_metadata(spark, path, source=..., level=..., ...)`` — function API.
- ``register(spark)`` — registers the ``"metadata"`` format for
  ``spark.read.format("metadata").load(path)`` (Spark 4.x Python
  Data Source API).
- ``schemas`` — the five fixed per-level StructTypes.
- ``operators`` / ``streaming`` — the 100 TB-scale extension operators
  (dedup, similarity search, text analysis, multimodal, streaming).
"""

from .options import (  # noqa: F401
    LEVEL_COLUMN,
    LEVEL_FILE,
    LEVEL_PAGE,
    LEVEL_ROWGROUP,
    SOURCE_FILE,
    SOURCE_PARQUET,
)
from .cache import persist_scope, unpersist_all  # noqa: F401
from .metrics import ScanMetrics  # noqa: F401
from .parquet.io import clear_fs_options, set_fs_options  # noqa: F401
from .sources.api import read_metadata, read_page_index  # noqa: F401
from .sources.udtfs import register_udtfs  # noqa: F401

__version__ = "0.1.0"


def register(spark):
    """Register the ``metadata`` Python data source (enables
    ``spark.read.format("metadata")``) and the per-level SQL table
    functions (``SELECT * FROM metadata_columns(path)``).

    When the session has ``spark.sql.python.filterPushdown.enabled=true``,
    the registered source enables plan-time filter pushdown by default —
    ``df.filter("filepath = …")`` (or a lifted ``part_<key>`` column with
    ``partitioncolumns=true``) then prunes the file list before any footer
    read, with no per-read option. With the conf off (Spark's default) the
    plain reader is registered, because Spark refuses any reader that even
    implements ``pushFilters`` while the conf is disabled; a per-read
    ``.option("filterpushdown", "true"/"false")`` still overrides either
    default. The registered class also carries the session's task-slot
    count, which sizes every ``format("metadata")`` scan."""
    from .sources.datasource import (
        MetadataDataSource,
        PushdownEnabledMetadataDataSource,
    )

    try:
        conf_on = (
            str(
                spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
            ).lower()
            == "true"
        )
    except Exception:
        conf_on = False
    try:
        slots = spark.sparkContext.defaultParallelism
    except AttributeError:  # Spark Connect has no SparkContext: min(n_files, maxparts)
        slots = None
    base = PushdownEnabledMetadataDataSource if conf_on else MetadataDataSource
    spark.dataSource.register(base.for_session(slots))
    register_udtfs(spark)
    return spark
