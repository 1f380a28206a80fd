"""``spark.read.format("metadata")`` via the Spark 4.x Python Data Source API.

Direct analog of the reference's DataSource V1 ``RelationProvider``
registration under short name "metadata" (``DefaultSource.scala:12-23`` +
META-INF service file). Files are listed once at plan time and cut into
``max(1, min(n_files, maxparts, defaultParallelism))`` contiguous input
partitions in listing order (``rows.plan_slices``), not the reference's
``min(n_files, maxparts)`` (``MetadataFileFormat.scala:50-58``): a Python
task costs ~90 ms against ~1 ms of footer work per file. Each partition
parses its files' footers/pages executor-side.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..listing import (
    FileInfo,
    list_files,
    parse_partition_values,
    prune_files_by_partition,
)
from ..options import parse_options, validate_source_level
from ..schemas import SCHEMAS_BY_LEVEL
from . import rows as R
from .api import _infer_source


def _install_opt_fs(opts) -> None:
    """Install the ``fsoptions`` JSON (scheme-keyed constructor kwargs for
    the load path's scheme) in the current process — called at plan time
    (listing) AND inside every read task, since each runs in its own
    Python worker."""
    if opts.fsoptions and "://" in opts.path:
        import json

        from ..parquet.io import set_fs_options

        set_fs_options(opts.path.split("://", 1)[0], json.loads(opts.fsoptions))


class MetadataReader(DataSourceReader):
    def __init__(self, opts, files, source, part_keys=(), slots=None):
        self.opts = opts
        self.files = files
        self.emit = R.emitter(source, opts.level, opts.buffersize, opts.pagecontent)
        # partitioncolumns=true: discovered partition keys lifted to
        # top-level ``part_<key>`` columns (appended after base schema)
        self.part_keys = tuple(part_keys)
        self.slots = slots

    def partitions(self):
        chunks = R.plan_slices(self.files, self.opts.maxparts, self.slots)
        return [InputPartition(c) for c in chunks]

    def read(self, partition):
        _install_opt_fs(self.opts)
        yield from R.scan_rows(partition.value, self.emit, part_keys=self.part_keys)


class PushdownMetadataReader(MetadataReader):
    """``MetadataReader`` + Spark 4.1 Python-data-source filter pushdown.

    A separate class because Spark REFUSES any reader that merely
    *implements* ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false — and the plan
    runs in a worker process that cannot read the session conf. Users
    opt in with ``.option("filterpushdown", "true")`` (plus the conf);
    ``MetadataDataSource.reader`` then selects this class.
    """

    def pushFilters(self, filters):
        """Plan-time file pruning from pushed-down predicates: an
        equality/IN on ``filename``/``filepath``, on a ``partition`` map
        key, or on a lifted ``part_<key>`` column (``partitioncolumns``
        option) shrinks the file list BEFORE any footer is fetched.
        Every filter is returned as unsupported so Spark still applies it
        post-scan — pruning only removes files that could never produce a
        matching row, so results are identical with or without it.

        NOTE (measured on Spark 4.1.2): the JVM translates only TOP-LEVEL
        attribute predicates for Python sources — ``partition['date'] =
        …`` never reaches pushFilters (only ``IsNotNull(partition)``
        does). The map-key branch below is kept for Spark versions that
        learn to push map elements; on today's Spark, automatic pruning
        via a plain ``df.filter`` needs the lifted ``part_<key>`` columns
        (or the explicit ``partitionfilter`` option)."""
        from pyspark.sql.datasource import EqualTo, In

        for f in filters:
            values = None
            if isinstance(f, EqualTo):
                values = [f.value]
            elif isinstance(f, In):
                values = list(f.values)
            if values is None:
                yield f
                continue
            attr = tuple(f.attribute)
            if attr in (("filename",), ("filepath",)):
                field = "name" if attr == ("filename",) else "path"
                allowed = {str(v) for v in values}
                self.files = [
                    x for x in self.files if getattr(x, field) in allowed
                ]
            elif (len(attr) == 2 and attr[0] == "partition") or (
                len(attr) == 1
                and attr[0].startswith("part_")
                and attr[0][5:] in self.part_keys
            ):
                key = attr[1] if len(attr) == 2 else attr[0][5:]
                allowed = {None if v is None else str(v) for v in values}
                self.files = [
                    x
                    for x in self.files
                    if dict(x.partition).get(key, object()) in allowed
                ]
            yield f


class MetadataStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("metadata")`` — emit metadata rows for
    files as they appear under the root (the fleet-monitoring pattern:
    a continuously-updated inventory of a landing zone's parquet files).

    Offsets record ``{path: "size:mtime"}`` for every file already
    emitted; a microbatch is the set of files whose token is new or
    changed. Replay (``readBetweenOffsets``) rebuilds each ``FileInfo``
    from the offset delta — sizes/mtimes come from the offset itself, so
    a replayed batch is identical even if the directory changed since,
    as long as replayed files still exist for footer-reading levels
    (parquet files in a landing zone are immutable in practice).

    The simple stream reader runs on the driver — appropriate for a
    control-plane stream whose row volume is metadata-sized, and it
    keeps the offset bookkeeping trivial. ``pagecontent=true`` would
    move data bytes through the driver, so ``simpleStreamReader``
    rejects it up front (use the batch path for bulk page extraction).
    """

    def __init__(self, opts, source, part_keys=()):
        self.opts = opts
        self.emit = R.emitter(source, opts.level, opts.buffersize, opts.pagecontent)
        self.part_keys = tuple(part_keys)
        self.root = opts.path.rstrip("/") or "/"
        _install_opt_fs(opts)  # the stream reader lists in its own process

    @staticmethod
    def _token(f) -> str:
        return f"{f.size}:{f.mtime}"

    def initialOffset(self) -> dict:
        return {"seen": {}}

    def read(self, start: dict):
        seen = dict(start.get("seen", {}))
        # apply the partition filter per micro-batch: the stream re-lists
        # on every trigger, so pruning here (not just at plan time) keeps
        # filtered-out partitions from ever being footer-read OR recorded
        # in the offset log
        listed = prune_files_by_partition(
            list_files(self.opts.path), self.opts.partitionfilter
        )
        new = [f for f in listed if seen.get(f.path) != self._token(f)]
        for f in new:
            seen[f.path] = self._token(f)
        # materialized list, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator, which only list-like iterators allow;
        # a microbatch is metadata-sized so this is cheap
        return (
            iter(list(R.scan_rows(new, self.emit, part_keys=self.part_keys))),
            {"seen": seen},
        )

    def readBetweenOffsets(self, start: dict, end: dict):
        sseen = start.get("seen", {})
        delta = sorted(
            (p, tok)
            for p, tok in end.get("seen", {}).items()
            if sseen.get(p) != tok
        )
        files = []
        for p, tok in delta:
            size, mtime = (int(x) for x in tok.split(":"))
            part = parse_partition_values(self.root, p) if p != self.root else ()
            files.append(FileInfo(p, p.rsplit("/", 1)[-1], size, mtime, part))
        return R.scan_rows(files, self.emit, part_keys=self.part_keys)


class MetadataDataSource(DataSource):
    """Plan-time state (file listing, source inference) is computed once
    and shared between ``schema()`` and ``reader()`` — the listing of a
    10^5-file root should not run twice per load."""

    @classmethod
    def name(cls):
        return "metadata"

    def _plan(self):
        if not hasattr(self, "_planned"):
            opts = parse_options(dict(self.options))
            # The DataSource plan usually runs in a Python worker process
            # with no SparkSession; list_files then falls back to a driver
            # thread pool for wide roots so this path behaves like
            # read_metadata() (reference DefaultSource.scala:157-163 has a
            # single listing behavior for its one entry point).
            try:
                from pyspark.sql import SparkSession

                session = SparkSession.getActiveSession()
            except Exception:
                session = None
            _install_opt_fs(opts)
            # infer from the FULL listing, then prune (same ordering as
            # build_metadata_df): a filter matching zero files must give
            # an empty result of the right level, not flip inference to
            # 'file' and fail level validation
            files = list_files(opts.path, spark=session)
            source = opts.source or _infer_source(files)
            files = prune_files_by_partition(files, opts.partitionfilter)
            validate_source_level(source, opts.level)
            part_keys = ()
            if opts.partitioncolumns:
                keys = sorted({k for f in files for k, _v in f.partition})
                part_keys = tuple(keys)
            self._planned = (opts, files, source, part_keys)
        return self._planned

    # register() swaps this to True when the session conf
    # spark.sql.python.filterPushdown.enabled is on — pushdown then just
    # works with no per-read option. It cannot be decided here: the plan
    # runs in a worker with no session, and Spark raises on any reader
    # implementing pushFilters while the conf is off.
    DEFAULT_PUSHDOWN = False

    # The session's task-slot count, which sizes the scan; None (class
    # registered directly) plans min(n_files, maxparts). The plan runs in
    # a worker with no session, so register() sets it on a subclass built
    # at run time, which is pickled by value, class attributes included.
    TASK_SLOTS = None

    @classmethod
    def for_session(cls, slots):
        return type(cls.__name__, (cls,), {"TASK_SLOTS": slots})

    def schema(self):
        from pyspark.sql.types import StringType, StructField, StructType

        opts, _files, source, part_keys = self._plan()
        base = SCHEMAS_BY_LEVEL[(source, opts.level)]
        if not part_keys:
            return base
        return StructType(
            list(base.fields)
            + [StructField(f"part_{k}", StringType()) for k in part_keys]
        )

    def reader(self, schema):
        raw = self.options.get("filterpushdown")
        pushdown = (
            self.DEFAULT_PUSHDOWN
            if raw is None
            else str(raw).lower() in ("true", "1")
        )
        cls = PushdownMetadataReader if pushdown else MetadataReader
        return cls(*self._plan(), slots=self.TASK_SLOTS)

    def simpleStreamReader(self, schema):  # noqa: D401 — see class docstring
        opts, _files, source, _part_keys = self._plan()
        if opts.pagecontent:
            # the simple stream reader emits rows ON THE DRIVER — fine for
            # metadata-sized rows, but pagecontent=true would funnel every
            # data byte through it. Refuse instead of silently bottlenecking.
            raise ValueError(
                "pagecontent=true is not supported on the streaming path "
                "(rows are emitted on the driver); use the batch reader "
                "for bulk page extraction"
            )
        return MetadataStreamReader(opts, source, _part_keys)


class PushdownEnabledMetadataDataSource(MetadataDataSource):
    """``MetadataDataSource`` with filter pushdown on by default —
    ``register(spark)`` picks this class when the session conf
    ``spark.sql.python.filterPushdown.enabled`` is true, so plan-time
    file pruning needs no per-read option."""

    DEFAULT_PUSHDOWN = True
