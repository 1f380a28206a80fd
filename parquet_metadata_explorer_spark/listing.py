"""File listing + Hive-style partition discovery.

Parity target: reference ``DefaultSource.scala:157-163`` (InMemoryFileIndex)
and ``MetadataFileFormat.scala:64-95`` (FileInfo seeds + partition map).

Scale note (SURVEY §7 risk 4): the reference lists on the driver, which is
fine to ~10^5 files. ``list_files`` therefore supports a *distributed* mode:
when the root has many first-level subdirectories, the per-directory listing
runs as a Spark job (one task per directory) and only the resulting
FileInfo seeds come back to the driver. Either way the scan itself runs
``max(1, min(n_files, maxparts, defaultParallelism))`` tasks over
contiguous file slices (``sources.rows.plan_slices``): a Python task costs
~90 ms against ~1 ms of footer work per file.

Partition values round-trip through the same typed inference Spark's
partition discovery applies (int -> long -> decimal -> double -> date ->
timestamp -> string, ``PartitioningUtils.inferPartitionColumnValue``) and
are rendered with Java ``toString`` semantics, matching the reference
golden (``DefaultSourceSuite.scala:84-91``): ``date=2020-01-01`` stays
``2020-01-01`` while ``ts=2020-02-02 01:02:03`` becomes
``2020-02-02 01:02:03.0`` (``java.sql.Timestamp.toString``).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from datetime import date as _date
from decimal import Decimal
from typing import Optional
from urllib.parse import unquote

from .parquet.io import resolve_filesystem

HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


@dataclass(frozen=True)
class FileInfo:
    """Per-file unit of parallelism (reference MetadataFileFormat.scala:23-28)."""

    path: str
    name: str
    size: int
    mtime: int  # epoch millis
    partition: tuple  # tuple of (key, value) pairs; empty when unpartitioned

    def partition_map(self) -> dict:
        # empty map for unpartitioned data, matching the reference where an
        # empty partition schema produces an empty map (MetadataFileFormat.scala:86-95)
        return dict(self.partition)


def _is_hidden(name: str) -> bool:
    # InMemoryFileIndex default path filter: skip _ and . prefixed entries
    return name.startswith("_") or name.startswith(".")


# Anchored forms accepted by Spark's partition-value inference
# (PartitioningUtils.inferPartitionColumnValue). Boolean is deliberately
# absent: Spark keeps 'true'/'false' as strings, which render identically.
_INT_RE = re.compile(r"[+-]?\d+\Z")
_DOUBLE_RE = re.compile(r"[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?\Z")
_DATE_RE = re.compile(r"(\d{4})-(\d{1,2})-(\d{1,2})\Z")
_TS_RE = re.compile(
    r"(\d{4})-(\d{1,2})-(\d{1,2})[ T](\d{1,2}):(\d{2}):(\d{2})(?:\.(\d{1,9}))?\Z"
)


def _java_double_str(d: float) -> str:
    """Render a double the way ``java.lang.Double.toString`` does: plain
    decimal with at least one digit on each side of the point for
    1e-3 <= |d| < 1e7, computerized scientific notation (``1.0E7``)
    outside that range. Digit selection uses the shortest round-trip
    representation (Python ``repr``), which agrees with Java on all
    values that occur in practice."""
    if math.isnan(d) or math.isinf(d):
        raise ValueError("non-finite")
    sign = "-" if math.copysign(1.0, d) < 0 else ""
    m = abs(d)
    if m == 0.0:
        return sign + "0.0"
    dec = Decimal(repr(m)).normalize()  # strip trailing zeros from repr
    digits = "".join(str(x) for x in dec.as_tuple().digits)
    adj = dec.adjusted()  # power-of-ten exponent of the leading digit
    if 1e-3 <= m < 1e7:
        if adj >= 0:
            int_len = adj + 1
            if len(digits) <= int_len:
                return f"{sign}{digits.ljust(int_len, '0')}.0"
            return f"{sign}{digits[:int_len]}.{digits[int_len:]}"
        return f"{sign}0.{'0' * (-adj - 1)}{digits}"
    mant = digits[0] + "." + (digits[1:] or "0")
    return f"{sign}{mant}E{adj}"


def render_partition_value(v: Optional[str]) -> Optional[str]:
    """Spark-typed parse + Java ``toString`` render of one raw Hive
    partition-path value (reference ``MetadataFileFormat.scala:86-95``
    stringifies the typed ``InternalRow``; golden values in
    ``DefaultSourceSuite.scala:84-91``)."""
    if v is None or v == "":
        return v
    if _INT_RE.match(v):
        try:
            return str(int(v))  # int/long/decimal all render as plain digits
        except ValueError:  # pragma: no cover
            return v
    if _DOUBLE_RE.match(v):
        try:
            return _java_double_str(float(v))
        except (ValueError, OverflowError):
            return v
    m = _DATE_RE.match(v)
    if m:
        try:
            y, mo, dy = (int(g) for g in m.groups())
            _date(y, mo, dy)
            return f"{y:04d}-{mo:02d}-{dy:02d}"
        except ValueError:
            return v
    m = _TS_RE.match(v)
    if m:
        try:
            y, mo, dy, hh, mi, ss = (int(g) for g in m.groups()[:6])
            _date(y, mo, dy)
            if hh > 23 or mi > 59 or ss > 59:
                return v
            frac = (m.group(7) or "").ljust(9, "0")
            if int(frac or "0") == 0:
                nanos = "0"
            else:
                nanos = frac.rstrip("0")
            return f"{y:04d}-{mo:02d}-{dy:02d} {hh:02d}:{mi:02d}:{ss:02d}.{nanos}"
        except ValueError:
            return v
    return v


def parse_partition_values(root: str, file_path: str) -> tuple:
    """Extract Hive ``k=v`` path segments between root and the file."""
    rel = file_path[len(root) :].lstrip("/")
    parts = rel.split("/")[:-1]  # drop the filename
    out = []
    for seg in parts:
        if "=" in seg:
            k, _, v = seg.partition("=")
            v = unquote(v)
            out.append(
                (
                    unquote(k),
                    None
                    if v == HIVE_DEFAULT_PARTITION
                    else render_partition_value(v),
                )
            )
    return tuple(out)


def _mtime_millis(info) -> int:
    mt = info.mtime
    if mt is None:
        return 0
    return int(mt.timestamp() * 1000)


def _make_list_dir(uri_prefix: str, fs_snapshot: dict | None = None):
    """Per-directory recursive lister, picklable for Spark tasks and
    reusable from driver threads. ``fs_snapshot`` carries the driver's
    per-scheme filesystem options into executor processes — without it a
    distributed listing of a custom-endpoint store would resolve with
    default env credentials in the workers."""
    import pyarrow.fs as pafs

    def list_dir(d: str) -> list:
        from .parquet.io import install_fs_options

        install_fs_options(fs_snapshot)
        dfs, dp = resolve_filesystem(uri_prefix + d if uri_prefix else d)
        out = []
        stack = [dp]
        while stack:
            cur = stack.pop()
            for i in dfs.get_file_info(pafs.FileSelector(cur, recursive=False)):
                if _is_hidden(i.base_name):
                    continue
                if i.type == pafs.FileType.Directory:
                    stack.append(i.path)
                elif i.type == pafs.FileType.File:
                    out.append((i.path, i.base_name, i.size, _mtime_millis(i)))
        return out

    return list_dir


def parse_partition_filter(spec: str) -> dict:
    """Parse the string form of a partition filter — a comma-separated
    conjunction of ``col=value`` equalities (``value|value`` for IN), the
    only form expressible through ``.option("partitionfilter", ...)``.
    Values compare against the *rendered* typed partition value (the same
    string the ``partition`` map column shows, e.g. ``date=2020-01-01``,
    ``ts=2020-02-02 01:02:03.0``)."""
    out: dict = {}
    for clause in spec.split(","):
        clause = clause.strip()
        if not clause:
            continue
        if "=" not in clause:
            raise ValueError(
                f"Invalid partition filter clause: '{clause}' (expected col=value)"
            )
        k, v = clause.split("=", 1)
        vals = [x for x in v.split("|")]
        out[k.strip()] = vals if len(vals) > 1 else vals[0]
    return out


def prune_files_by_partition(files: list, partition_filter) -> list:
    """Driver-side partition pruning: drop ``FileInfo`` seeds whose typed
    partition values fail the filter BEFORE any footer is fetched — at
    10^6 files an equality predicate turns a fleet-wide footer scan into
    one partition's worth of reads (the reference's own operating
    envelope, README.md:49, lists everything and filters after parsing).

    ``partition_filter`` is one of:
      - a dict ``{col: value}`` / ``{col: [v1, v2]}`` — equality / IN
        conjunction against the rendered partition values (``None``
        matches ``__HIVE_DEFAULT_PARTITION__``);
      - a callable ``dict[str, str|None] -> bool`` for arbitrary logic;
      - a string ``"col=value,col2=a|b"`` (the option form, parsed by
        ``parse_partition_filter``).

    Filtering a column that exists in NO file's partition map raises —
    a typo'd column would otherwise silently prune everything.
    """
    if partition_filter is None:
        return files
    if callable(partition_filter):
        return [f for f in files if partition_filter(dict(f.partition))]
    if isinstance(partition_filter, str):
        partition_filter = parse_partition_filter(partition_filter)
    if not isinstance(partition_filter, dict):
        raise ValueError(
            "partition_filter must be a dict, callable, or 'col=value' string"
        )
    norm: dict = {}
    for k, v in partition_filter.items():
        vals = v if isinstance(v, (list, tuple, set)) else [v]
        norm[k] = {None if x is None else str(x) for x in vals}
    known = {k for f in files for k, _ in f.partition}
    unknown = set(norm) - known
    if files and unknown:
        raise ValueError(
            f"Not a partition column: {sorted(unknown)} "
            f"(discovered partition columns: {sorted(known) or 'none'})"
        )

    def keep(f: FileInfo) -> bool:
        pm = dict(f.partition)
        return all(k in pm and pm[k] in allowed for k, allowed in norm.items())

    return [f for f in files if keep(f)]


_GLOB_CHARS = set("*?[")


def _expand_glob(fs, pattern: str) -> list[str]:
    """Expand a glob path into existing concrete paths, matching each
    pattern segment against one directory level (``*`` never crosses
    ``/`` — Hadoop glob semantics, which is what the reference gets from
    ``InMemoryFileIndex``)."""
    import fnmatch

    import pyarrow.fs as pafs

    parts = pattern.split("/")
    idx = None
    for i, seg in enumerate(parts):
        if _GLOB_CHARS.intersection(seg):
            idx = i
            break
    if idx is None:
        return [pattern]
    candidates = ["/".join(parts[:idx]) or "/"]
    for seg in parts[idx:]:
        nxt = []
        for c in candidates:
            if _GLOB_CHARS.intersection(seg):
                try:
                    infos = fs.get_file_info(pafs.FileSelector(c, recursive=False))
                except OSError:  # missing dir / not-a-directory candidate
                    continue
                nxt.extend(
                    i.path
                    for i in infos
                    if not _is_hidden(i.base_name)
                    and fnmatch.fnmatchcase(i.base_name, seg)
                )
            else:
                nxt.append(f"{c}/{seg}" if c != "/" else f"/{seg}")
        candidates = nxt
    return sorted(candidates)


def list_files(
    path: str,
    spark=None,
    distributed_threshold: int = 64,
    spark_threshold: int = 4096,
) -> list[FileInfo]:
    """List all data files under ``path`` (or the single file itself),
    discovering Hive partition columns from directory names.

    Glob patterns (``*``, ``?``, ``[...]`` — per segment, never crossing
    ``/``) expand first; each match then lists as its own root, so
    partition discovery applies beneath matched directories exactly as it
    would for a direct load of that directory.

    Wide roots (≥ ``distributed_threshold`` first-level subdirectories)
    never get a serial driver walk: per-directory listing fans out over a
    driver thread pool, or as a Spark job when ``spark`` is given AND the
    root is at least ``spark_threshold`` directories wide. The split is
    measured (tools/listing_probe.py, 100k files / 400 dirs on tmpfs):
    the thread pool matches the serial walk locally (1.46 vs 1.44 s) and
    fully absorbs object-store round-trips (flat at +2 ms/dir), while a
    local Spark job pays ~2.4 s of fixed scheduling overhead — so below
    ``spark_threshold`` threads win outright, and above it the job
    amortizes its overhead and scales with the CLUSTER's cores instead of
    the driver's thread pool (the reference's "hundreds of thousands of
    files" regime, README.md:49; its single entry point is
    ``DefaultSource.scala:157-163``). The thread pool is also what the
    ``format("metadata")`` path uses, since the Python DataSource plan
    runs in a worker process without a SparkSession.
    """
    fs, p = resolve_filesystem(path)
    p = p.rstrip("/") or "/"
    import pyarrow.fs as pafs

    if _GLOB_CHARS.intersection(p):
        # _expand_glob returns fs-local paths; re-prefix the original URI
        # scheme so the recursive list_files resolves the SAME filesystem
        # (scheme-less paths would silently fall back to LocalFileSystem)
        uri_prefix = path.split("://")[0] + "://" if "://" in path else ""
        out: list[FileInfo] = []
        for match in _expand_glob(fs, p):
            try:
                out.extend(
                    list_files(
                        uri_prefix + match, spark, distributed_threshold, spark_threshold
                    )
                )
            except FileNotFoundError:
                continue  # static tail segment appended past a miss
        if not out:
            raise FileNotFoundError(f"Path does not exist: {path}")
        out.sort(key=lambda f: f.path)
        return out

    info = fs.get_file_info(p)

    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(f"Path does not exist: {path}")

    if info.type == pafs.FileType.File:
        # single-file load (reference DefaultSourceSuite.scala:323-334)
        return [FileInfo(p, info.base_name, info.size, _mtime_millis(info), ())]

    root = p

    def finfo(i) -> FileInfo:
        pv = parse_partition_values(root, i.path)
        return FileInfo(i.path, i.base_name, i.size, _mtime_millis(i), pv)

    sel = pafs.FileSelector(root, recursive=False)
    top = [i for i in fs.get_file_info(sel) if not _is_hidden(i.base_name)]
    dirs = [i.path for i in top if i.type == pafs.FileType.Directory]
    if len(dirs) >= distributed_threshold:
        files = [finfo(i) for i in top if i.type == pafs.FileType.File]
        from .parquet.io import fs_options_snapshot

        uri_prefix = path.split("://")[0] + "://" if "://" in path else ""
        list_dir = _make_list_dir(uri_prefix, fs_options_snapshot())

        if spark is not None and len(dirs) >= spark_threshold:
            sc = spark.sparkContext
            listed = (
                sc.parallelize(dirs, min(len(dirs), 256))
                .flatMap(list_dir)
                .collect()
            )
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(32, len(dirs))) as pool:
                listed = [t for chunk in pool.map(list_dir, dirs) for t in chunk]
        files += [
            FileInfo(pp, nn, ss, mm, parse_partition_values(root, pp))
            for (pp, nn, ss, mm) in listed
        ]
        files.sort(key=lambda f: f.path)
        return files

    sel = pafs.FileSelector(root, recursive=True)
    files = []
    for i in fs.get_file_info(sel):
        if i.type != pafs.FileType.File or _is_hidden(i.base_name):
            continue
        # skip files inside hidden directories
        rel = i.path[len(root) :].lstrip("/")
        if any(_is_hidden(seg) for seg in rel.split("/")[:-1]):
            continue
        files.append(finfo(i))
    files.sort(key=lambda f: f.path)
    return files
