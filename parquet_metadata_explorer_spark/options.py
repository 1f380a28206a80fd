"""Option parsing + validation with reference error-string parity.

Parity target: reference ``DefaultSource.scala:99-150`` (defaults at
:104-128, source/level matrix at :131-150). The error messages below are
test-asserted in the reference (``DefaultSourceSuite.scala:31-59``) and are
preserved verbatim.
"""

from __future__ import annotations

from dataclasses import dataclass

SOURCE_FILE = "file"
SOURCE_PARQUET = "parquet"
SOURCES = (SOURCE_FILE, SOURCE_PARQUET)

LEVEL_FILE = "file"
LEVEL_ROWGROUP = "rowgroup"
LEVEL_COLUMN = "column"
LEVEL_PAGE = "page"
LEVELS = (LEVEL_FILE, LEVEL_ROWGROUP, LEVEL_COLUMN, LEVEL_PAGE)

DEFAULT_MAX_PARTS = 200
DEFAULT_BUFFER_SIZE = 128 * 1024 * 1024
DEFAULT_PAGE_CONTENT = False


@dataclass(frozen=True)
class MetadataOptions:
    path: str
    source: str | None = None  # None → infer from magic bytes
    level: str = LEVEL_FILE
    maxparts: int = DEFAULT_MAX_PARTS
    buffersize: int = DEFAULT_BUFFER_SIZE
    pagecontent: bool = DEFAULT_PAGE_CONTENT
    # "col=value,col2=a|b" conjunction pruning files BEFORE footer reads
    # (extension beyond the reference, which lists + parses everything)
    partitionfilter: str | None = None
    # JSON dict of pyarrow filesystem constructor kwargs for the path's
    # URI scheme (endpoint_override, access_key, ...) — the option-string
    # form of read_metadata(fs_options=...)
    fsoptions: str | None = None
    # lift discovered Hive partition keys to top-level ``part_<key>``
    # string columns — Spark pushes top-level equality/IN predicates to
    # Python sources (it does NOT push map elements), so filters on these
    # columns prune files before any footer read
    partitioncolumns: bool = False


def validate_source_level(source: str, level: str) -> None:
    """Reject invalid values and incompatible combinations
    (reference matrix DefaultSource.scala:131-150)."""
    if source not in SOURCES:
        raise ValueError(f"Invalid source: {source}")
    if level not in LEVELS:
        raise ValueError(f"Invalid level: {level}")
    if source == SOURCE_FILE and level != LEVEL_FILE:
        raise ValueError(f"Source '{source}' does not support '{level}' level")


def validate_maxparts(maxparts: int) -> None:
    """Reject a scan-task cap below one (every entry point that takes
    ``maxparts`` raises this same error)."""
    if maxparts < 1:
        raise ValueError(f"Invalid value for maxparts: {maxparts}, must be > 0")


def parse_options(parameters: dict) -> MetadataOptions:
    """Parse a string-keyed option map (as handed over by
    ``spark.read.format("metadata").option(...)``)."""
    params = {k.lower(): v for k, v in parameters.items()}
    path = params.get("path")
    if not path:
        raise ValueError("Option 'path' is required")

    maxparts = int(params.get("maxparts", DEFAULT_MAX_PARTS))
    validate_maxparts(maxparts)
    buffersize = int(params.get("buffersize", DEFAULT_BUFFER_SIZE))
    if buffersize < 1:
        raise ValueError(f"Invalid value for buffersize: {buffersize}, must be > 0")
    pagecontent = str(params.get("pagecontent", DEFAULT_PAGE_CONTENT)).lower() in (
        "true",
        "1",
    )

    source = params.get("source")
    level = params.get("level", LEVEL_FILE)
    if source is not None:
        validate_source_level(source.lower(), level.lower())
        source = source.lower()

    return MetadataOptions(
        path=path,
        source=source,
        level=level.lower(),
        maxparts=maxparts,
        buffersize=buffersize,
        pagecontent=pagecontent,
        partitionfilter=params.get("partitionfilter"),
        fsoptions=params.get("fsoptions"),
        partitioncolumns=str(params.get("partitioncolumns", False)).lower()
        in ("true", "1"),
    )
