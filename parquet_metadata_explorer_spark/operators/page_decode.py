"""Distributed PLAIN page decoding over the page-level metadata scan.

Goes one step past the reference's raw ``page_content`` bytes
(``MetadataFileFormat.scala:232-320``): joins the page scan to the
column scan for type/codec context and decodes DICTIONARY pages back
into values. A parquet dictionary page is always pure PLAIN-encoded —
no rep/def level blocks — so its decoded values are exactly the
column's per-row-group dictionary, i.e. a superset-free list of the
distinct values the writer saw. That gives the operator an independent
oracle: distinct decoded values == ``SELECT DISTINCT col`` on the data.

Scale shape: the page scan parallelizes over files (no shuffle); the
column-context side of the join is metadata-sized (rows = row groups ×
columns), so it broadcasts. Decode itself is one ``pyarrow.Codec``
decompress + one ``struct.unpack`` per page inside ``mapInPandas`` —
Arrow-batched, never per-row Python.
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..options import DEFAULT_MAX_PARTS
from ..sources.api import read_metadata
from ..sources.rows import scan_rdd


_DECODABLE = {
    "PLAIN",
    "RLE_DICTIONARY",
    "PLAIN_DICTIONARY",
    "DELTA_BINARY_PACKED",
    "DELTA_LENGTH_BYTE_ARRAY",
    "DELTA_BYTE_ARRAY",
    "BYTE_STREAM_SPLIT",
}


def _canon(v, physical_type: str) -> str:
    if physical_type == "BINARY":
        return v.decode("utf-8", errors="replace")
    if physical_type in ("FIXED_LEN_BYTE_ARRAY", "INT96"):
        return v.hex()
    if physical_type == "BOOLEAN":
        return "true" if v else "false"
    return str(v)


def _decoded_pages(
    spark: SparkSession,
    path: str,
    page_predicate,
    columns: Optional[list] = None,
) -> DataFrame:
    """Shared scan→join→decode pipeline: page rows passing
    ``page_predicate`` are joined to broadcast column context and their
    content PLAIN-decoded inside ``mapInPandas``."""
    import pandas as pd

    pages = read_metadata(spark, path, source="parquet", level="page", pagecontent=True)
    pages = pages.filter(page_predicate).select(
        "filepath",
        "row_group_id",
        "column_id",
        "num_values",
        "page_uncompressed_size",
        "page_content",
    )
    cols = read_metadata(spark, path, source="parquet", level="column").select(
        "filepath",
        "row_group_id",
        "column_id",
        F.col("path").alias("col_path"),
        "type",
        "compression",
    )
    if columns:
        cols = cols.filter(F.col("col_path").isin(list(columns)))
    joined = pages.join(
        F.broadcast(cols), ["filepath", "row_group_id", "column_id"]
    ).select(
        "filepath",
        "col_path",
        "type",
        "compression",
        "num_values",
        "page_uncompressed_size",
        "page_content",
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..parquet.decode import decode_dictionary_page

        for pdf in batches:
            fps, cps, vals = [], [], []
            for r in pdf.itertuples(index=False):
                decoded = decode_dictionary_page(
                    bytes(r.page_content),
                    r.type,
                    r.compression,
                    num_values=r.num_values,
                    uncompressed_size=r.page_uncompressed_size,
                )
                for v in decoded:
                    fps.append(r.filepath)
                    cps.append(r.col_path)
                    vals.append(_canon(v, r.type))
            yield pd.DataFrame({"filepath": fps, "col_path": cps, "value": vals})

    out = joined.mapInPandas(
        decode_batches, "filepath string, col_path string, value string"
    )
    return out


def dictionary_values(
    spark: SparkSession,
    path: str,
    columns: Optional[list] = None,
) -> DataFrame:
    """Decoded dictionary-page values, one row per (file, column path,
    value). ``columns`` optionally restricts to the named column paths
    (pushed into both metadata scans' filters)."""
    return _decoded_pages(
        spark, path, F.col("page_type") == "DICTIONARY_PAGE", columns
    )


def plain_data_values(
    spark: SparkSession,
    path: str,
    columns: Optional[list] = None,
) -> DataFrame:
    """Decoded values of PLAIN-encoded DATA pages.

    Valid for *required, flat* columns only: with max definition and
    repetition level 0 a v1 data page carries no level blocks, so its
    decompressed bytes are pure PLAIN values (the caller picks columns —
    the page scan cannot see repetition types). Optional columns'
    level-block handling is deliberately out of scope (see
    ``parquet/decode.py``)."""
    pred = (F.col("page_type") == "DATA_PAGE") & (F.col("encoding") == "PLAIN")
    return _decoded_pages(spark, path, pred, columns)


def column_values(
    spark: SparkSession,
    path: str,
    columns: Optional[list] = None,
    maxparts: int = DEFAULT_MAX_PARTS,
) -> DataFrame:
    """Full column reconstruction from raw page bytes: dictionary pages +
    RLE/bit-packed-hybrid data pages (def levels included) decode back
    into every row's value, NULLs preserved — the strongest possible
    fidelity check of the page scan, verified against the data itself.

    Scope: FLAT columns, v1 AND v2 data pages, PLAIN / RLE_DICTIONARY /
    DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY /
    BYTE_STREAM_SPLIT encodings (everything pyarrow/parquet-mr write for
    flat data); nested columns are skipped. Execution shape: one task per
    file slice (``sources.rows.plan_slices``), one streaming page walk per
    chunk — memory is one dictionary + one page.

    Output: (row_group_id, pos, col_path, value) with value as canonical
    string, NULL for null rows; ``pos`` is the row index within the row
    group, so ordering by (filepath, row_group_id, pos) reproduces the
    column.
    """
    from ..listing import list_files
    from ..parquet.decode import decode_data_page_v1, decode_dictionary_page
    from ..parquet.footer import leaf_columns, read_footer
    from ..parquet.pages import iter_pages
    from ..parquet.thrift import COMPRESSION_CODECS, PHYSICAL_TYPES
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("row_group_id", IntegerType()),
            StructField("pos", LongType()),
            StructField("col_path", StringType()),
            StructField("value", StringType()),
            StructField("filepath", StringType()),
        ]
    )
    files = list_files(path, spark=spark)
    wanted = set(columns) if columns else None

    def reconstruct(f):
        from ..parquet.decode import decode_data_page_v2, decompress_page

        meta, _ = read_footer(f.path, f.size)
        leaves = leaf_columns(meta)
        # single streaming walk: iter_pages yields in (row group, column)
        # order, so chunk state (dictionary, row position) resets at each
        # boundary — one sequential pass over the file, O(1 page) memory
        cur = None
        skip = True
        cpath = ptype = codec = None
        optional = False
        type_length = None
        dictionary = None
        pos = 0
        for page in iter_pages(
            f.path, size=f.size, page_content=True, meta=meta, yield_header=True
        ):
            rg_id, col_id, page_kind, content = page[0], page[1], page[3], page[14]
            ph = page[15]
            if (rg_id, col_id) != cur:
                cur = (rg_id, col_id)
                el = leaves[col_id]
                col = meta.row_groups[rg_id].columns[col_id]
                cpath = ".".join(p for p in col.path_in_schema if p is not None)
                skip = (
                    (wanted is not None and cpath not in wanted)
                    or el.repetition_type == 2
                    or "." in cpath  # nested: documented out of scope
                )
                codec = (
                    COMPRESSION_CODECS.get(col.codec)
                    if col.codec is not None
                    else None
                )
                ptype = PHYSICAL_TYPES[col.type] if col.type is not None else None
                optional = el.repetition_type == 1
                type_length = el.type_length
                dictionary = None
                pos = 0
            if skip:
                continue
            if page_kind == "DICTIONARY_PAGE":
                dictionary = decode_dictionary_page(
                    bytes(content), ptype, codec,
                    num_values=page[9], uncompressed_size=page[7],
                    type_length=type_length,
                )
                continue
            if page_kind not in ("DATA_PAGE", "DATA_PAGE_V2"):
                continue
            enc = page[10]
            if enc not in _DECODABLE:
                continue  # unknown/future encodings: skip, don't fail
            use_dict = (
                dictionary if enc in ("RLE_DICTIONARY", "PLAIN_DICTIONARY") else None
            )
            if page_kind == "DATA_PAGE_V2":
                vals = decode_data_page_v2(
                    bytes(content),
                    page[9],
                    ph.def_levels_byte_length or 0,
                    ph.rep_levels_byte_length or 0,
                    ph.is_compressed,
                    enc,
                    use_dict,
                    optional,
                    ptype,
                    codec=codec,
                    uncompressed_size=page[7],
                    type_length=type_length,
                )
            else:
                raw = decompress_page(bytes(content), codec, page[7])
                vals = decode_data_page_v1(
                    raw, page[9], use_dict, optional, ptype,
                    type_length=type_length, encoding=enc,
                )
            for v in vals:
                yield (
                    rg_id,
                    pos,
                    cpath,
                    None if v is None else _canon(v, ptype),
                    f.path,
                )
                pos += 1

    rdd = scan_rdd(spark, files, maxparts, reconstruct)
    return spark.createDataFrame(rdd, schema)
