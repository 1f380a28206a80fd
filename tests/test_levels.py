"""End-to-end level tests over Spark, asserting the FIXTURES.md invariants
(goldens regenerated rather than copied — reference byte-level goldens are
parquet-mr-1.10-era and writer-dependent, SURVEY §5)."""

import struct

import pyspark.sql.functions as F
import pytest

import parquet_metadata_explorer_spark as pqx
from parquet_metadata_explorer_spark import schemas


@pytest.fixture(scope="module")
def part_dir(spark, tmp_path_factory):
    """F1-equivalent: partitioned parquet table, 4 files of 250 rows."""
    d = str(tmp_path_factory.mktemp("part")) + "/data"
    (
        spark.range(0, 1000, 1, 4)
        .withColumn("col1", F.lit(1))
        .withColumn("col2", F.lit(2))
        .write.partitionBy("col1", "col2")
        .parquet(d)
    )
    return d


def test_file_level_schema_and_rows(spark, part_dir):
    df = pqx.read_metadata(spark, part_dir, source="file", level="file")
    assert df.schema == schemas.FILE_LEVEL
    rows = df.collect()
    assert len(rows) == 4
    for r in rows:
        assert r.size > 0
        assert r.filepath.endswith(r.filename)
        assert r.partition == {"col1": "1", "col2": "2"}


def test_parquet_file_level(spark, part_dir):
    df = pqx.read_metadata(spark, part_dir, source="parquet", level="file")
    assert df.schema == schemas.PARQUET_FILE_LEVEL
    rows = df.collect()
    assert len(rows) == 4
    total = sum(r.num_rows for r in rows)
    assert total == 1000
    for r in rows:
        assert r.schema.startswith("message ")
        assert r.num_row_groups >= 1
        assert r.created_by  # Spark writes parquet-mr
        # invariant 2: metadata_size equals the LE int in the tail-8
        with open(r.filepath, "rb") as f:
            f.seek(r.size - 8)
            assert r.metadata_size == struct.unpack("<i", f.read(4))[0]


def test_rowgroup_level_invariants(spark, part_dir):
    rg = pqx.read_metadata(spark, part_dir, level="rowgroup")
    assert rg.schema == schemas.PARQUET_ROWGROUP_LEVEL
    cols = pqx.read_metadata(spark, part_dir, level="column")
    # invariant 3: rowgroup totals equal the sum over its column chunks
    joined = (
        cols.groupBy("filepath", "row_group_id")
        .agg(
            F.sum("total_compressed_size").alias("sum_comp"),
            F.count("*").alias("n_cols"),
        )
        .join(rg, ["filepath", "row_group_id"])
    )
    for r in joined.collect():
        assert r.total_compressed_size == r.sum_comp
        assert r.num_columns == r.n_cols
    # num_rows per file sums to 1000
    assert rg.agg(F.sum("num_rows")).first()[0] == 1000


def test_column_level(spark, part_dir):
    df = pqx.read_metadata(spark, part_dir, level="column")
    assert df.schema == schemas.PARQUET_COLUMN_LEVEL
    rows = df.collect()
    # data column is only `id` (col1/col2 are partition dirs)
    assert {r.path for r in rows} == {"id"}
    for r in rows:
        assert r.type == "INT64"
        assert r.compression in ("SNAPPY", "UNCOMPRESSED", "ZSTD", "GZIP")
        assert r.num_values == 250
        # invariant 4: file_offset = dict page offset if present else data page
        if r.dictionary_page_offset is not None:
            assert r.file_offset == r.dictionary_page_offset
        else:
            assert r.file_offset == r.data_page_offset
        assert r.statistics is not None
        assert r.statistics.null_count == 0
        # raw PLAIN-encoded little-endian INT64 min bytes decode back
        if r.statistics.min_value is not None:
            lo = struct.unpack("<q", bytes(r.statistics.min_value))[0]
            hi = struct.unpack("<q", bytes(r.statistics.max_value))[0]
            assert 0 <= lo <= hi <= 999


def test_page_level_invariants(spark, part_dir):
    pages = pqx.read_metadata(spark, part_dir, level="page")
    assert pages.schema == schemas.PARQUET_PAGE_LEVEL
    cols = pqx.read_metadata(spark, part_dir, level="column")
    # invariant 5: per chunk, Σ(header+compressed) == total_compressed_size
    agg = (
        pages.groupBy("filepath", "row_group_id", "column_id")
        .agg(
            F.sum(F.col("page_header_size") + F.col("page_compressed_size")).alias("s"),
            F.min("page_id").alias("min_pid"),
            F.count("*").alias("n"),
            F.max("page_id").alias("max_pid"),
        )
        .join(cols, ["filepath", "row_group_id", "column_id"])
    )
    rows = agg.collect()
    assert rows
    for r in rows:
        assert r.s == r.total_compressed_size
        assert r.min_pid == 0 and r.max_pid == r.n - 1  # dense ids from 0
    # dictionary page, when present, is page 0
    dict_pages = pages.filter(F.col("page_type") == "DICTIONARY_PAGE").collect()
    for r in dict_pages:
        assert r.page_id == 0
    # invariant 6: content NULL when disabled
    assert pages.filter(F.col("page_content").isNotNull()).count() == 0


def test_page_content(spark, tmp_path_factory):
    """F2-equivalent: tiny uncompressed file, exact PLAIN little-endian bytes."""
    d = str(tmp_path_factory.mktemp("pc")) + "/data"
    df = spark.createDataFrame([(1, "a", True), (2, "b", False)], ["_1", "_2", "_3"])
    df.coalesce(1).write.option("compression", "none").parquet(d)
    pages = pqx.read_metadata(spark, d, level="page", pagecontent=True).collect()
    for r in pages:
        assert len(r.page_content) == r.page_compressed_size
    # the int64 column's PLAIN data page contains values 1,2 as LE int64
    blob = b"".join(bytes(r.page_content) for r in pages)
    assert struct.pack("<qq", 1, 2) in blob
    # the string column's PLAIN page carries length-prefixed "a","b"
    assert b"\x01\x00\x00\x00a\x01\x00\x00\x00b" in blob


def test_single_file_load(spark, sf_dir):
    df = pqx.read_metadata(spark, f"{sf_dir}/region.parquet", source="parquet", level="file")
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].filename == "region.parquet"
    assert df.schema == schemas.PARQUET_FILE_LEVEL


def test_json_file_level(spark, tmp_path_factory):
    """Generic file source over JSON output (reference :96-103)."""
    d = str(tmp_path_factory.mktemp("json")) + "/data"
    spark.range(10).withColumn("p", F.lit(1)).write.partitionBy("p").json(d)
    df = pqx.read_metadata(spark, d, level="file")
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.partition == {"p": "1"}
        assert r.size > 0


def test_projection_and_filter_compose(spark, part_dir):
    """Catalyst surface above the scan (reference :302-321)."""
    df = pqx.read_metadata(spark, part_dir, level="file")
    assert df.select("filename").columns == ["filename"]
    assert df.filter("size > 0").count() == 4
    assert df.filter(F.col("filename").like("%.parquet")).count() == 4
    cached = df.cache()
    assert cached.count() == cached.count() == 4
    df.unpersist()


def test_encoding_stats_match_page_scan(spark, sf_dir):
    """encoding_stats (ColumnMetaData id 13) must agree with the pages
    the page-level scan actually walks: per (file, rowgroup, column),
    the stats' total page count equals the number of scanned pages."""
    import pyspark.sql.functions as F

    import parquet_metadata_explorer_spark as pqx

    cols = pqx.read_metadata(spark, sf_dir, source="parquet", level="column")
    # 10 files: one scan task per slot, capped by maxparts
    slots = spark.sparkContext.defaultParallelism
    assert cols.rdd.getNumPartitions() == min(10, 200, slots)
    stats = (
        cols.filter(F.col("encoding_stats").isNotNull())
        .select(
            "filepath",
            "row_group_id",
            "column_id",
            F.aggregate(
                F.col("encoding_stats"), F.lit(0), lambda a, s: a + s["count"]
            ).alias("n_from_stats"),
        )
    )
    assert stats.count() > 0  # arrow-written testdata carries the field
    pages = (
        pqx.read_metadata(spark, sf_dir, source="parquet", level="page")
        .groupBy("filepath", "row_group_id", "column_id")
        .agg(F.count("*").alias("n_pages"))
    )
    joined = stats.join(pages, ["filepath", "row_group_id", "column_id"])
    assert joined.count() == stats.count()
    assert joined.filter("n_from_stats <> n_pages").count() == 0


def test_sorting_columns_roundtrip(spark, tmp_path):
    """A file written with declared sort order surfaces it at rowgroup
    level; files without it yield NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import parquet_metadata_explorer_spark as pqx

    t = pa.table({"a": [3, 1, 2], "b": ["x", "y", "z"]})
    p = str(tmp_path / "sorted.parquet")
    pq.write_table(
        t.sort_by("a"), p,
        sorting_columns=[pq.SortingColumn(0, descending=False, nulls_first=True)],
    )
    row = (
        pqx.read_metadata(spark, p, source="parquet", level="rowgroup")
        .select("sorting_columns")
        .first()
    )
    assert row.sorting_columns == [(0, False, True)]

    # unsorted control
    p2 = str(tmp_path / "plain.parquet")
    pq.write_table(t, p2)
    row2 = (
        pqx.read_metadata(spark, p2, source="parquet", level="rowgroup")
        .select("sorting_columns")
        .first()
    )
    assert row2.sorting_columns is None
