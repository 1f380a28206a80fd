"""format("metadata") registration tests (Python Data Source API)."""

import pytest

import parquet_metadata_explorer_spark as pqx
from parquet_metadata_explorer_spark import schemas


@pytest.fixture(scope="module", autouse=True)
def registered(spark):
    pqx.register(spark)


def test_format_file_level(spark, sf_dir):
    from parquet_metadata_explorer_spark.listing import list_files

    df = spark.read.format("metadata").load(sf_dir)
    assert df.schema == schemas.PARQUET_FILE_LEVEL  # parquet inferred from magic
    assert df.count() == 10  # one row per table file
    # one task per slot, not per file: the slot count must reach the
    # planning worker through register()
    slots = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == min(10, 200, slots)
    # several files per slice still come back in listing order
    listed = [f.path for f in list_files(sf_dir)]
    assert [r.filepath for r in df.select("filepath").collect()] == listed


def test_format_column_level(spark, sf_dir):
    df = (
        spark.read.format("metadata")
        .option("level", "column")
        .load(f"{sf_dir}/nation.parquet")
    )
    rows = df.collect()
    import pyarrow.parquet as pq

    expected = set(pq.ParquetFile(f"{sf_dir}/nation.parquet").schema_arrow.names)
    assert {r.path for r in rows} == expected


def test_format_explicit_file_source(spark, sf_dir):
    df = (
        spark.read.format("metadata")
        .option("source", "file")
        .load(f"{sf_dir}/nation.parquet")
    )
    assert df.schema == schemas.FILE_LEVEL
    assert df.count() == 1


def test_format_respects_maxparts(spark, sf_dir):
    df = (
        spark.read.format("metadata")
        .option("maxparts", "2")
        .option("level", "rowgroup")
        .load(sf_dir)
    )
    assert df.rdd.getNumPartitions() <= 2


def test_plan_slices_contiguous_and_capped():
    from parquet_metadata_explorer_spark.options import parse_options
    from parquet_metadata_explorer_spark.sources.datasource import MetadataReader
    from parquet_metadata_explorer_spark.sources.rows import plan_slices

    files = list(range(10))
    assert plan_slices(files, 200, 4) == [[0, 1], [2, 3, 4], [5, 6], [7, 8, 9]]
    assert plan_slices(files, 3, 4) == [[0, 1, 2], [3, 4, 5], [6, 7, 8, 9]]
    assert plan_slices(files[:2], 200, 4) == [[0], [1]]
    assert plan_slices([], 200, 4) == [[]]
    # unknown slot count: the reference's min(n_files, maxparts)
    assert len(plan_slices(files, 200)) == 10
    # a data source class registered without register() carries no slot
    # count and plans the same way
    opts = parse_options({"path": "/x"})
    assert len(MetadataReader(opts, files, "parquet").partitions()) == 10


def test_maxparts_below_one_raises_on_every_entry_point(spark, sf_dir):
    from parquet_metadata_explorer_spark.operators.page_decode import column_values

    path = f"{sf_dir}/nation.parquet"
    for scan in (
        lambda: pqx.read_metadata(spark, path, maxparts=0),
        lambda: spark.read.format("metadata").option("maxparts", "0").load(path),
        lambda: pqx.read_page_index(spark, path, maxparts=0),
        lambda: column_values(spark, path, maxparts=0),
    ):
        with pytest.raises(Exception, match="Invalid value for maxparts: 0"):
            scan()
