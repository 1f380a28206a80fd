"""ForwardSeekableStream unit tests (reference RemoteInputStreamSuite semantics)."""

import io

import pytest

from parquet_metadata_explorer_spark.parquet.io import ForwardSeekableStream

DATA = bytes(range(256)) * 64  # 16 KiB


def make(buf_size):
    return ForwardSeekableStream(io.BytesIO(DATA), buf_size)


def test_invalid_buffer_size():
    with pytest.raises(ValueError, match="Invalid buffer size"):
        ForwardSeekableStream(io.BytesIO(b""), 0)


@pytest.mark.parametrize("bufsize", [1, 4, 17, 128, 1024, 16384, 65536])
def test_full_read_across_buffer_sizes(bufsize):
    s = make(bufsize)
    assert s.read(len(DATA)) == DATA
    assert s.read(10) == b""  # EOF


def test_read_fully_eof():
    s = make(64)
    with pytest.raises(EOFError):
        s.read_fully(len(DATA) + 1)


def test_backward_seek_rejected():
    s = make(64)
    s.read(100)
    with pytest.raises(ValueError, match="Backward seek"):
        s.seek(10)


def test_in_buffer_seek_no_remote_io():
    s = make(1024)
    s.read(1)  # triggers one fill
    reads_before = s.remote_reads
    s.seek(1000)  # within the 1024-byte buffer
    assert s.remote_seeks == 0
    assert s.remote_reads == reads_before
    assert s.read(24) == DATA[1000:1024]


def test_far_seek_uses_remote_seek():
    s = make(64)
    s.read(1)
    s.seek(8192)
    assert s.remote_seeks == 1
    assert s.read(4) == DATA[8192:8196]


def test_tell_tracks_position():
    s = make(100)
    assert s.tell() == 0
    s.read(37)
    assert s.tell() == 37
    s.seek(73)
    assert s.tell() == 73


def test_use_after_close():
    s = make(64)
    s.close()
    with pytest.raises(ValueError, match="closed"):
        s.read(1)


def test_scan_metrics_accumulate_to_driver(spark, sf_dir):
    """Distributed page-scan I/O counters must aggregate across tasks via
    accumulators, and a big buffer must need no more remote reads than a
    tiny one on the same files (that is the whole point of the buffer)."""
    import parquet_metadata_explorer_spark as pqx

    big = pqx.ScanMetrics(spark)
    pqx.read_metadata(
        spark, sf_dir, source="parquet", level="page", io_metrics=big
    ).count()
    assert big.remote_reads > 0
    # at 128 MiB each file costs exactly its initial seek to the first
    # chunk; every later chunk lands inside the buffered whole file
    n_files = 10
    assert big.remote_seeks == n_files

    small = pqx.ScanMetrics(spark)
    pqx.read_metadata(
        spark, sf_dir, source="parquet", level="page",
        buffersize=256, io_metrics=small,
    ).count()
    assert small.remote_reads > big.remote_reads
    assert small.remote_seeks >= 0


def test_fs_options_construct_explicit_filesystems(tmp_path):
    """fs_options / the scheme registry construct the right pyarrow
    filesystem with custom endpoint+credentials — no URI-inference, no
    environment, no network (construction only)."""
    import pyarrow.fs as pafs

    from parquet_metadata_explorer_spark.parquet.io import (
        clear_fs_options,
        fs_options_snapshot,
        install_fs_options,
        resolve_filesystem,
        set_fs_options,
    )

    opts = {
        "endpoint_override": "http://localhost:9000",
        "access_key": "ak",
        "secret_key": "sk",
        "region": "us-east-1",
    }
    # explicit per-call options
    fs, p = resolve_filesystem("s3://bucket/k/f.parquet", fs_options=opts)
    assert isinstance(fs, pafs.S3FileSystem) and p == "bucket/k/f.parquet"
    # constructed instances are memoized per (scheme, options)
    fs2, _ = resolve_filesystem("s3://other/x", fs_options=opts)
    assert fs2 is fs

    # session registry + executor-side snapshot install
    clear_fs_options()
    set_fs_options("s3", opts)
    snap = fs_options_snapshot()
    assert snap == {"s3": opts}
    fs3, _ = resolve_filesystem("s3://bucket/y")
    assert isinstance(fs3, pafs.S3FileSystem)
    clear_fs_options()
    install_fs_options(snap)  # what scan_rows does worker-side
    fs4, _ = resolve_filesystem("s3://bucket/z")
    assert isinstance(fs4, pafs.S3FileSystem)
    clear_fs_options()

    # unknown scheme with options -> loud error, not silent local fallback
    import pytest as _pytest

    with _pytest.raises(ValueError, match="constructor"):
        resolve_filesystem("weird://x/y", fs_options={"a": 1})

    # scheme-less paths stay local and ignore the registry
    fs5, p5 = resolve_filesystem(str(tmp_path))
    assert isinstance(fs5, pafs.LocalFileSystem) and p5 == str(tmp_path)


def test_fs_options_threaded_end_to_end(spark, tmp_path):
    """file:// scheme with explicit constructor kwargs exercises the full
    read path (driver listing + executor footer reads) through an
    explicitly-constructed filesystem."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import parquet_metadata_explorer_spark as pqx
    from parquet_metadata_explorer_spark.parquet.io import clear_fs_options

    pq.write_table(pa.table({"a": [1, 2, 3]}), str(tmp_path / "f.parquet"))
    try:
        df = pqx.read_metadata(
            spark,
            f"file://{tmp_path}",
            source="parquet",
            level="column",
            fs_options={"use_mmap": True},
        )
        assert df.count() == 1
    finally:
        clear_fs_options()


def test_resolve_fs_local_paths_per_scheme_class(monkeypatch):
    """With registered options, the fs-local path must match what
    FileSystem.from_uri would return per scheme class: bucket stays for
    s3/gs, authority dropped for hdfs, container kept (account dropped)
    for abfss."""
    from parquet_metadata_explorer_spark.parquet import io as pio

    class DummyFS:
        pass

    monkeypatch.setattr(pio, "_fs_for_scheme", lambda s, o: DummyFS())
    monkeypatch.setattr(pio, "_FS_OPTIONS", {
        "s3": {"endpoint_override": "http://minio:9000"},
        "hdfs": {"host": "nn", "port": 8020},
        "abfss": {"account_name": "acct"},
    })
    _, p = pio.resolve_filesystem("s3://bucket/data/f.parquet")
    assert p == "bucket/data/f.parquet"
    _, p = pio.resolve_filesystem("hdfs://nn:8020/data/f.parquet")
    assert p == "/data/f.parquet"
    _, p = pio.resolve_filesystem(
        "abfss://container@acct.dfs.core.windows.net/data/f.parquet"
    )
    assert p == "container/data/f.parquet"


def test_install_fs_options_overwrites_stale_worker_state():
    """Reused executor workers keep module globals across jobs: a new
    snapshot (rotated credentials / new endpoint) must overwrite, never
    be shadowed by setdefault."""
    from parquet_metadata_explorer_spark.parquet import io as pio

    pio.clear_fs_options()
    try:
        pio.install_fs_options({"s3": {"endpoint_override": "http://old:9000"}})
        pio.install_fs_options({"s3": {"endpoint_override": "http://new:9000"}})
        assert pio._FS_OPTIONS["s3"]["endpoint_override"] == "http://new:9000"
    finally:
        pio.clear_fs_options()


def test_install_fs_options_wholesale_replace():
    """A provided snapshot replaces the ENTIRE worker registry: schemes the
    current job did not register (stale endpoint from a previous job on a
    reused worker) are dropped; {} clears everything; None is 'no snapshot
    threaded' and leaves the registry untouched."""
    from parquet_metadata_explorer_spark.parquet import io as pio

    pio.clear_fs_options()
    try:
        pio.install_fs_options({"s3": {"endpoint_override": "http://old:9000"}})
        pio.install_fs_options({"gs": {"project_id": "p"}})
        assert "s3" not in pio._FS_OPTIONS  # stale scheme gone
        assert pio._FS_OPTIONS["gs"]["project_id"] == "p"
        pio.install_fs_options(None)  # no snapshot threaded: untouched
        assert pio._FS_OPTIONS["gs"]["project_id"] == "p"
        pio.install_fs_options({})  # empty snapshot: registry cleared
        assert pio._FS_OPTIONS == {}
    finally:
        pio.clear_fs_options()
