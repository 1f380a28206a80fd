"""The per-layer pass: serial, driver-side timings of the metadata plane's
public functions on a workload's own parquet files.

For the metadata workloads the files are the generated inputs; for the
index workload they are the segment files of both index lakes (half the
sample from each), which the index serve path also opens and footer-reads.
Each number isolates one layer: listing, footer read (I/O plus decode),
Thrift decode on bytes already in memory, the page walk and its I/O
counts, and the per-level row emitters that every distributed scan runs
once per file.
"""

from __future__ import annotations

import statistics
import time

# files sampled per workload, and page headers decoded from memory
SAMPLE_FILES, SAMPLE_HEADERS = 8, 4000


def _per_file_ms(fn, files) -> float:
    t0 = time.perf_counter()
    for f in files:
        fn(f)
    return (time.perf_counter() - t0) * 1e3 / len(files)


def _tail_blob(path: str) -> bytes:
    """The Thrift footer bytes, read with plain file I/O."""
    with open(path, "rb") as fh:
        fh.seek(-8, 2)
        n = int.from_bytes(fh.read(4), "little")
        fh.seek(-8 - n, 2)
        return fh.read(n)


def _header_bytes(path: str, spans: list[tuple[int, int]]) -> list[bytes]:
    with open(path, "rb") as fh:
        out = []
        for off, size in spans:
            fh.seek(off)
            out.append(fh.read(size))
        return out


def layer_pass(spark, roots: list[str]) -> dict:
    from parquet_metadata_explorer_spark.listing import list_files
    from parquet_metadata_explorer_spark.metrics import ScanMetrics
    from parquet_metadata_explorer_spark.parquet.footer import is_parquet_file, read_footer
    from parquet_metadata_explorer_spark.parquet.io import DEFAULT_BUFFER_SIZE
    from parquet_metadata_explorer_spark.parquet.pages import iter_pages
    from parquet_metadata_explorer_spark.parquet.thrift import (
        BytesReadable,
        parse_file_metadata,
        read_page_header,
    )
    from parquet_metadata_explorer_spark.sources import rows as R

    list_s = []
    for _ in range(5):
        t0 = time.perf_counter()
        listed = [list_files(r) for r in roots]
        list_s.append(time.perf_counter() - t0)
    # an even sample of each root, so that per-file numbers weigh every
    # root alike; index lakes also hold small non-parquet pointer files
    sample = []
    for files in listed:
        files = [f for f in files if is_parquet_file(f.path)]
        per_root = SAMPLE_FILES // len(roots)
        sample += files[:: max(1, len(files) // per_root)][:per_root]
    n = len(sample)

    out = {
        "listing.list_s": statistics.median(list_s),
        "listing.files": sum(len(files) for files in listed),
    }
    footer_len = []
    out["parquet.footer.read_ms_per_file"] = _per_file_ms(
        lambda f: footer_len.append(read_footer(f.path, f.size)[1]), sample
    )
    out["parquet.footer.bytes_per_file"] = sum(footer_len) / n + 8

    blobs = [_tail_blob(f.path) for f in sample]
    t0 = time.perf_counter()
    for b in blobs:
        parse_file_metadata(b)
    out["parquet.thrift.decode_ms_per_file"] = (time.perf_counter() - t0) * 1e3 / n

    m = ScanMetrics(spark)
    spans: dict[str, list[tuple[int, int]]] = {}
    headers = 0

    def walk(f):
        nonlocal headers
        for page in iter_pages(f.path, f.size, on_close=m.add):
            headers += 1
            s = spans.setdefault(f.path, [])
            if len(s) < SAMPLE_HEADERS // n:
                s.append((page[4], page[5]))

    out["parquet.pages.iter_ms_per_file"] = _per_file_ms(walk, sample)
    out["parquet.pages.headers"] = headers
    out["parquet.io.reads_per_file"] = m.remote_reads / n
    out["parquet.io.seeks_per_file"] = m.remote_seeks / n

    raw = [b for p, s in spans.items() for b in _header_bytes(p, s)]
    t0 = time.perf_counter()
    for b in raw:
        read_page_header(BytesReadable(b))
    out["parquet.thrift.page_header_us"] = (time.perf_counter() - t0) * 1e6 / max(1, len(raw))

    emitters = {
        "file": R.parquet_file_rows,
        "column": R.column_rows,
        "page": lambda f: R.page_rows(f, DEFAULT_BUFFER_SIZE, False),
    }
    for level, emit in emitters.items():
        out[f"sources.rows.emit_ms_per_file.{level}"] = _per_file_ms(
            lambda f: sum(1 for _ in emit(f)), sample
        )
    return out
