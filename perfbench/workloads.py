"""The benchmark workloads, one per entry of BENCHMARK.json.

Each workload is one client in a closed loop: the next operation starts
only after the previous one returned and was checked. ``setup`` makes the
inputs (and indexes) in a fresh directory and is what ``setup_s`` times;
``prepare`` runs once afterwards to take the references the checks compare
against; ``ops`` yields operations forever, and the first cycle of them is
the untimed warm-up.

Checks never trust the code under test: metadata is compared with
``pyarrow.parquet`` and page scans with the page-size invariant, probes
with the in-memory operators, and the graph with its warm-up digest.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow.parquet as pq

import gen
import measure

# Sizes are chosen so that every operation kind completes several times in
# one run while keeping the property the workload is about (the "why" of
# each workload in BENCHMARK.json).
WIDE_FILES, WIDE_PARTS = 32, 8
# two paged files per task slot
PAGED_FILES_PER_SLOT, PAGED_ROWS = 2, 512 * 1024
ORACLE_ROWS = 2048
CORPUS_N = 500
IVF_PARAMS = dict(k_cells=8, m=8, n_centroids=16, iters=2, coarse_iters=2)
N_PROBE, RERANK = 3, 30
ANN_QUERIES, BM25_QUERIES = 5, 3
BM25_QUERY_RANKS = (3, 30, 300, 1500)


@dataclass
class Op:
    """One timed operation: ``plan`` builds (or, for eager operators, does)
    the work, ``act`` runs the Spark action on what ``plan`` returned.
    ``check(result)`` runs untimed and returns True when the result is
    right. ``items`` counts the units of work: files for file and column
    scans, pages for page scans, queries for probes and the graph."""

    kind: str
    plan: Callable[[], Any]
    act: Callable[[Any], Any]
    check: Callable[[Any], bool]
    items: int


def _collect(df):
    return df.collect()


def digest(rows) -> str:
    """Order-free digest of a list of Rows/tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()
    # Leave the set-up directories in place when the run ends. Unlinking a
    # file the program fsynced waits for the disk to discard its blocks
    # (~14 ms per file on an ext4 volume mounted with online discard), so
    # removing an index set-up of ~700 files would take ~10 s per set-up.
    keep_setups = False

    def __init__(self, spark, seed: int, tracer: measure.Tracer):
        self.spark = spark
        self.seed = seed
        self.tr = tracer
        self.shape: dict = {}

    def setup(self, d: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def ops(self):
        raise NotImplementedError

    def layer_roots(self) -> list[str]:
        """Directories of parquet files the per-layer pass walks."""
        raise NotImplementedError

    def scan_files(self) -> dict[str, int]:
        """Files each metadata-scan op kind reads (none for index ops)."""
        return {}

    def report(self) -> dict:
        return {}

    def layer_extra(self) -> dict:
        """Per-layer numbers beyond the metadata-plane pass."""
        return {"operators.segments.commits": 0}


# ---------------------------------------------------------------------------
# metadata plane
# ---------------------------------------------------------------------------


def _pyarrow_file_facts(path: str) -> dict:
    md = pq.read_metadata(path)
    chunks = {}
    for rg in range(md.num_row_groups):
        r = md.row_group(rg)
        for c in range(r.num_columns):
            chunks[(rg, c)] = r.column(c).total_compressed_size
    return {
        "rows": md.num_rows,
        "row_groups": md.num_row_groups,
        "columns": md.num_columns,
        "size": os.path.getsize(path),
        "values": sum(
            md.row_group(rg).column(c).num_values
            for rg in range(md.num_row_groups)
            for c in range(md.num_columns)
        ),
        "chunks": chunks,
    }


def _norm(path: str) -> str:
    return path.split("://", 1)[-1]


class MetaWide(Workload):
    name = "meta_wide"
    kinds = ("file_scan", "column_scan")

    def setup(self, d: str) -> None:
        """Generate a fresh root and scan it once at file level: set-up ends
        with the first answer about new data."""
        import parquet_metadata_explorer_spark as pqx

        self.root = os.path.join(d, "wide")
        self.shape = gen.wide_root(self.root, self.seed, WIDE_FILES, WIDE_PARTS)
        pqx.register(self.spark)
        op = self._file_op()
        op.act(op.plan())

    def prepare(self) -> None:
        self.ref = {}
        for dirpath, _, names in os.walk(self.root):
            for n in names:
                p = os.path.join(dirpath, n)
                self.ref[p] = _pyarrow_file_facts(p)

    def _file_op(self) -> Op:
        import parquet_metadata_explorer_spark as pqx

        def check(rows):
            got = {
                _norm(r.filepath): (r.num_rows, r.num_row_groups, r.size, r.partition)
                for r in rows
            }
            want = {
                p: (
                    f["rows"],
                    f["row_groups"],
                    f["size"],
                    {"part": os.path.basename(os.path.dirname(p)).split("=")[1]},
                )
                for p, f in self.ref.items()
            }
            return len(rows) == len(want) and got == want

        return Op(
            "file_scan",
            lambda: self.tr.call(
                "sources.api.plan_s", pqx.read_metadata, self.spark, self.root, level="file"
            ),
            lambda df: self.tr.call("sources.api.exec_s", _collect, df),
            check,
            WIDE_FILES,
        )

    def _column_op(self) -> Op:
        from pyspark.sql import functions as F

        def plan():
            return (
                self.spark.read.format("metadata")
                .option("level", "column")
                .load(self.root)
                .filter("num_values > 0")
                .groupBy("filepath")
                .agg(
                    F.count("*").alias("n"),
                    F.sum("total_compressed_size").alias("bytes"),
                    F.sum("num_values").alias("values"),
                )
            )

        def check(rows):
            got = {_norm(r.filepath): (r.n, r.bytes, r.values) for r in rows}
            want = {
                p: (f["row_groups"] * f["columns"], sum(f["chunks"].values()), f["values"])
                for p, f in self.ref.items()
            }
            return got == want

        return Op(
            "column_scan",
            lambda: self.tr.call("sources.datasource.plan_s", plan),
            lambda df: self.tr.call("sources.datasource.exec_s", _collect, df),
            check,
            WIDE_FILES,
        )

    def ops(self):
        while True:
            yield self._file_op()
            yield self._column_op()

    def layer_roots(self):
        return [self.root]

    def scan_files(self):
        return dict.fromkeys(self.kinds, WIDE_FILES)


class MetaPages(Workload):
    name = "meta_pages"
    kinds = ("page_scan", "page_content")

    def setup(self, d: str) -> None:
        import parquet_metadata_explorer_spark as pqx
        from parquet_metadata_explorer_spark.listing import list_files

        self.root = os.path.join(d, "pages")
        self.n_files = PAGED_FILES_PER_SLOT * self.spark.sparkContext.defaultParallelism
        self.shape = gen.paged_files(self.root, self.seed, self.n_files, PAGED_ROWS)
        self.oracle_root = os.path.join(d, "oracle")
        gen.paged_files(self.oracle_root, self.seed + 1, 1, ORACLE_ROWS)
        pqx.register(self.spark)
        list_files(self.root)

    def prepare(self) -> None:
        self.ref = {}
        for n in sorted(os.listdir(self.root)):
            p = os.path.join(self.root, n)
            self.ref[p] = _pyarrow_file_facts(p)
        self.oracle_ok = self._oracle_check()
        # the page total, from the first checked scan (the invariant pins
        # every chunk's byte total; the oracle pins the walk itself)
        self.pages = None
        op = self._page_op()
        rows = op.act(op.plan())
        self.pages = sum(r.n for r in rows)
        self.shape["pages"] = self.pages

    def _oracle_check(self) -> bool:
        """Page-by-page equality with the independent DuckDB page walk on a
        small file written with the same settings."""
        import duckdb
        import parquet_metadata_explorer_spark as pqx

        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(here, "tools"))
        try:
            from duckdb_page_oracle import page_walk_cte
        finally:
            sys.path.pop(0)
        path = os.path.join(self.oracle_root, "p000.parquet")
        con = duckdb.connect()
        try:
            want = con.execute(
                f"WITH RECURSIVE {page_walk_cte(path)} "
                "SELECT rg_id, col_id, page_id, header_start, header_size, comp FROM pages"
            ).fetchall()
        finally:
            con.close()
        got = (
            pqx.read_metadata(self.spark, path, level="page")
            .select(
                "row_group_id",
                "column_id",
                "page_id",
                "page_header_offset",
                "page_header_size",
                "page_compressed_size",
            )
            .collect()
        )
        self.shape["oracle_pages"] = len(want)
        return sorted(map(tuple, got)) == sorted(map(tuple, want)) and len(want) > 0

    def _page_op(self) -> Op:
        import parquet_metadata_explorer_spark as pqx
        from pyspark.sql import functions as F

        def plan():
            return (
                pqx.read_metadata(self.spark, self.root, level="page")
                .groupBy("filepath", "row_group_id", "column_id")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("page_header_size") + F.col("page_compressed_size")).alias(
                        "bytes"
                    ),
                )
            )

        def check(rows):
            got = {(_norm(r.filepath), r.row_group_id, r.column_id): r.bytes for r in rows}
            want = {
                (p, rg, c): b for p, f in self.ref.items() for (rg, c), b in f["chunks"].items()
            }
            pages = sum(r.n for r in rows)
            return got == want and (self.pages is None or pages == self.pages)

        return Op(
            "page_scan",
            lambda: self.tr.call("sources.api.page.plan_s", plan),
            lambda df: self.tr.call("sources.api.page.exec_s", _collect, df),
            check,
            self.pages or 0,
        )

    def _content_op(self) -> Op:
        import parquet_metadata_explorer_spark as pqx
        from pyspark.sql import functions as F

        def plan():
            return (
                pqx.read_metadata(self.spark, self.root, level="page", pagecontent=True)
                .groupBy("filepath")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.length("page_content")).alias("content"),
                    F.sum("page_header_size").alias("headers"),
                    F.sum(
                        (F.length("page_content") != F.col("page_compressed_size")).cast("int")
                    ).alias("mismatched"),
                )
            )

        def check(rows):
            got = {_norm(r.filepath): r.content + r.headers for r in rows}
            want = {p: sum(f["chunks"].values()) for p, f in self.ref.items()}
            pages = sum(r.n for r in rows)
            return (
                got == want
                and all(r.mismatched == 0 for r in rows)
                and (self.pages is None or pages == self.pages)
            )

        return Op(
            "page_content",
            lambda: self.tr.call("sources.api.pagecontent.plan_s", plan),
            lambda df: self.tr.call("sources.api.pagecontent.exec_s", _collect, df),
            check,
            self.pages or 0,
        )

    def ops(self):
        while True:
            yield self._page_op()
            yield self._content_op()

    def layer_roots(self):
        return [self.root]

    def scan_files(self):
        return dict.fromkeys(self.kinds, self.n_files)

    def report(self):
        return {"oracle_pages_match": self.oracle_ok}


# ---------------------------------------------------------------------------
# index plane
# ---------------------------------------------------------------------------


class IndexServe(Workload):
    name = "index_serve"
    kinds = ("ann_probe", "bm25_probe", "graph")
    keep_setups = True

    def setup(self, d: str) -> None:
        """Generate the corpus and build both indexes over it."""
        from parquet_metadata_explorer_spark.operators.similarity import write_ivfpq_index
        from parquet_metadata_explorer_spark.operators.text import write_bm25_index

        cdir = os.path.join(d, "corpus")
        self.shape = gen.corpus(cdir, self.seed, CORPUS_N)
        self.words_by_rank = self.shape.pop("words_by_rank")
        self.emb = self.spark.read.parquet(os.path.join(cdir, "embeddings.parquet"))
        self.docs = self.spark.read.parquet(os.path.join(cdir, "documents.parquet"))
        self.ivf = os.path.join(d, "ivfpq")
        self.bm = os.path.join(d, "bm25")
        self.tr.call("operators.similarity.build_s", write_ivfpq_index, self.emb, self.ivf, **IVF_PARAMS)
        self.tr.call("operators.text.build_s", write_bm25_index, self.docs, self.bm)
        self.built = self.lake_bytes()

    def _queries(self):
        """Seeded ANN query ids, and BM25 queries built from the words at
        fixed frequency ranks, so that every seed probes postings lists of
        the same lengths."""
        import numpy as np

        rng = np.random.default_rng(self.seed + 7)
        qids = sorted(int(x) for x in rng.choice(CORPUS_N, ANN_QUERIES, replace=False))
        w = self.words_by_rank
        qs = [
            (q, " ".join(w[r + q] for r in BM25_QUERY_RANKS)) for q in range(BM25_QUERIES)
        ]
        return qids, qs

    def prepare(self) -> None:
        from parquet_metadata_explorer_spark.operators.similarity import ivfpq_ann_topk
        from parquet_metadata_explorer_spark.operators.text import bm25_topk

        self.qids, self.qs = self._queries()
        self.qdf = self.emb.filter(self.emb.vec_id.isin(self.qids)).select("vec_id", "embedding")
        self.ann_ref = digest(
            ivfpq_ann_topk(
                self.emb, self.qids, k=10, n_probe=N_PROBE, rerank=RERANK, **IVF_PARAMS
            ).collect()
        )
        self.bm25_ref = digest(bm25_topk(self.docs, self.qs, k=10).collect())
        self.graph_ref = None
        op = self._graph_op()
        self.graph_ref = digest(op.act(op.plan()))

    def _ann_op(self) -> Op:
        from parquet_metadata_explorer_spark.operators.similarity import ivfpq_probe_topk

        return Op(
            "ann_probe",
            lambda: self.tr.call(
                "operators.similarity.probe_plan_s",
                ivfpq_probe_topk,
                self.spark,
                self.ivf,
                self.qdf,
                k=10,
                n_probe=N_PROBE,
                rerank=RERANK,
                embeddings=self.emb,
            ),
            lambda df: self.tr.call("operators.similarity.probe_exec_s", _collect, df),
            lambda rows: digest(rows) == self.ann_ref,
            ANN_QUERIES,
        )

    def _bm25_op(self) -> Op:
        from parquet_metadata_explorer_spark.operators.text import bm25_probe_topk

        return Op(
            "bm25_probe",
            lambda: self.tr.call(
                "operators.text.bm25_plan_s", bm25_probe_topk, self.spark, self.bm, self.qs, k=10
            ),
            lambda df: self.tr.call("operators.text.bm25_exec_s", _collect, df),
            lambda rows: digest(rows) == self.bm25_ref,
            BM25_QUERIES,
        )

    def _graph_op(self) -> Op:
        from parquet_metadata_explorer_spark.operators.similarity import (
            hybrid_knn_graph_from_index,
        )

        return Op(
            "graph",
            lambda: self.tr.call(
                "operators.similarity.graph_plan_s",
                hybrid_knn_graph_from_index,
                self.spark,
                self.bm,
                self.ivf,
                self.emb,
                k=10,
                n_probe=N_PROBE,
            ),
            lambda df: self.tr.call("operators.similarity.graph_exec_s", _collect, df),
            lambda rows: len(rows) > 0 and digest(rows) == self.graph_ref,
            CORPUS_N,
        )

    def report(self):
        # the only writes of this workload are the two index builds
        return {
            "operators.lakefs.files_written_per_op": self.built[0] / 2,
            "operators.lakefs.bytes_written_per_op": self.built[1] / 2,
        }

    def ops(self):
        while True:
            yield self._ann_op()
            yield self._bm25_op()
            yield self._graph_op()

    def layer_roots(self):
        return [self.ivf, self.bm]

    def layer_extra(self) -> dict:
        from parquet_metadata_explorer_spark.operators.similarity import ivfpq_index_snapshot
        from parquet_metadata_explorer_spark.operators.text import bm25_index_snapshot

        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            a, b = ivfpq_index_snapshot(self.ivf), bm25_index_snapshot(self.bm)
            times.append(time.perf_counter() - t0)
        return {
            "operators.segments.snapshot_s": sorted(times)[2],
            "operators.segments.commits": len(a["batches"]) + len(b["batches"]),
        }

    def lake_bytes(self) -> tuple[int, int]:
        files = size = 0
        for root in (self.ivf, self.bm):
            for dirpath, _, names in os.walk(root):
                for n in names:
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        return files, size


WORKLOADS = {w.name: w for w in (MetaWide, MetaPages, IndexServe)}
