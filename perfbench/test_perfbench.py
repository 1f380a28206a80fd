"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import measure  # noqa: E402


def _tree_bytes(root: str) -> dict:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize(
    "make",
    [
        lambda root, seed: gen.wide_root(root, seed, n_files=6, n_parts=3),
        lambda root, seed: gen.paged_files(root, seed, n_files=2, rows=4096),
        lambda root, seed: gen.corpus(root, seed, n=50),
    ],
    ids=["wide_root", "paged_files", "corpus"],
)
def test_generators_are_deterministic(tmp_path, make):
    a = make(str(tmp_path / "a"), 7)
    b = make(str(tmp_path / "b"), 7)
    c = make(str(tmp_path / "c"), 8)
    assert a == b
    files_a = _tree_bytes(str(tmp_path / "a"))
    assert files_a and files_a == _tree_bytes(str(tmp_path / "b"))
    assert files_a != _tree_bytes(str(tmp_path / "c"))
    assert c.keys() == a.keys()


def test_tail_percentile_needs_ten_samples_beyond():
    assert measure.tail_percentile(list(range(1, 20))) is None
    assert measure.tail_percentile(list(range(1, 21))) == (50.0, 10)
    assert measure.tail_percentile(list(range(1, 101))) == (90.0, 90)
    assert measure.tail_percentile(list(range(1, 1001))) == (99.0, 990)
    # ties at the percentile do not count as beyond it
    assert measure.tail_percentile([1.0] * 30 + [2.0] * 9) is None


def test_quartile_spread_and_geomean():
    assert measure.quartile_spread([10.0] * 10) == 0.0
    assert measure.quartile_spread([9, 10, 10, 10, 11]) == pytest.approx(0.1)
    assert measure.geomean([1.0, 4.0]) == pytest.approx(2.0)


def test_peak_rss_counts_this_process():
    rss = measure.peak_rss_mb()
    assert rss["driver"] > 1.0 and rss["python"] >= rss["driver"]
    assert os.getpid() in measure.process_tree(os.getpid())


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_watermark_attributes_a_job_from_another_thread(spark):
    sc = spark.sparkContext
    tracer = measure.Tracer(sc)
    tracer.enabled = True

    def launch_from_thread():
        t = threading.Thread(target=lambda: spark.range(0, 1000, 1, 3).count())
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()

    # jobs just before and after a span are not attributed to it
    spark.range(10).count()
    tracer.call("idle", lambda: None)
    spark.range(10).count()
    tracer.call("span", launch_from_thread)
    spark.range(10).count()
    tracer.flush()
    assert tracer.spark["idle"] == [dict.fromkeys(tracer.spark["idle"][0], 0)]
    (m,) = tracer.spark["span"]
    assert m["jobs"] >= 1 and m["tasks"] >= 3
    assert m["executor_run_ms"] >= 0
    assert len(tracer.spans["span"]) == 1
