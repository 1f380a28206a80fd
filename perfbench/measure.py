"""Measurement helpers: percentiles, Spark job attribution, process memory,
the environment stamp and the calibration probe.

Nothing here imports the package under test; these helpers only observe.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import subprocess
import time

# percentiles tried, highest first, for the tail report
_TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    k = max(1, math.ceil(pct / 100.0 * len(sorted_values)))
    return sorted_values[k - 1]


def tail_percentile(values: list[float], min_beyond: int = 10):
    """The highest percentile of ``values`` that has at least ``min_beyond``
    samples strictly above it, as ``(pct, value)``; ``None`` when even the
    median has fewer than that beyond it."""
    s = sorted(values)
    for pct in _TAIL_LADDER:
        v = nearest_rank(s, pct) if s else None
        if v is not None and sum(1 for x in s if x > v) >= min_beyond:
            return pct, v
    return None


def timing_summary(values: list[float]) -> dict:
    """Median, sample count and tail percentile of one timing kind."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    tail = tail_percentile(values)
    out["tail"] = None if tail is None else {"pct": tail[0], "value": tail[1]}
    return out


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, the run-to-run steadiness measure."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# ---------------------------------------------------------------------------
# Spark attribution
# ---------------------------------------------------------------------------


def next_job_id(sc) -> int:
    """The id the scheduler will hand to the next job. Jobs whose ids fall
    between two readings were started in between, from any driver thread:
    threads that inherit no job group or local properties are counted too."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def stage_metrics(sc, job_ids) -> dict:
    """Sums of the status-store stage metrics over the given jobs. Call it
    right after the jobs ran, before the store's retention evicts them."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    tot = dict(
        jobs=len(job_ids),
        stages=0,
        tasks=0,
        executor_run_ms=0,
        executor_cpu_ms=0.0,
        input_records=0,
        shuffle_bytes=0,
        spill_bytes=0,
    )
    seen = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # a skipped stage never ran: no attempt
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["executor_run_ms"] += st.executorRunTime()
            tot["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            tot["input_records"] += st.inputRecords()
            tot["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            tot["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
    return tot


class Tracer:
    """Span recorder used around calls into the package. Disabled, it only
    forwards the call. Enabled, it keeps each span's wall time and the ids
    of the Spark jobs started inside it; ``flush`` turns those into stage
    metrics after each operation, outside every timed span."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: dict[str, list[float]] = {}
        self.spark: dict[str, list[dict]] = {}
        self._pending: list[tuple[str, range]] = []

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        first = next_job_id(self.sc)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.setdefault(name, []).append(time.perf_counter() - t0)
            self._pending.append((name, range(first, next_job_id(self.sc))))

    def flush(self) -> None:
        for name, ids in self._pending:
            self.spark.setdefault(name, []).append(stage_metrics(self.sc, ids))
        self._pending.clear()


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:  # process ended between listing and reading
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the 2nd field after the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def process_tree(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(_children(p))
    return pids


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def peak_rss_mb() -> dict:
    """Peak resident set (``VmHWM``) in MB of this driver process, of the
    JVM it launched and, summed, of the live Python workers. ``python`` is
    driver plus workers: the processes that run the package's own code."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    me = os.getpid()
    for p in process_tree(me):
        role = "driver" if p == me else "jvm" if _is_java(p) else "workers"
        out[role] += _status_kb(p, "VmHWM") / 1024.0
    out["python"] = out["driver"] + out["workers"]
    return out


# ---------------------------------------------------------------------------
# environment stamp and calibration
# ---------------------------------------------------------------------------


def source_digest(root: str) -> str:
    """sha256 over the package's ``.py`` files, a code identity that also
    works in a checkout that is not a git repository."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_head(repo: str):
    try:
        r = subprocess.run(
            ["git", "-C", repo, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def env_stamp(repo: str, package_dir: str, nproc: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_head": git_head(repo),
        "src_digest": source_digest(package_dir),
    }


def calibrate(spark, nproc: int, rows: int = 800_000_000) -> float:
    """Seconds for a constant-work, no-I/O Spark job, after one small
    untimed pass that compiles it. It moves only with machine load, so a
    reader can judge a noisy window by it."""

    def probe(n):
        spark.range(0, n, 1, nproc).selectExpr(
            "count(if(pmod(id, 9) = 0, id, null)) AS n"
        ).collect()

    probe(1_000_000)
    t0 = time.perf_counter()
    probe(rows)
    return time.perf_counter() - t0
