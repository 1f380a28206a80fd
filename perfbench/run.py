"""Benchmark of the metadata plane and the index plane.

    python3 perfbench/run.py --workload meta_wide --seed 1 --seconds 15 --trace 0

Run from the repository root. One run starts a local Spark session with
one task slot fewer than the machine has cores (``local[nproc - 1]``), so
that the driver, the JVM and the operating system keep a core of their own
and the stages do not wait on them. It generates the workload's inputs from
``--seed`` (three times, in fresh directories: ``setup_s`` is the median),
warms up with one untimed cycle of the workload's operation kinds, then
runs one closed-loop client for ``--seconds``, rounded up to whole cycles,
and checks every operation's result. Everything it writes goes under
``.bench_work/`` in the repository root and is removed at the end, except
the set-ups of a workload whose inputs the program fsyncs (see
``Workload.keep_setups``).

Standard output gets two JSON lines. The first, ``{"report": ...}``, has the
environment and calibration stamp, the input shapes and every per-kind
timing (median, sample count, highest percentile with ten samples beyond
it). The last is the result: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the first half of the time runs untraced and the second half
traced, followed by the serial per-layer pass, and the metrics are the
per-layer ones. Workloads and metrics are described in BENCHMARK.json.

Exit status is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = os.path.join(REPO, "parquet_metadata_explorer_spark")
SETUP_REPS = 3
RUN_LIMIT_SLACK_S = 155
with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots(cores: int) -> int:
    """Spark task slots: one fewer than the cores, so that a core lost to
    another tenant of a shared host, or taken by the driver and the JVM,
    does not hold back a whole stage (with every core used, one busy core
    slowed page scans by ~25%; with one left free, by under 5%)."""
    return max(1, cores - 1)


def start_spark(work: str, slots: int):
    """A local session whose scratch files all stay under ``work``; the
    package is put on the workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(slots))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it. The
    gateway JVM exits when its standard input closes."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_ops(wl, ops, tracer, seconds: float, traced: bool, rec: dict) -> None:
    """Closed loop: start the next op only after the last returned and was
    checked, in whole cycles of the workload's op kinds (at least one),
    until ``seconds`` have passed. Fills ``rec`` in place."""
    tracer.enabled = traced
    start = time.perf_counter()
    deadline = start + seconds
    for i, op in enumerate(ops):
        # whole cycles, so the op mix is the same in every run
        if i and i % len(wl.kinds) == 0 and time.perf_counter() >= deadline:
            break
        t0 = time.perf_counter()
        ok = False
        try:
            res = tracer.call(f"op.{op.kind}", lambda: op.act(tracer.call(f"op.{op.kind}.plan_s", op.plan)))
            dt = time.perf_counter() - t0
            ok = bool(op.check(res))
            if ok and isinstance(res, list):
                rec["result_rows"].setdefault(op.kind, []).append(len(res))
        except Exception:
            dt = time.perf_counter() - t0
            traceback.print_exc()
        tracer.flush()
        rec["attempted"] += 1
        rec["failed"] += 0 if ok else 1
        if ok:
            rec["items"] += op.items
        else:
            log(f"op {op.kind} failed its check")
        rec["lat"].setdefault(op.kind, []).append(dt)
    rec["loop_s"] += time.perf_counter() - start
    tracer.enabled = False


def _new_rec() -> dict:
    return {"attempted": 0, "failed": 0, "items": 0, "loop_s": 0.0, "lat": {}, "result_rows": {}}


def _kind_mean(tracer, kinds, key):
    """Mean over op kinds of each kind's median of a per-op Spark total."""
    vals = [
        statistics.median(m[key] for m in tracer.spark[f"op.{k}"])
        for k in kinds
        if tracer.spark.get(f"op.{k}")
    ]
    return sum(vals) / len(vals) if vals else 0.0


def per_layer(wl, tracer, traced: dict, untraced: dict, layers: dict) -> dict:
    import measure

    kinds = [k for k in wl.kinds if k in traced["lat"]]
    plan = [statistics.median(tracer.spans.get(f"op.{k}.plan_s") or [0.0]) for k in kinds]
    total = [statistics.median(traced["lat"][k]) for k in kinds]
    m = {
        "op.plan_s": sum(plan) / len(kinds),
        "op.exec_s": sum(t - p for t, p in zip(total, plan)) / len(kinds),
    }
    for key in (
        "jobs",
        "stages",
        "tasks",
        "executor_run_ms",
        "executor_cpu_ms",
        "input_records",
        "shuffle_bytes",
    ):
        m[f"spark.{key}_per_op"] = _kind_mean(tracer, kinds, key)
    # useful serial work per op: the row emitter run once per scanned file
    emit_level = {
        "file_scan": "file",
        "column_scan": "column",
        "page_scan": "page",
        "page_content": "page",
    }
    files = wl.scan_files()
    useful = sum(
        layers[f"sources.rows.emit_ms_per_file.{emit_level[k]}"] * n
        for k, n in files.items()
        if k in kinds
    ) / len(kinds)
    for k, n in files.items():
        tasks = _kind_mean(tracer, [k], "tasks")
        if tasks:
            m[f"{k}.files_per_task"] = n / tasks
    run_ms = m["spark.executor_run_ms_per_op"]
    # 1 on index_serve, which runs no metadata scan
    m["sources.task_overhead_frac"] = 1.0 - useful / run_ms if run_ms else 1.0
    both = [k for k in kinds if k in untraced["lat"]]
    m["trace.overhead_frac"] = (
        measure.geomean(
            [
                statistics.median(traced["lat"][k]) / statistics.median(untraced["lat"][k])
                for k in both
            ]
        )
        - 1.0
        if both
        else 0.0
    )
    for k in kinds:
        rows = statistics.median(traced["result_rows"].get(k) or [0])
        scanned = _kind_mean(tracer, [k], "input_records")
        if rows and scanned:
            m[f"{k}.rows_scanned_per_result"] = scanned / rows
    m.update(layers)
    extra = wl.report()
    m["operators.lakefs.files_written_per_op"] = extra.get("operators.lakefs.files_written_per_op", 0)
    m["operators.lakefs.bytes_written_per_op"] = extra.get("operators.lakefs.bytes_written_per_op", 0)
    return m


def span_report(tracer) -> dict:
    """Median wall time and Spark totals of every named span."""
    out = {}
    for name, ts in sorted(tracer.spans.items()):
        row = {"n": len(ts), "median_s": statistics.median(ts)}
        sp = tracer.spark.get(name) or []
        for key in sp[0] if sp else ():
            row[f"{key}_per_op"] = statistics.median(x[key] for x in sp)
        out[name] = row
    return out


def _timed_out(signum, frame):
    raise TimeoutError("benchmark run exceeded its time limit")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE):
        log(f"package not found beside the benchmark: {PACKAGE}")
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import layers
    import measure
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    # a hung Spark job must not outlive the run's time limit
    signal.signal(signal.SIGALRM, _timed_out)
    signal.alarm(int(args.seconds) + RUN_LIMIT_SLACK_S)

    cores = nproc()
    slots = task_slots(cores)
    work = os.path.join(REPO, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    keep: list[str] = []
    removers: list[threading.Thread] = []

    def remove(paths):
        t = threading.Thread(target=lambda: [shutil.rmtree(p, ignore_errors=True) for p in paths])
        t.start()
        removers.append(t)
        return t

    try:
        t0 = time.perf_counter()
        spark = start_spark(work, slots)
        session_s = time.perf_counter() - t0
        calib = [measure.calibrate(spark, slots)]
        log(f"session {session_s:.2f}s, calibration {calib[0]:.2f}s")

        tracer = measure.Tracer(spark.sparkContext)
        wl = WORKLOADS[args.workload](spark, args.seed, tracer)
        if wl.keep_setups:
            keep = [f"rep{rep}" for rep in range(SETUP_REPS)]
        setup_s = []
        for rep in range(SETUP_REPS):
            d = os.path.join(work, f"rep{rep}")
            # each set-up starts with no writes of the last one pending
            os.sync()
            t0 = time.perf_counter()
            wl.setup(d)
            setup_s.append(time.perf_counter() - t0)
        # Removing synced files waits on the disk, so the spent set-ups are
        # removed during the warm-up, which is not measured, and the disk is
        # synced before the first measured operation.
        spent = [os.path.join(work, f"rep{rep}") for rep in range(SETUP_REPS - 1)]
        remover = remove([] if wl.keep_setups else spent)
        t0 = time.perf_counter()
        wl.prepare()
        ops = wl.ops()
        warm = _new_rec()
        run_ops(wl, ops, tracer, 0.0, False, warm)
        warmup_s = time.perf_counter() - t0
        remover.join()
        os.sync()
        log(f"setup {setup_s} warmup {warmup_s:.2f}s, measuring from {time.perf_counter() - t0:.2f}s")

        untraced, traced = _new_rec(), _new_rec()
        if args.trace:
            run_ops(wl, ops, tracer, args.seconds / 2, False, untraced)
            run_ops(wl, ops, tracer, args.seconds / 2, True, traced)
            layer_numbers = layers.layer_pass(spark, wl.layer_roots())
            layer_numbers.update(wl.layer_extra())
        else:
            run_ops(wl, ops, tracer, args.seconds, False, untraced)
        rss = measure.peak_rss_mb()
        # the inputs in use are removed while the session winds down
        if not wl.keep_setups:
            remove([os.path.join(work, f"rep{SETUP_REPS - 1}")])
        calib.append(measure.calibrate(spark, slots))
        log(f"measured {sum(len(v) for v in untraced['lat'].values())} untraced ops")

        rec = untraced
        if args.trace:
            rec = {k: untraced[k] + traced[k] for k in ("attempted", "failed", "items", "loop_s")}
            rec["lat"] = {
                k: untraced["lat"].get(k, []) + traced["lat"].get(k, []) for k in wl.kinds
            }
        kinds = {k: measure.timing_summary(v) for k, v in sorted(rec["lat"].items()) if v}
        latency = measure.geomean([kinds[k]["p50"] for k in wl.kinds if k in kinds])
        items_per_s = rec["items"] / rec["loop_s"]
        extra = wl.report()
        setup_ok = extra.get("oracle_pages_match", True) and warm["failed"] == 0
        report = {
            "workload": args.workload,
            "why": next((w["why"] for w in SPEC["workloads"] if w["name"] == args.workload), None),
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "env": dict(measure.env_stamp(REPO, PACKAGE, cores), task_slots=slots),
            "calibration_s": {"before": calib[0], "after": calib[1]},
            "session_s": session_s,
            "setup_s": setup_s,
            "warmup_s": warmup_s,
            "warmup_failed": warm["failed"],
            "shape": wl.shape,
            "kinds": {f"{k}_p50_s": v for k, v in kinds.items()},
            "lat_s": rec["lat"],
            "items_per_s": items_per_s,
            "failed_frac": rec["failed"] / max(1, rec["attempted"]),
            "peak_rss_mb": rss,
            "extra": extra,
        }
        if args.trace:
            report["spans"] = span_report(tracer)
            numbers = per_layer(wl, tracer, traced, untraced, layer_numbers)
            report["layers"] = numbers
            metrics = {m["name"]: numbers[m["name"]] for m in SPEC["per_layer"]}
        else:
            metrics = {
                "setup_s": statistics.median(setup_s),
                "latency_p50_s": latency,
                "items_per_s": items_per_s,
                "python_peak_rss_mb": rss["python"],
            }
        result = {
            "correct": bool(setup_ok and rec["failed"] == 0 and rec["attempted"] > 0),
            "attempted": rec["attempted"],
            "failed": rec["failed"],
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
        }
        print(json.dumps({"report": report}, default=str), flush=True)
        print(json.dumps(result), flush=True)
        return 0
    finally:
        log("stopping")
        if spark is not None:
            stop_spark(spark)
        for t in removers:
            t.join()
        for name in os.listdir(work):
            if name not in keep:
                shutil.rmtree(os.path.join(work, name), ignore_errors=True)
        for d in (work, os.path.dirname(work)):
            if not os.listdir(d):
                os.rmdir(d)
        log("stopped")


if __name__ == "__main__":
    sys.exit(main())
