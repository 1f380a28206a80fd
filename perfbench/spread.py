"""Run workloads over several seeds and print each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median), the run-to-run steadiness
that each metric's bound in BENCHMARK.json is judged against.

    python3 perfbench/spread.py --workloads meta_pages --seeds 1 2 3 4 5
    python3 perfbench/spread.py --seeds 1 2 3 4 5 6 7 8 9 10 --out spread.json

Without ``--workloads`` every workload in BENCHMARK.json runs. Runs are
sequential; each run's wall time is printed too. ``--out`` writes every
value with the medians and quartiles as JSON; ``baseline.json`` holds two
such sets taken one after the other.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import measure  # noqa: E402


def run_once(spec: dict, workload: str, seed: int) -> tuple[dict, dict, float]:
    """One benchmark run: (result line, report line, wall seconds)."""
    t0 = time.perf_counter()
    out = subprocess.run(
        spec["command"]
        + [
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]),
            "--trace", "0",
        ],
        cwd=os.path.dirname(HERE),
        capture_output=True,
        text=True,
    )
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["report"], wall


def summarize(vs: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(vs, n=4)
    return {
        "median": statistics.median(vs),
        "q1": q1,
        "q3": q3,
        "spread": measure.quartile_spread(vs),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    summary: dict = {"run_seconds": spec["run_seconds"], "seeds": args.seeds, "workloads": {}}
    for w in workloads:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            res, rep, wall = run_once(spec, w, seed)
            kinds = " ".join(f"{k}={v['p50']:.3f}/n{v['n']}" for k, v in rep["kinds"].items())
            calib = rep["calibration_s"]
            print(
                f"{w} seed {seed}: wall {wall:.1f}s correct={res['correct']} "
                f"attempted={res['attempted']} failed={res['failed']} "
                + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                + f" | {kinds} calib={calib['before']:.2f}/{calib['after']:.2f}",
                flush=True,
            )
            summary["env"] = rep["env"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        stats = {k: dict(summarize(vs), values=vs) for k, vs in values.items()}
        summary["workloads"][w] = stats
        for k, st in stats.items():
            print(f"{w} {k}: median {st['median']:.4g} spread {st['spread']:.3f}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
