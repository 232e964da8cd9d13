"""Steadiness check for the benchmark, run from the repository root:

    python3 perfbench/steady.py --workloads tiles,batch \\
        --seeds 1-10 [--trace-seeds 1-2] [--out perfbench/steadiness.json]

Runs ``perfbench/run.py`` once per seed and workload, one run at a time,
and records per end-to-end metric its median, quartiles and spread: the
distance between the first and third quartile, as
``statistics.quantiles(values, n=4)`` gives them, as a share of the
median.  Traced runs (each trace seed twice) add the per-layer medians,
whether each figure repeats exactly, and the tracing overhead (traced
``trace.wall_s`` minus untraced ``wall_s``, both medians).  Results for
the workloads run are merged into ``--out``.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        raise RuntimeError("{} failed:\n{}".format(
            " ".join(cmd), proc.stderr[-3000:]))
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    return result, detail, wall


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="tiles,batch")
    ap.add_argument("--seeds", default="1-10", type=seed_range)
    ap.add_argument("--trace-seeds", default="", type=lambda t:
                    seed_range(t) if t else [])
    ap.add_argument("--out", default=os.path.join(HERE, "steadiness.json"))
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {}
    if os.path.exists(args.out):
        with open(args.out) as fh:
            record = json.load(fh)
    for workload in args.workloads.split(","):
        runs = [run_once(workload, s, spec["run_seconds"], 0)
                for s in args.seeds]
        entry = {"seeds": args.seeds,
                 "run_wall_s": summarize([w for _, _, w in runs]),
                 "attempted": [r["attempted"] for r, _, _ in runs],
                 "failed": [r["failed"] for r, _, _ in runs],
                 "correct": [r["correct"] for r, _, _ in runs],
                 "failure_samples": sorted({s for _, d, _ in runs
                                            for s in d["failure_samples"]
                                            })[:10],
                 "op_latency_s": {
                     op: [d["latency_by_type"][op]["p50_s"]
                          for _, d, _ in runs]
                     for op in runs[0][1]["latency_by_type"]},
                 "end_to_end": {}}
        for name, bound in bounds.items():
            s = summarize([r["metrics"][name]["value"] for r, _, _ in runs])
            s["bound"] = bound
            s["within_third_of_bound"] = s["spread"] < bound / 3
            entry["end_to_end"][name] = s
        if args.trace_seeds:
            # each seed twice: a figure that differs between two runs on
            # the same inputs varies with timing (AQE re-planning, task
            # scheduling); one that differs only across seeds varies
            # with the data
            traced = [run_once(workload, s, spec["run_seconds"], 1)
                      for s in args.trace_seeds for _ in range(2)]
            layers = {}
            for m in spec["per_layer"]:
                vals = [r["metrics"][m["name"]]["value"]
                        for r, _, _ in traced]
                same_seed = all(
                    vals[i] == vals[i + 1] for i in range(0, len(vals), 2))
                layers[m["name"]] = {
                    "median": statistics.median(vals),
                    "repeats_on_same_inputs": same_seed,
                    "repeats_across_seeds": len(set(vals)) == 1,
                    "values": vals}
            entry["per_layer"] = layers
            entry["trace_seeds"] = args.trace_seeds
            entry["trace_overhead_s"] = (
                layers["trace.wall_s"]["median"]
                - entry["end_to_end"]["wall_s"]["median"])
        record[workload] = entry
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
            fh.write("\n")
        worst = max(entry["end_to_end"].items(),
                    key=lambda kv: kv[1]["spread"] / kv[1]["bound"])
        print("{}: worst spread {} {:.3f} (bound {})".format(
            workload, worst[0], worst[1]["spread"], worst[1]["bound"]),
            flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
