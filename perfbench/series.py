"""Runs the benchmark over several seeds and summarizes each metric.

    python3 perfbench/series.py --workloads thin_anchored,fat_dict_web \\
        --seeds 1-10 [--trace 1] [--out perfbench/baseline.json]

Run from the repository root. Each run is ``BENCHMARK.json``'s command
with its ``run_seconds``. Per workload and metric it prints the median,
the quartiles (``statistics.quantiles(n=4)``), n, and the quartile spread
as a share of the median beside the metric's bound. With ``--out`` the
summary, every run's result and the host facts are written as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (values[0],) * 3)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / med if med else 0.0}


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return {"seed": seed, "result": json.loads(lines[-1]),
            "detail": json.loads(lines[-2])}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 7,42")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    report = {"run_seconds": bench["run_seconds"], "trace": args.trace,
              "workloads": {}}
    for workload in args.workloads.split(","):
        runs = []
        for seed in parse_seeds(args.seeds):
            runs.append(run_once(bench, workload, seed, args.trace))
            r = runs[-1]
            print(f"{workload} seed={seed} wall={r['detail']['wall_s']:.1f}s "
                  f"attempted={r['result']['attempted']} "
                  f"failed={r['result']['failed']}", flush=True)
        names = runs[0]["result"]["metrics"]
        summary = {}
        for name, m in names.items():
            s = summarize([r["result"]["metrics"][name]["value"]
                           for r in runs])
            summary[name] = {**s, "unit": m["unit"]}
            bound = bounds.get(name)
            if args.trace == 0:
                print(f"  {name:22s} median={s['median']:.4g} {m['unit']} "
                      f"q1={s['q1']:.4g} q3={s['q3']:.4g} n={s['n']} "
                      f"spread={s['spread']:.3f}"
                      + (f" bound={bound}" if bound else ""))
        if args.trace:
            jobs = {n: sorted({r["result"]["metrics"][n]["value"]
                               for r in runs})
                    for n in names if n.endswith(".jobs")}
            summary["jobs_repeat_exactly"] = all(
                len(v) == 1 for v in jobs.values())
            for n, v in jobs.items():
                print(f"  {n:28s} {v}")
        report["workloads"][workload] = {
            "summary": summary,
            "attempted": sum(r["result"]["attempted"] for r in runs),
            "failed": sum(r["result"]["failed"] for r in runs),
            "runs": runs,
        }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
