#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/prove.py --workloads batch,ingest --seeds 1-10 [--out FILE]

Every run is untraced. For every workload and end-to-end metric it prints
the median, the quartiles (statistics.quantiles(values, n=4)) and the
spread, the distance between the quartiles as a share of the median, next
to the bound in BENCHMARK.json. It also records each invocation's wall
time, since the runs' total must fit the time a benchmark round allows.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="batch,ingest")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {"workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-3000:]}", file=sys.stderr)
                sys.exit(1)
            res = json.loads(lines[-1])
            report = json.loads(lines[-2][len("report "):]) if len(lines) > 1 else {}
            runs.append({"seed": s, "wall_s": wall, "result": res,
                         "load1": [report.get("stamp", {}).get("load1_start"),
                                   report.get("stamp", {}).get("load1_end")]})
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(f"{w} seed {s}: {wall:.1f} s wall, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} "
                  f"{vals}", flush=True)
        metrics = {}
        for name in runs[0]["result"]["metrics"]:
            vs = [r["result"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
            metrics[name] = {"median": med, "q1": q[0], "q3": q[2],
                             "spread": (q[2] - q[0]) / med if med else None,
                             "bound": bounds.get(name), "values": vs}
            print(f"  {name:12s} median {med:10.4f}  spread {metrics[name]['spread']:.4f}"
                  f"  bound {bounds.get(name)}")
        summary["workloads"][w] = {
            "runs": len(runs), "wall_s_total": sum(r["wall_s"] for r in runs),
            "all_correct": all(r["result"]["correct"] for r in runs),
            "metrics": metrics, "wall_s": [r["wall_s"] for r in runs],
            "load1": [r["load1"] for r in runs]}
        print(f"  {w}: {len(runs)} runs, {summary['workloads'][w]['wall_s_total']:.0f} s", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
