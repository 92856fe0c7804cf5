#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median,
quartiles and spread (interquartile distance as a share of the median).

    python3 perfbench/sweep.py --workload wrm_stream --seeds 1-10 --out sweep.json

Seeds are a range `a-b` or a comma list. The run length comes from
BENCHMARK.json unless --seconds is given. With --trace 1 the per-layer
metrics are summarised instead of the end-to-end ones.
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
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def summarise(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs, failures = [], []
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(seconds), "--trace", a.trace]
        t0 = time.monotonic()
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else None
        if r.returncode != 0 or not result or not result["correct"]:
            failures.append({"seed": s, "code": r.returncode, "stderr": r.stderr[-2000:]})
        if result:
            runs.append({"seed": s, "wall_s": wall, **result})
        print(f"seed {s}: exit {r.returncode} wall {wall:.1f}s " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in sorted((result or {}).get("metrics", {}).items())
                       if a.trace == "0"), file=sys.stderr)
    names = sorted({k for r in runs for k in r["metrics"]})
    summary = {}
    for k in names:
        vals = [r["metrics"][k]["value"] for r in runs if k in r["metrics"]]
        if len(vals) >= 2:
            summary[k] = summarise(vals)
            summary[k]["unit"] = runs[0]["metrics"][k]["unit"]
            summary[k]["bound"] = bounds.get(k)
    out = {"workload": a.workload, "seconds": seconds, "trace": a.trace,
           "seeds": [r["seed"] for r in runs], "wall_s": [round(r["wall_s"], 1) for r in runs],
           "failures": failures, "metrics": summary}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(out, fh, indent=1)
    for k, v in summary.items():
        b = v["bound"]
        flag = "" if b is None or v["spread"] is None else (" ok" if v["spread"] < b / 3 else " WIDE")
        print(f"{k:40s} median {v['median']:.5g} {v['unit']:8s} q1 {v['q1']:.5g} q3 {v['q3']:.5g} "
              f"spread {v['spread'] if v['spread'] is None else round(v['spread'], 4)} bound {b}{flag}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
