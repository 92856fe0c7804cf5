#!/usr/bin/env python3
"""Traced-run procedure: run every workload untraced and traced on the same
seeds, then write each layer's self time and the tracing overhead.

    python3 perfbench/trace_report.py --seeds 1-3 --out perfbench/results/trace.md

Untraced and traced runs alternate per seed. Self time is a span's duration
less the time its child spans cover; the table gives its median per call and
its share of all self time in the traced runs. The overhead is the traced
median of each end-to-end metric against the untraced median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

from sweep import seeds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPORTS = os.path.join(ROOT, ".bench_build", "reports")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-3")
    ap.add_argument("--workloads", help="comma list; default all in BENCHMARK.json")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    e2e = [m["name"] for m in bench["end_to_end"]]
    lines = [f"# Traced-run breakdown ({os.cpu_count()} cores, {bench['run_seconds']} s runs, "
             f"seeds {a.seeds})", ""]
    data = {}
    for w in workloads:
        reports = {"0": [], "1": []}
        for s in seeds(a.seeds):
            for trace in ("0", "1"):
                cmd = bench["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                          str(bench["run_seconds"]), "--trace", trace]
                r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                if r.returncode != 0:
                    sys.exit(f"{w} seed {s} trace {trace} failed:\n{r.stderr[-2000:]}")
                with open(os.path.join(REPORTS, f"{w}-{s}-trace{trace}.json")) as fh:
                    reports[trace].append(json.load(fh))
        self_s = {}
        for rep in reports["1"]:
            for name, xs in rep["self_s"].items():
                self_s.setdefault(name, []).extend(xs)
        total = sum(sum(xs) for xs in self_s.values()) or 1.0
        lines += [f"## {w}", "", "| span | calls | self p50 (ms) | share of self time |",
                  "|---|---:|---:|---:|"]
        for name, xs in sorted(self_s.items(), key=lambda kv: -sum(kv[1])):
            lines.append(f"| `{name}` | {len(xs)} | {statistics.median(xs) * 1e3:.1f} | "
                         f"{sum(xs) / total:.1%} |")
        lines += ["", "| metric | untraced median | traced median | overhead |", "|---|---:|---:|---:|"]
        over = {}
        for k in e2e:
            u = statistics.median(r["metrics"][k]["value"] for r in reports["0"])
            t = statistics.median(r["metrics"][k]["value"] for r in reports["1"])
            over[k] = {"untraced": u, "traced": t, "overhead": (t - u) / u if u else None}
            lines.append(f"| `{k}` | {u:.5g} | {t:.5g} | {over[k]['overhead']:+.1%} |")
        lines.append("")
        data[w] = {"self_s": {k: {"calls": len(v), "p50_s": statistics.median(v), "sum_s": sum(v)}
                              for k, v in self_s.items()}, "overhead": over}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        fh.write("\n".join(lines))
    with open(os.path.splitext(a.out)[0] + ".json", "w") as fh:
        json.dump(data, fh, indent=1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
