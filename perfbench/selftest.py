#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py            # all tests, about ten minutes
    python3 perfbench/selftest.py -k tamper  # one test by name

- the generator gives identical bytes for one seed and different bytes for another;
- every metric named in BENCHMARK.json is printed with its unit, in both trace modes;
- a tampered manifest value makes the command exit non-zero;
- a missing input counts as a failed operation, not a skipped one;
- without the program's sources the command fails without printing a result.
"""
import hashlib
import json
import os
import shutil
import subprocess
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "selftest")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def run(workload, seed, seconds=3, trace="0", work=None, phase=None, cwd=ROOT):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", trace]
    if work:
        cmd += ["--work", work]
    if phase:
        cmd += ["--phase", phase]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return r.returncode, result, r.stderr


def read(path):
    with open(path, "rb") as fh:
        return fh.read()


def tree_digest(top, subdirs):
    h = hashlib.sha256()
    for sub in subdirs:
        for d, _, files in sorted(os.walk(os.path.join(top, sub))):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, top).encode())
                h.update(read(p))
    return h.hexdigest()


def fresh(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    return d


class BenchmarkSelfTest(unittest.TestCase):

    def test_generator_is_seeded(self):
        for workload, inputs in (("wrm_ingest", ["raw", "warm_raw", "manifest.json"]),
                                 ("wrm_stream", ["stage", "manifest.json"])):
            digests = []
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                work = fresh(f"gen-{workload}-{name}")
                code, _, err = run(workload, seed, work=work, phase="gen")
                self.assertEqual(code, 0, err[-2000:])
                digests.append(tree_digest(work, [p for p in inputs if os.path.isdir(os.path.join(work, p))])
                               + hashlib.sha256(read(os.path.join(work, "manifest.json"))).hexdigest())
            self.assertEqual(digests[0], digests[1], f"{workload}: same seed, different inputs")
            self.assertNotEqual(digests[0], digests[2], f"{workload}: different seeds, same inputs")

    def test_every_metric_is_emitted_with_its_unit(self):
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            want = {m["name"]: m["unit"] for m in BENCH[key]}
            for w in BENCH["workloads"]:
                code, result, err = run(w["name"], 1, trace=trace)
                self.assertEqual(code, 0, err[-2000:])
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"])
                self.assertGreaterEqual(result["attempted"], 1)
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                self.assertEqual(got, want, f"{w['name']} trace {trace}")
                for k, v in result["metrics"].items():
                    self.assertIsInstance(v["value"], (int, float), k)

    def test_tampered_manifest_fails(self):
        def bump_rows(m):
            next(f for f in m["files"] if not f["aborted"])["rows"] += 1

        def bump_latest(m):
            sid = sorted(m["latest"])[0]
            m["latest"][sid]["bikes"] += 1

        for workload, tamper in (("wrm_ingest", bump_rows), ("wrm_dashboard", bump_latest),
                                 ("wrm_stream", bump_rows)):
            work = fresh(f"tamper-{workload}")
            code, _, err = run(workload, 3, work=work, phase="gen")
            self.assertEqual(code, 0, err[-2000:])
            path = os.path.join(work, "manifest.json")
            m = json.loads(read(path))
            tamper(m)
            with open(path, "w") as fh:
                json.dump(m, fh)
            code, result, _ = run(workload, 3, work=work, phase="run")
            self.assertNotEqual(code, 0, f"{workload}: tampered manifest passed")
            self.assertFalse(result["correct"])
            self.assertGreaterEqual(result["failed"], 1)

    def test_missing_input_is_a_failed_op(self):
        work = fresh("missing-input")
        code, _, err = run("wrm_ingest", 4, work=work, phase="gen")
        self.assertEqual(code, 0, err[-2000:])
        first = sorted(d for d in os.listdir(os.path.join(work, "raw")) if d.startswith("dt="))[0]
        shutil.rmtree(os.path.join(work, "raw", first))
        code, result, _ = run("wrm_ingest", 4, work=work, phase="run")
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertGreaterEqual(result["attempted"], result["failed"])

    def test_fails_without_the_program(self):
        bare = fresh("bare")
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, result, _ = run("wrm_ingest", 1, cwd=bare)
        self.assertNotEqual(code, 0)
        self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main(verbosity=2)
