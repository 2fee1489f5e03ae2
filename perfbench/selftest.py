#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

Usage (from the checkout root): python3 perfbench/selftest.py

Runs every workload briefly, untraced and traced, and asserts that each
run exits 0, prints every metric of BENCHMARK.json with its unit and has
no failed operation. Then checks that the benchmark refuses to run, with
a non-zero exit and no result line, in a directory that holds only
BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, workload, trace):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", "1",
                        "--trace", str(trace), "--scale", "tiny"],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(ROOT, w["name"], trace)
            assert p.returncode == 0, f"{w['name']} trace {trace}: exit {p.returncode}\n{p.stderr[-2000:]}"
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                assert got is not None, f"{w['name']}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']}"
                assert isinstance(got["value"], (int, float)), f"{m['name']}: {got}"
            assert set(res["metrics"]) == {m["name"] for m in spec[key]}
            print(f"ok {w['name']} trace {trace}: {res['attempted']} ops, "
                  f"{len(res['metrics'])} metrics, error rate 0")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bare, spec["workloads"][0]["name"], 0)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    shutil.rmtree(bare)
    print("ok: without the program's sources the benchmark exits", p.returncode,
          "and prints no result")


if __name__ == "__main__":
    main()
