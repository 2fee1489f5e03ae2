#!/usr/bin/env python3
"""The repo's benchmark: one command that builds the program, generates
seeded inputs, runs one workload in a fresh JVM, checks every output and
prints every metric by name with its unit.

Usage (from the checkout root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 0|1

Workloads (see perfbench/README.md for why each was chosen):
  sync_oneshot  SyncJob.syncAuto on one seeded dump pair, repeated
  corpus_ops    the q88 corpus entry through the noop sink, repeated

With --trace 0 the result carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer metrics, and the span file
is written under .bench_build/runs/. The last stdout line is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Everything the benchmark writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402

# Dump generator version; bump with perfbench.Gen.Version.
GEN_VERSION = 1

# Untimed warm-up operations after the cold first one, so that the timed
# ones run past the JIT warm-up, and the least number of timed ones.
WARMUP = {"sync_oneshot": 5, "corpus_ops": 2}
MIN_TIMED = {"sync_oneshot": 3, "corpus_ops": 3}


def executor_cores():
    """Spark's task threads: half the cores, at least one. The other half
    is left to the JIT compiler, the collector and the driver thread; with
    a task thread on every core the JIT falls behind and the warm
    operations keep speeding up for ten and more of them (see README)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)

# Scale factor of the generated inputs per workload.
SCALES = {
    "default": {"sync_oneshot": 0.01, "corpus_ops": 0.01},
    "tiny": {"sync_oneshot": 0.001, "corpus_ops": 0.001},
}
DEADLINE_S = 170  # the whole run, build excepted, must end within 180 s

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java_cmd(classes, tmp, *args):
    """A fixed young generation and a fixed marking threshold make G1
    collect at the same points of every run, so that the heap left live
    after each collection (heap_peak_mb) does not depend on how G1 sized
    the young generation or when it started a marking cycle."""
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + ["-Xmx3g", "-Xmn256m", "-XX:-G1UseAdaptiveIHOP",
                                f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp",
            classes + os.pathsep + build.spark_jars()] + list(args))


def inputs(workload, seed, scale, classes, tmp):
    """Generated inputs of one seed, cached until the seed changes."""
    sf = SCALES[scale][workload]
    gen_version = corpus.VERSION if workload == "corpus_ops" else GEN_VERSION
    name = f"{workload}-sf{sf}-s{seed}-g{gen_version}"
    data = os.path.join(OUT, "data", name)
    if os.path.exists(os.path.join(data, "DONE")):
        return data
    parent = os.path.dirname(data)
    if os.path.isdir(parent):  # keep one seed per workload on disk
        for d in os.listdir(parent):
            if d.startswith(workload + "-"):
                shutil.rmtree(os.path.join(parent, d))
    t0 = time.time()
    if workload == "corpus_ops":
        corpus.generate(data, seed, sf)
    else:
        subprocess.run(java_cmd(classes, tmp, "perfbench.Gen", data, str(seed), str(sf)),
                       check=True, stdout=sys.stderr)
    open(os.path.join(data, "DONE"), "w").close()
    log(f"generated {name} in {time.time() - t0:.1f} s")
    return data


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec


def check_recorded(workload, scale, seed, ops, record):
    """Output hashes must equal those recorded for this seed, if any, and
    agree between the operations of the run."""
    path = os.path.join(HERE, "recorded.json")
    rec = {}
    if os.path.exists(path):
        with open(path) as f:
            rec = json.load(f)
    known = rec.get(workload, {}).get(scale, {}).get(str(seed), {})
    new = {}
    for o in ops:
        if o["error"] is not None or not o["hash"]:
            continue
        want = known.get(o["key"]) or new.setdefault(o["key"], o["hash"])
        if o["hash"] != want:
            where = "recorded for seed" if o["key"] in known else "of the first operation of seed"
            o["error"] = f"output hash of {o['key']} differs from the one {where} {seed}"
    if record and new:
        rec.setdefault(workload, {}).setdefault(scale, {}).setdefault(str(seed), {}).update(new)
        with open(path, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALES["default"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="default",
                    help="input size; 'tiny' (sf0.001) is the self-test's")
    ap.add_argument("--record", action="store_true",
                    help="record this seed's output hashes in perfbench/recorded.json")
    a = ap.parse_args()
    spec = metric_specs()

    os.makedirs(OUT, exist_ok=True)
    try:
        classes = build.build(ROOT, OUT)
    except (RuntimeError, subprocess.CalledProcessError) as e:
        sys.exit(f"build failed: {e}")
    started = time.time()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    data = inputs(a.workload, a.seed, a.scale, classes, tmp)

    work = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res_file = os.path.join(work, "result.json")
    cores = executor_cores()
    cmd = java_cmd(classes, tmp, "perfbench.Main", "--workload", a.workload,
                   "--data", data, "--work", work, "--out", res_file,
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--cores", str(cores), "--warmup", str(WARMUP[a.workload]),
                   "--min-timed", str(MIN_TIMED[a.workload]))
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit("benchmark JVM did not finish in time; see " + jlog.name)
    if code != 0 or not os.path.exists(res_file):
        sys.exit(f"benchmark JVM failed (exit {code}); see {jlog.name}")
    with open(res_file) as f:
        res = json.load(f)
    ops = res["ops"]

    if a.workload == "corpus_ops":
        results = os.path.join(work, "results")
        with open(os.path.join(results, "oracle_sql.json")) as f:
            sqls = json.load(f)
        want = corpus.oracle_digests(data, sqls)
        got = corpus.result_digests(results, sorted(sqls))
        bad = [n for n in sqls if want[n] != got[n]]
        for o in ops:
            if bad and o["error"] is None:
                o["error"] = f"results differ from the DuckDB oracle: {bad}"
    check_recorded(a.workload, f"sf{SCALES[a.scale][a.workload]}", a.seed, ops, a.record)

    checked = ops + res["extra"]
    failed = sum(1 for o in checked if o["error"] is not None)
    for o in checked:
        if o["error"] is not None:
            log(f"{o.get('name', 'op %s' % o.get('i'))} failed: {o['error']}")
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        if m["name"] not in res["metrics"]:
            sys.exit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}

    info = res["info"]
    print(f"workload {a.workload}, seed {a.seed}, scale {a.scale}, "
          f"{cores} task threads on {len(os.sched_getaffinity(0))} cores")
    print(f"first (cold) op: {res['metrics'].get('first_op_s')} s; "
          f"warm-up ops (s): {info['warmup_op_s']}; timed ops (s): {info['timed_op_samples']}")
    if "entry_median_s" in info:
        print(f"per-entry medians over the timed passes (s): {info['entry_median_s']}")
    for n, m in metrics.items():
        print(f"  {n} = {m['value']:.6g} {m['unit']}")
    if a.trace:
        print(f"spans: {os.path.join(work, 'spans.json')}")
        base = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t0", "result.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["metrics"]
            for m in spec["end_to_end"]:
                n = m["name"]
                if n in untraced and n in res["metrics"]:
                    print(f"  tracing overhead {n}: {res['metrics'][n] - untraced[n]:+.6g} "
                          f"{m['unit']} (traced {res['metrics'][n]:.6g}, untraced {untraced[n]:.6g})")
        else:
            print("  tracing overhead: no untraced run of this seed in this checkout")
    print(json.dumps({"correct": failed == 0, "attempted": len(checked),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
