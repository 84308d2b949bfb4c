#!/usr/bin/env python3
"""Benchmark command: one workload, one fresh JVM, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and the
harness with sbt (build time is in no metric); later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed under
`perfbench/.work/`. The harness (harness/, a JVM) runs the timed pass and
writes its records; this script turns them into metrics, checks the
program's outputs and prints, as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. See README.md for the workloads, metrics and noise controls.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import check as chk  # noqa: E402
import gen_osm  # noqa: E402
import gen_tables  # noqa: E402

JVM_TIMEOUT_S = 170
# A fixed heap with a fixed young generation: resident memory then follows
# what the program keeps (old generation, caches), not the collector's
# sizing decisions.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def queries(name):
    with open(os.path.join(BENCH, "queries", name + ".txt")) as f:
        return [l.split("#")[0].strip() for l in f if l.split("#")[0].strip()]


# name -> how to make its inputs: the query list and its tables' scale
# factor, or the OSM extract sizes in nodes. Warm-up inputs come from
# another seed.
WORKLOADS = {
    "osm_wrangle": {"kind": "osm", "extracts": [600, 900, 1200, 1800], "warm": 1000,
                    "warm_passes": 4, "min_ops": 48},
    "query_floor": {"kind": "query", "list": "query_floor", "sf": 0.01, "warm_sf": 0.001,
                    "warm_passes": 2, "min_ops": 100},
}
# The self-test's tiny inputs: same operations, smallest inputs.
TINY = {"osm_wrangle": {"extracts": [300, 600], "warm": 200},
        "query_floor": {"sf": 0.001}}
WARM_SEED_OFFSET = 1_000_003


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "harness", "build.sbt"),
             os.path.join(BENCH, "harness", "project", "build.properties"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compiles program and harness; returns the harness's runtime classpath."""
    for need in ["build.sbt", os.path.join("src", "main", "scala")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"[perfbench] no program to build: {need} is missing under {ROOT}")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(bdir, exist_ok=True)
    log("building program and harness with sbt")
    # Resolve from the local caches only: the build must not need a network.
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(BENCH, "harness"), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL, env=env)
    lines = p.stdout.strip().splitlines()
    harness_classes = os.path.join(BENCH, "harness", "target")
    cp = [l for l in lines if l.startswith(harness_classes)]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("[perfbench] build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


# ---------------------------------------------------------------- inputs

def make_inputs(workload, spec, seed, dest):
    """Generates the workload's inputs; returns (harness args, osm truth)."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    warm_seed = seed + WARM_SEED_OFFSET
    if spec["kind"] == "query":
        data, warm = os.path.join(dest, "data"), os.path.join(dest, "warm")
        gen_tables.write(data, spec["sf"], seed)
        gen_tables.write(warm, spec["warm_sf"], warm_seed)
        return ["--kind", "query", "--queries", ",".join(queries(spec["list"])),
                "--data", data, "--warm-data", warm], None
    truth, paths = {}, []
    for i, n in enumerate(spec["extracts"]):
        path = os.path.join(dest, f"city{i}_{n}.osm")
        truth[f"city{i}_{n}"] = gen_osm.write(path, n, seed)
        paths.append(path)
    warm = os.path.join(dest, "warm.osm")
    gen_osm.write(warm, spec["warm"], warm_seed)
    return ["--kind", "osm", "--extracts", ",".join(paths), "--warm-extract", warm], truth


# ---------------------------------------------------------------- run

def run_jvm(classpath, args, out, work, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           JVM_MEMORY + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main"] + args +
           ["--out", out, "--work", work, "--t0-ms", str(int(time.time() * 1000))])
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"[perfbench] harness exceeded {timeout} s; see {out}/jvm.log")
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"[perfbench] harness exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def end_to_end(res):
    walls = [o["wall_s"] for o in res["ops"] if o["ok"]] or [0.0]
    q = statistics.quantiles(walls, n=4) if len(walls) > 1 else walls * 3
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median(r["wall_s"] for r in res["rounds"]), "s"),
        "cpu_s": (statistics.median(r["cpu_s"] for r in res["rounds"]), "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_p75_s": (q[2], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


# Per-layer metrics: name -> unit. Summed over a round's operations (the
# median round), except the peaks, which are maxima over operations, and
# the set-up ones, which cover JVM start to the end of the warm-up.
LAYER = {
    "construct.wall_s": "s", "construct.jobs": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.idle_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.peak_task_mem_mb": "MB", "exec.rows_out": "count", "exec.input_mb": "MB",
    "exec.output_mb": "MB", "exec.cores_busy": "cores",
    "functions.codegen_compile_s": "s", "functions.codegen_classes": "count",
    "functions.setup_codegen_compile_s": "s", "functions.setup_codegen_classes": "count",
    "Hints.cached_mb": "MB", "Hints.leaves": "count",
}
PEAKS = {"exec.peak_task_mem_mb", "Hints.cached_mb", "Hints.leaves"}
SETUP = {"functions.setup_codegen_compile_s": "compile_s",
         "functions.setup_codegen_classes": "classes"}


def per_layer(records, res):
    rounds = sorted({r["round"] for r in records})
    per_round = []
    for rd in rounds:
        rs = [r for r in records if r["round"] == rd]
        m = {k: (max if k in PEAKS else sum)(r[k] for r in rs)
             for k in LAYER if k != "exec.cores_busy" and k not in SETUP}
        m["exec.cores_busy"] = m["exec.task_run_s"] / m["exec.wall_s"] if m["exec.wall_s"] else 0.0
        m.update({k: res["setup_codegen"][v] for k, v in SETUP.items()})
        per_round.append(m)
    return {k: (statistics.median(m[k] for m in per_round), u) for k, u in LAYER.items()}


def trace_problems(records):
    """Two totals reached apart must agree: tasks cannot run longer than the
    cores allow inside the operation's SQL execution spans."""
    return [f"{r['op']} round {r['round']}: exec.task_run_s {r['exec.task_run_s']:.3f} > "
            f"{r['exec.cores']} cores x exec.wall_s {r['exec.wall_s']:.3f}"
            for r in records
            # executorRunTime and span ends are whole milliseconds: allow one per task
            if r["exec.task_run_s"] > r["exec.cores"] * r["exec.wall_s"] + r["exec.tasks"] * 1e-3]


def check(spec, res, truth, data_dir, records):
    ok_names = {o["name"] for o in res["ops"] if o["ok"]}
    if spec["kind"] == "query":
        c = res["check"]
        names = [q for q in queries(spec["list"]) if q in ok_names and q not in c["failed"]]
        return ([f"{q}: check write failed" for q in c["failed"]] +
                chk.check_queries(os.path.join(data_dir, "data"), c["dir"], names, c["oracle"]))
    problems = []
    for tag, t in truth.items():
        written = None
        if records is not None:
            written = [r["exec.rows_out"] for r in records if r["op"] == f"processMap/{tag}"]
        problems += chk.check_osm(tag, t, res["check"][tag], written)
    return problems


def run(workload, seed, seconds, trace, spec=None):
    spec = dict(WORKLOADS[workload], **(spec or {}))
    classpath = build()
    run_dir = os.path.join(WORK, "runs", workload)
    inputs, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    t0 = time.monotonic()
    args, truth = make_inputs(workload, spec, seed, inputs)
    t1 = time.monotonic()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(classpath, args + ["--seconds", str(seconds), "--min-ops", str(spec["min_ops"]),
                                     "--warm-passes", str(spec["warm_passes"]),
                                     "--trace", str(trace)], out, os.path.join(run_dir, "work"))
    t2 = time.monotonic()
    records = None
    if trace:
        with open(os.path.join(out, "trace.jsonl")) as f:
            records = [json.loads(l) for l in f if l.strip()]
    problems = check(spec, res, truth, inputs, records)
    if records is not None:
        problems += trace_problems(records)
    log(f"{workload}: inputs {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, checks "
        f"{time.monotonic() - t2:.1f} s")
    for p in problems[:30]:
        log("CHECK FAILED:", p)
    metrics = per_layer(records, res) if trace else end_to_end(res)
    result = {
        "correct": not problems,
        "attempted": len(res["ops"]),
        "failed": sum(1 for o in res["ops"] if not o["ok"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    return result, (res, truth, inputs, out)


def selftest():
    """Tiny inputs, all workloads, checks included; then one corrupted value
    in a star table and in a query's rows must each make the check fail."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    bad = []
    for w in WORKLOADS:
        spec = dict(WORKLOADS[w], **TINY[w], min_ops=1, warm_passes=1)
        result, (res, truth, inputs, out) = run(w, 7, 0, 1, spec)
        log(f"selftest {w}: correct={result['correct']} attempted={result['attempted']} "
            f"failed={result['failed']}")
        if not result["correct"] or result["failed"]:
            bad.append(f"{w}: clean run not correct")
            continue
        if WORKLOADS[w]["kind"] == "osm":
            tag = next(iter(truth))
            path = os.path.join(res["check"][tag]["star"], "nodes_tags")
            part = sorted(f for f in os.listdir(path) if f.endswith(".parquet") and
                          pq.read_metadata(os.path.join(path, f)).num_rows > 0)[0]
            t = pq.read_table(os.path.join(path, part))
            vals = t.column("value").to_pylist()
            vals[0] = vals[0] + "x"
            t = t.set_column(t.schema.get_field_index("value"), "value", pa.array(vals))
            pq.write_table(t, os.path.join(path, part))
            probs = chk.check_osm(tag, truth[tag], res["check"][tag])
        else:
            c = res["check"]
            q = next(n for n in queries(spec["list"]) if n in c["oracle"])
            path = os.path.join(c["dir"], q)
            part = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
            t = pq.read_table(os.path.join(path, part))
            col = t.column(0).to_pylist()
            col[0] = (col[0] + "x") if isinstance(col[0], str) else \
                (None if col[0] is not None else 1)
            t = t.set_column(0, t.schema.field(0), pa.array(col, t.schema.field(0).type))
            pq.write_table(t, os.path.join(path, part))
            probs = chk.check_queries(os.path.join(inputs, "data"), c["dir"], [q], c["oracle"])
        log(f"selftest {w}: corrupted output -> {len(probs)} problem(s): {probs[:1]}")
        if not probs:
            bad.append(f"{w}: corrupted output passed the check")
    for b in bad:
        log("SELFTEST FAILED:", b)
    log("selftest", "failed" if bad else "passed")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        ap.error("--workload is required")
    result, _ = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
