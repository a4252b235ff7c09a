#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured window.

Usage (from the repository root):
  python3 perfbench/run.py --workload iter_loops --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (perfbench/build.sbt) when
the sources changed, generates the workload's inputs from the seed, runs
the harness (perfbench.Main) in one JVM on `local[nproc]`, checks the
outputs against the DuckDB oracle and the generators' known facts, and
prints one JSON line last on stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones from a run with the job listener attached.
Everything it writes stays under .bench_build/perfbench in the checkout.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout keeps only what the benchmark writes

import check  # noqa: E402
import gen_olympic  # noqa: E402
import gen_tables  # noqa: E402

ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "2g"
JVM_TIMEOUT_S = 165

# Units run in every pass, in a seed-shuffled order. Sizes are chosen so a
# warm pass takes a few seconds on 4 cores: the full benchmark (4 + 22 runs
# per workload, each a fresh JVM, plus two builds) must finish within an hour.
WORKLOADS = {
    # driver-bound iteration loops: eager localCheckpoint/count jobs in build
    "iter_loops": {"units": ["q113_pagerank", "q139_kcore", "q233_train_eval"],
                   "sf": 0.01, "warmup": 2},
    # both pipelines with parquet writes to local disk
    "etl_write": {"units": ["olympic", "curation"], "athletes": 10000,
                  "documents": 5000, "warmup": 2},
}
END_TO_END = {"wall_s": "s", "unit_geomean_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "build.wall_s": "s", "build.jobs": "count", "build.share": "ratio",
    "plan.wall_s": "s",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.busy": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "driver.gap_s": "s",
    "sources.input_mb": "MB", "sources.output_mb": "MB",
    "caches.release_s": "s", "caches.rdds_left": "count",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    """Digest of every file the build compiles, so a changed tree rebuilds."""
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "..", "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source digest; returns the
    runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st["digest"] == digest and all(os.path.exists(p) for p in st["classpath"].split(os.pathsep)):
            return st["classpath"], digest
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        fail("SPARK_HOME must name the Spark install whose jars/ the engine builds against", 3)
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed", 3)
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp, "build_s": time.time() - t0}, f)
    return cp, digest


def generate(workload, spec, seed, run_dir):
    """Write the workload's inputs under run_dir; returns (harness args,
    facts the check needs, input sizes)."""
    t0 = time.time()
    args, facts, sizes = {}, {}, {}
    if "sf" in spec:
        tables = os.path.join(run_dir, "tables")
        sizes = gen_tables.generate(tables, spec["sf"], seed)
        args["tables"] = tables
        facts["tables"] = tables
    else:
        olympic = os.path.join(run_dir, "olympic")
        facts["olympic"], sizes = gen_olympic.generate(olympic, spec["athletes"], seed)
        curation = os.path.join(run_dir, "curation")
        sizes["documents"] = gen_tables.write_curation_documents(curation, spec["documents"], seed)
        args.update(olympic=olympic, curation=curation)
        facts["curation"] = curation
    return args, facts, sizes, time.time() - t0


def quartiles(values):
    values = [v for v in values if v is not None]
    if not values:
        return None
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2], "n": len(values)}


def summarize(rec):
    """End-to-end and per-layer figures from the harness's raw record."""
    passes = rec["passes"]
    unit_medians = {}
    for u in rec["units"]:
        ok = [p["units"][u]["wall_s"] for p in passes if p["units"][u]["error"] is None]
        if ok:
            unit_medians[u] = statistics.median(ok)
    e2e = {
        "wall_s": quartiles([p["wall_s"] for p in passes]),
        "unit_geomean_s": {"median": math.exp(statistics.fmean(
            math.log(v) for v in unit_medians.values())) if unit_medians else None},
        "setup_s": {"median": rec["setup_s"]},
        "peak_rss_mb": {"median": rec["peak_rss_mb"]},
    }
    layers = {}
    if rec["trace"]:
        for k in PER_LAYER:
            if k in ("session.start_s", "session.warmup_s"):
                continue
            layers[k] = quartiles([p["per_layer"][k] for p in passes])
        layers["session.start_s"] = {"median": rec["session_start_s"]}
        layers["session.warmup_s"] = {"median": rec["warmup_s"]}
    return e2e, layers, unit_medians


def self_time_table(rec):
    """Per-phase self time per pass (medians), and what the phases leave
    uncovered: unit wall they miss and pass wall outside every unit."""
    rows = []
    passes = rec["passes"]
    for ph in ("build", "plan", "execute", "release", "unaccounted"):
        rows.append((f"unit.{ph}", statistics.median(
            sum(u[f"{ph}_s"] for u in p["units"].values()) for p in passes)))
    rows.append(("pass.between_units", statistics.median(
        p["wall_s"] - sum(u["wall_s"] for u in p["units"].values()) for p in passes)))
    wall = statistics.median(p["wall_s"] for p in passes)
    lines = [f"{'layer':<22}{'self_s/pass':>12}{'share':>8}"]
    lines += [f"{n:<22}{v:>12.4f}{v / wall:>8.1%}" for n, v in rows]
    lines.append(f"{'pass wall':<22}{wall:>12.4f}")
    return "\n".join(lines), dict(rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from the repository root")
    spec = WORKLOADS[a.workload]
    t_start = time.time()
    classpath, digest = build()

    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    records = os.path.join(WORK, "records")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(records, exist_ok=True)
    record_path = os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    for stale in glob.glob(record_path + "*"):
        os.remove(stale)
    try:
        args, facts, sizes, gen_s = generate(a.workload, spec, a.seed, run_dir)
        cores = len(os.sched_getaffinity(0))
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
            f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"cores={cores}", f"warmup={spec['warmup']}",
            f"units={','.join(spec['units'])}", f"out={os.path.join(run_dir, 'out')}",
            f"record={record_path}"] + [f"{k}={v}" for k, v in args.items()]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        jvm_log = os.path.join(run_dir, "jvm.log")
        with open(jvm_log, "w") as lf:
            try:
                p = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                   cwd=run_dir, timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"harness killed after {JVM_TIMEOUT_S} s", 5)
        if p.returncode != 0 or not os.path.exists(record_path):
            with open(jvm_log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            fail(f"harness exited with {p.returncode}", 4)
        with open(record_path) as f:
            rec = json.load(f)

        checks = check.run(rec, facts, os.path.join(run_dir, "out"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, layers, unit_medians = summarize(rec)
    table, self_times = self_time_table(rec)
    unit_runs = sum(len(p["units"]) for p in rec["warmup"] + rec["passes"])
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = unit_runs + len(checks)
    failed = len(rec["failures"]) + len(failed_checks)
    summary = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": bool(a.trace),
        "spec": spec, "input_rows": sizes, "input_gen_s": gen_s,
        "source_digest": digest, "env": rec["env"],
        "end_to_end": e2e, "per_layer": layers, "unit_median_s": unit_medians,
        "self_time_per_pass": self_times, "fail_ratio": failed / attempted,
        "failures": rec["failures"], "checks": checks,
        "run_s": time.time() - t_start,
    }
    if a.trace:
        untraced = []
        for f in glob.glob(os.path.join(records, f"{a.workload}-seed*-trace0.json.summary")):
            with open(f) as fh:
                untraced.append(json.load(fh)["end_to_end"]["wall_s"]["median"])
        if untraced:
            summary["tracing_overhead_s"] = e2e["wall_s"]["median"] - statistics.median(untraced)
    with open(record_path + ".summary", "w") as f:
        json.dump(summary, f, indent=1)

    log(f"{a.workload} seed={a.seed} cores={rec['env']['cores']} passes={len(rec['passes'])} "
        f"inputs={sizes} gen_s={gen_s:.2f}")
    for u, v in sorted(unit_medians.items()):
        log(f"  {u:<28}{v:8.3f} s")
    log("self time per pass:\n" + table)
    for c in failed_checks:
        log(f"CHECK FAILED {c['name']}: {c['detail']}")
    for fl in rec["failures"]:
        log(f"UNIT FAILED {fl['unit']} in {fl['pass']}: {fl['error']}")
    if "tracing_overhead_s" in summary:
        log(f"tracing overhead: {summary['tracing_overhead_s']:+.3f} s per pass")

    metrics = {}
    if a.trace:
        for k, unit in PER_LAYER.items():
            metrics[k] = {"value": layers[k]["median"], "unit": unit}
    else:
        for k, unit in END_TO_END.items():
            metrics[k] = {"value": e2e[k]["median"], "unit": unit}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
