#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload per run, in one
single-process local[4] JVM.

    python3 perfbench/run.py --workload <mc_grid|catalog>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt (into `perfbench/target`, `target/` and
`.bench_build/`); later runs reuse the build until a source changes.
Each run works in a fresh directory under `.bench_build/runs/` (tables,
temp files, stored indexes, Spark scratch) and deletes it at the end.
The last line of standard output is the result JSON; `--trace 1` spans
are kept in `.bench_build/traces/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import report  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ["mc_grid", "catalog"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def sources_mtime():
    newest = 0.0
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]:
        if not os.path.exists(top):
            sys.exit(f"perfbench: missing {top}; run from a full checkout")
        for d, _, files in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Classpath of the engine plus the benchmark program, building when stale."""
    newest = sources_mtime()
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={BUILD}/tmp"
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def host_load():
    """1-minute load average and the cumulative CPU steal share."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    steal = cpu[7] if len(cpu) > 7 else 0
    return {"loadavg_1m": load, "steal_jiffies": steal, "total_jiffies": sum(cpu)}


def run_jvm(cp, args, run_dir):
    for d in ("tmp", "idx", "spark", "out"):
        os.makedirs(os.path.join(run_dir, d))
    data = os.path.join(run_dir, "data")
    shutil.copytree(os.path.join(HERE, "data"), data)
    for f in os.listdir(data):
        os.chmod(os.path.join(data, f), 0o644)
    out = os.path.join(run_dir, "out")
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(run_dir, "idx"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark"))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--out", out])
    log = os.path.join(run_dir, "jvm.log")
    launched_ms = time.time() * 1000.0
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    raw_path = os.path.join(out, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        sys.exit(f"perfbench: JVM run failed ({code})")
    with open(raw_path) as f:
        raw = json.load(f)
    raw["jvm_s"] = time.time() - launched_ms / 1e3
    t0 = time.time()
    failures = oracle.check(data, os.path.join(out, "results"), raw["oracle"],
                            os.path.join(BUILD, "oracle")) if raw["oracle"] else {}
    raw["oracle_s"] = time.time() - t0
    return raw, launched_ms, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec = report.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
    cp = build()
    load_start = host_load()
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    try:
        raw, launched_ms, failures = run_jvm(cp, args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end = host_load()
    jiffies = load_end["total_jiffies"] - load_start["total_jiffies"]
    host = {"loadavg_start": load_start["loadavg_1m"], "loadavg_end": load_end["loadavg_1m"],
            "steal_share": (load_end["steal_jiffies"] - load_start["steal_jiffies"]) / jiffies
            if jiffies else 0.0}
    for name, reason in sorted(failures.items()):
        print(f"[perfbench] wrong output: {name}: {reason}")
    for c in raw["checks"]:
        if not c["ok"]:
            print(f"[perfbench] check failed: {c['op']}: {c['detail']}")
    attempted, failed = report.counts(raw, failures)
    setup_s = (raw["setup_end_epoch_ms"] - launched_ms) / 1e3
    values = report.end_to_end(raw, setup_s)
    names = [m["name"] for m in spec["per_layer"]]
    if args.trace:
        values.update(report.per_layer(raw, names))
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = raw["spans"]
        selfs = report.self_times(spans)
        for s in spans:
            s["self_s"] = selfs[s["id"]]
        with open(os.path.join(traces, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"host": host, "spans": spans}, f)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": host,
                      "passes": len(raw["passes"]), "jvm_s": raw["jvm_s"], "oracle_s": raw["oracle_s"],
                      "failed_frac": failed / attempted,
                      "host_kernel_s": [raw["setup_host_s"]] + [p["host_s"] for p in raw["passes"]],
                      "pass_s": [p["wall_s"] for p in raw["passes"]], "op_s": report.op_times(raw)}))
    print(report.result_line(spec, values, failed == 0, attempted, failed, args.trace))


if __name__ == "__main__":
    main()
