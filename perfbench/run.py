#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Builds the engine and the harness
from source on first use (into $CARGO_TARGET_DIR, default .bench_build),
generates the workload's inputs from the seed, runs the workload in a fresh
JVM and prints, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp(root):
    """Hash of every file the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt (offline) and record the runtime classpath. Holds a
    lock, so concurrent runs in one checkout build once."""
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(root, out)


def _build(root, out):
    stamp_file = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=out)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=f, stderr=subprocess.STDOUT,
                            timeout=BUILD_TIMEOUT_S).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ".jar" in ln and not ln.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (rc={rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)

    run_dir = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inputs = os.path.join(run_dir, "in")
        sizes = gen.generate(inputs, a.seed, a.workload)
        sizes_file = os.path.join(run_dir, "inputs.tsv")
        with open(sizes_file, "w") as f:
            for name, s in sorted(sizes.items()):
                f.write(f"{name}\t{s['rows']}\t{s['bytes']}\n")
        cores = min(4, len(os.sched_getaffinity(0)))
        jvm = (["java", "-Xmx2g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
                "-Dspark.callstack.depth=200",
                f"-Dspark.local.dir={run_dir}/spark-local",
                f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
                f"-Djava.io.tmpdir={run_dir}/tmp",
                f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
               + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS])
        os.makedirs(os.path.join(run_dir, "tmp"))
        trace_out = os.path.join(out, "trace", f"{a.workload}-s{a.seed}-t{a.trace}.spans.jsonl")
        log = os.path.join(out, f"{a.workload}-s{a.seed}-t{a.trace}.log")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--in", inputs, "--work", os.path.join(run_dir, "work"),
                "--trace-out", trace_out, "--cores", str(cores), "--inputs", sizes_file,
                "--launch-ms", str(int(time.time() * 1000))]
        with open(log, "w") as err:
            p = subprocess.Popen(jvm + ["-cp", classpath, "graft.perfbench.Main"] + args,
                                 stdout=subprocess.PIPE, stderr=err, text=True,
                                 start_new_session=True)
            try:
                stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log}")
        lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not lines:
            fail(f"workload exited with {p.returncode}, see {log}")
        res = json.loads(lines[-1])
        values = res["values"]
        if set(values) - set(wanted):
            fail(f"metrics not in BENCHMARK.json: {sorted(set(values) - set(wanted))}")
        if a.trace:
            # a layer this workload never calls reads 0 (see README.md)
            values = {k: values.get(k, 0.0) for k in wanted}
        elif set(values) != set(wanted):
            fail(f"end-to-end metrics not measured: {sorted(set(wanted) - set(values))}")
        missing = [k for k, v in values.items() if v is None]
        if missing:
            fail(f"no value measured for {missing}")
        print(json.dumps({
            "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: {"value": values[k], "unit": wanted[k]} for k in sorted(wanted)}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
