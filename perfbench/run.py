#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload wm_cold|serve_warm|refresh \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source into .bench_build/ (with the Scala compiler the Spark
install at $SPARK_HOME ships) and writes the seeded inputs, derived from
the committed perfbench/data, there; later runs reuse both. The last stdout line is one JSON object: correct,
attempted, failed and metrics (the end-to-end metrics untraced, the
per-layer ones traced). A traced run also leaves its spans, plan census and
watermark stage table in .bench_build/traces/. See perfbench/README.md.
"""
import argparse
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

WORKLOADS = ("wm_cold", "serve_warm", "refresh")
REPLICA_FACTOR = 10  # wm_cold: 10 x the 2,000 sf0.1 vectors
SNAPSHOTS = 8        # refresh snapshots prepared per seed
# the JVM's own time past --seconds: setup (a cold build pass), one more
# unit of work begun before the seconds ran out, and the answer checks
JVM_ALLOWANCE_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit(f"perfbench: no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(dirs[0]):
        sys.exit("perfbench: run from the repository root (src/main/scala not found)")
    out = []
    for d in dirs:
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(root, build_dir):
    """Compile the engine and the benchmark; reuse the classes when no
    source changed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    os.makedirs(build_dir, exist_ok=True)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    t0 = time.time()
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built {len(srcs)} sources in {time.time() - t0:.1f}s")
    return classes


def inputs(data, workload, seed, factor):
    """Generate (or reuse) the run's inputs; returns JVM args and a
    description of what was generated."""
    args = ["--base", gen.BASE]
    dirs = [gen.BASE]
    if workload == "wm_cold":
        rep = os.path.join(data, f"replica-x{factor}-seed{seed}")
        gen.replica(rep, seed, factor)
        args += ["--replica", rep]
        dirs.append(rep)
    else:
        # serve_warm and refresh check their answers on the base
        args += ["--golden", os.path.join(HERE, "golden.json")]
        if workload == "refresh":
            snaps = gen.snapshots(os.path.join(data, f"snapshots-seed{seed}"), seed, SNAPSHOTS)
            args += ["--snapshots", ",".join(snaps)]
            dirs += snaps
    desc = {os.path.basename(d): dict(zip(("rows", "bytes"), gen.describe(d)))
            for d in dirs}
    return args, desc


def run_jvm(classes, work, args, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Main"] + args
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on an interrupt: the JVM must not outlive the run
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(logf) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--factor", type=int, default=REPLICA_FACTOR,
                    help="wm_cold replica factor (the pipeline uses the default)")
    ap.add_argument("--mode", default="run", choices=("run", "golden"),
                    help="golden: dump the mix's answers for golden.py")
    o = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    classes = build(root, build_dir)
    data = os.path.join(build_dir, "data")
    args, desc = inputs(data, o.workload, o.seed, o.factor)
    for name, d in desc.items():
        log(f"input {name}: {d['rows']} rows, {d['bytes']} bytes")
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    traces = os.path.join(build_dir, "traces")
    os.makedirs(traces, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    args += ["--mode", o.mode, "--workload", o.workload, "--seed", str(o.seed),
             "--seconds", str(o.seconds), "--trace", str(o.trace), "--work", work,
             "--out", out, "--cpus", str(cpus),
             "--trace-out", os.path.join(traces, f"{o.workload}-seed{o.seed}.json")]
    try:
        run_jvm(classes, work, args, o.seconds + JVM_ALLOWANCE_S)
        with open(out) as f:
            result = json.load(f) if o.mode == "run" else f.read()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if o.mode == "golden":
        print(result)
        return
    for k in ("info", "failures"):
        log(f"{k}: {json.dumps(result[k])}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    chosen = result["per_layer" if o.trace else "end_to_end"]
    metrics = {}
    for m in declared["per_layer" if o.trace else "end_to_end"]:
        if m["name"] not in chosen:
            sys.exit(f"perfbench: the run did not measure {m['name']}")
        metrics[m["name"]] = {"value": chosen[m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
