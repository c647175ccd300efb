"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine
and the driver from the checkout's sources into `.bench_build/`; every
run then generates its inputs from the seed, starts one fresh JVM with
a fixed heap on that classpath, checks the program's outputs against
an independent computation (check.py), and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
driver records spans and listener events and the metrics are the
per-layer ones. Everything a run writes lives under
`.bench_build/runs/<run>/` and is removed when it ends.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = {"index-lifecycle": "lifecycle", "lookup-serving": "lookup"}
HEAP = "3g"
SETUPS = 3
JVM_TIMEOUT_S = 160
# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graft-bench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the classpath is built from."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "driver")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build graft and the driver once per source state; return the
    runtime classpath. No build tool runs inside a measured process."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building graft and the benchmark driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={BUILD}/sbt-global", "-Dsbt.server.forcestart=false",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=os.path.join(HERE, "driver"), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("graft-bench: build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def cpu_ticks():
    """Aggregate (total, steal) jiffies of this machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, input_bytes):
    passes = res["passes"]
    op_s = [s for p in passes for _, s, _ in p]
    return {
        "pass_s": (median([sum(s for _, s, _ in p) for p in passes]), "s"),
        "pass_cpu_s": (median([sum(c for _, _, c in p) for p in passes]), "s"),
        "op_p50_s": (median(op_s), "s"),
        "footprint_per_input_byte": (median(res["space_bytes"]) / input_bytes,
                                     "ratio"),
        "setup_s": (median(res["setup_s"]), "s"),
    }


def per_layer(res):
    op_s = sorted(s for p in res["passes"] for _, s, _ in p)
    p90 = statistics.quantiles(op_s, n=10)[-1] if len(op_s) >= 2 else 0.0
    units = {"_ms": "ms", "_s": "s", "_mb": "MB", "_bytes": "B",
             "_ratio": "ratio"}
    out = {}
    for name, v in list(res["layers"].items()) + [("client.op_p90_s", p90)]:
        unit = next((u for suf, u in units.items() if name.endswith(suf)),
                    "count")
        out[name] = (v, unit)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (debugging)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("graft-bench: no graft sources next to perfbench/ "
                         "(run from the root of a graft checkout)")
    cp = classpath()
    cpus = min(4, len(os.sched_getaffinity(0)))
    kind = WORKLOADS[a.workload]
    run = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    try:
        data = gen.generate(kind, a.seed, os.path.join(run, "data"))
        out = os.path.join(run, "out")
        os.makedirs(os.path.join(run, "tmp"))
        java = os.path.join(os.environ.get("JAVA_HOME", "/usr"), "bin", "java")
        cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
               f"-Djava.io.tmpdir={run}/tmp", f"-Dderby.system.home={run}",
               "-Dspark.ui.enabled=false"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "org.apache.spark.graftbench.Main",
                "--workload", a.workload, "--data", data,
                "--out", out, "--run", run, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", str(cpus),
                "--setups", str(SETUPS)]
        t0, ticks0 = time.time(), cpu_ticks()
        with open(os.path.join(run, "jvm.log"), "w") as jlog:
            p = subprocess.Popen(cmd, cwd=run, stdout=jlog, stderr=subprocess.STDOUT)
            try:
                p.wait(timeout=JVM_TIMEOUT_S)
            finally:
                if p.poll() is None:  # timed out or we were interrupted
                    p.kill()
                    p.wait()
        if p.returncode != 0:
            with open(os.path.join(run, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"graft-bench: driver exited with {p.returncode}")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        total, steal = (y - x for x, y in zip(ticks0, cpu_ticks()))
        log(f"{a.workload} seed={a.seed} local[{cpus}] heap={HEAP} "
            f"jvm={time.time() - t0:.1f}s rounds={res['extra']['rounds']} "
            f"cpu-steal={steal / max(total, 1):.0%}")
        problems = check.check(kind, data, out, res)
        for msg in problems:
            log(f"CHECK FAILED: {msg}")
        if a.trace:
            metrics = per_layer(res)
        else:
            metrics = end_to_end(res, check.input_bytes(data))
        for name, (v, unit) in metrics.items():
            print(f"{name:40s} {v:14.6g} {unit}")
        print(json.dumps({
            "correct": not problems,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
    finally:
        if not a.keep:
            shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    # a SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the run
    # directory removed by the `finally` blocks above
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    main()
