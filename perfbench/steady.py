"""Steadiness command: run workloads repeatedly and report the spread.

    python3 perfbench/steady.py [--runs 10] [--seed0 1] [--trace 0]
                                [--workload NAME ...]

Runs `run.py` once per seed (seed0, seed0+1, ...) for each workload,
then prints, per end-to-end metric, the median, the quartiles
(`statistics.quantiles(n=4)`), the quartile spread as a share of the
median, and that spread against the metric's bound in BENCHMARK.json.
Also reports the failed share of attempted operations per workload.
Run from the root of a graft checkout.
"""

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--workload", action="append",
                    help="workload name; repeat for several (default: all)")
    a = ap.parse_args()
    names = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name in names:
        values, fails = {}, set()
        for seed in range(a.seed0, a.seed0 + a.runs):
            t0 = time.time()
            p = subprocess.Popen(
                bench["command"] + ["--workload", name, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            try:
                stdout, _ = p.communicate()
            finally:
                if p.poll() is None:  # let run.py stop its JVM
                    p.terminate()
                    p.wait()
            if p.returncode != 0:
                print(f"{name} seed {seed}: exit {p.returncode}", flush=True)
                continue
            res = json.loads(stdout.strip().splitlines()[-1])
            fails.add((res["failed"], res["attempted"]))
            print(f"{name} seed {seed}: {time.time() - t0:.0f}s correct="
                  f"{res['correct']} failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={m['value']:.4g}"
                             for k, m in res["metrics"].items()), flush=True)
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        shares = {f / n for f, n in fails}
        print(f"== {name}: failed share {sorted(shares)}")
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(k)
            note = f" bound {b} ({spread / b:.2f} of it)" if b else ""
            print(f"   {k:32s} median {med:.5g}  q1 {q1:.5g}  q3 {q3:.5g}  "
                  f"spread {spread:.3f}{note}")
        sys.stdout.flush()


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    main()
