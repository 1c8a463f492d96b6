#!/usr/bin/env python3
"""Runs the benchmark once per seed and prints, per end-to-end metric, the
median, the quartiles and the quartile spread as a share of the median
(the steadiness figure BENCHMARK.json's bounds are checked against).

    python3 perfbench/spread.py --workload school_scale --seeds 1-10 [--out runs.jsonl]

Run it from the root of a checkout, like run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit("seed %d failed (exit %d)" % (seed, r.returncode))
        result = json.loads(r.stdout.strip().splitlines()[-1])
        if args.out:
            info = [json.loads(l) for l in r.stdout.strip().splitlines()[:-1]
                    if l.startswith("{")]
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    "info": info, "result": result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print("seed %d: %s" % (seed, " ".join(
            "%s=%.4g" % (n, m["value"]) for n, m in result["metrics"].items())), flush=True)
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        print("%-16s median %-10.4g q1 %-10.4g q3 %-10.4g spread %.3f%s" % (
            name, med, q1, q3, spread,
            "" if bound is None else "  (bound %.2f, a third %.3f)" % (bound, bound / 3)))


if __name__ == "__main__":
    main()
