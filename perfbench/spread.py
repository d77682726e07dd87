#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> [--workload <name> ...]
        [--seeds 1-10] [--seconds 15] [--trace 0]

Runs perfbench/run.py once per seed (one at a time) and prints, per metric,
the median of the runs and the distance between the first and third
quartiles (statistics.quantiles, n=4) as a share of the median, next to the
metric's bound in BENCHMARK.json. Results go to
.bench_build/perfbench/spread-<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    ok = True
    for w in args.workload:
        runs = []
        for s in seeds(args.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(seconds),
                                "--trace", str(args.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = p.stdout.strip().splitlines()
            last = json.loads(lines[-1]) if lines else {}
            runs.append({"seed": s, "rc": p.returncode, "result": last})
            print("%s seed %d rc %d %s" % (w, s, p.returncode, json.dumps(last.get("metrics"))),
                  flush=True)
            ok &= p.returncode == 0 and last.get("correct") is True
        names = sorted({k for r in runs for k in r["result"].get("metrics", {})})
        table = {}
        for k in names:
            vals = [r["result"]["metrics"][k]["value"] for r in runs
                    if k in r["result"].get("metrics", {})]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            table[k] = {"median": med, "iqr_share": (q[2] - q[0]) / med if med else None,
                        "bound": bounds.get(k), "n": len(vals)}
            print("  %-22s median %12.4f  iqr/median %.4f  bound %s" %
                  (k, med, table[k]["iqr_share"] or 0.0, bounds.get(k)))
        out = os.path.join(ROOT, ".bench_build", "perfbench", "spread-%s.json" % w)
        with open(out, "w") as fh:
            json.dump({"workload": w, "seconds": seconds, "runs": runs, "spread": table},
                      fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
