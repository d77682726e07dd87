#!/usr/bin/env python3
"""Alternated parent/change pairs of one perfbench workload.

    python3 tools/perf_pairs.py --parent <rev|dir> --workload <name>
        [--pairs 10] [--seed 1]

Runs the unchanged perfbench/run.py of each side, one untraced 20-second
run at a time. The change is this checkout's working tree; the parent is a
git rev, exported with `git archive` into a directory under the system temp
dir (kept, so a later call reuses its build), or a directory used as it is.
Pair i runs both sides on seed `--seed + i`, the parent first on even pairs
and the change first on odd ones, so a drift of the host's speed falls on
both sides alike.

Each run's `perfbench {...}` summary line on stdout gives the run's host
steal share and its load sentinel at the end of the run; both are printed
per run. A pair is
contended when either side's steal share is above 5%.

Prints, per metric, each side's median and quartiles, the change's median
delta, and the pairs the change won by the metric's direction in
BENCHMARK.json (lower or higher is better): once over all pairs and once
over the uncontended pairs only. A summary that includes a contended pair
is labelled CONTENDED: such a number is recorded as contended and is not
evidence. Then each side's runs that were not `correct` and its failed
operations. Exits 1 if any run was not correct.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STEAL_CONTENDED = 0.05


def checkout(ref):
    """A directory holding `ref`: the directory itself, or an export of the rev."""
    if os.path.isdir(ref):
        return os.path.abspath(ref)
    sha = subprocess.run(["git", "rev-parse", "--verify", ref + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    d = os.path.join(tempfile.gettempdir(), "perf_pairs-" + sha[:12])
    if not os.path.isdir(d):
        os.makedirs(d + ".part", exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d + ".part"], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit("perf_pairs: git archive %s failed" % ref)
        os.rename(d + ".part", d)
    return d


def run(d, workload, seed):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "20", "--trace", "0"],
                       cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {}
    rec = {}
    for line in lines:
        if line.startswith("perfbench "):
            try:
                rec = json.loads(line[len("perfbench "):])
            except ValueError:
                pass
    return {"rc": p.returncode, "correct": res.get("correct") is True,
            "failed": res.get("failed"),
            "steal": rec.get("host_steal_share"),
            "sentinel_end": (rec.get("load_sentinel_s") or {}).get("end"),
            "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()}}


def contended(r):
    """Unknown steal counts as contended: the run cannot show it was not."""
    return r["steal"] is None or r["steal"] > STEAL_CONTENDED


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summary(title, runs, idx, better):
    print("\n%s (%d pairs)" % (title, len(idx)))
    if not idx:
        return
    print("%-26s %-28s %-28s %8s %6s" % ("metric", "parent median (q1-q3)",
                                       "change median (q1-q3)", "delta", "wins"))
    names = [n for n in better if any(n in runs["change"][i]["metrics"] for i in idx)]
    for n in names:
        pairs = [(runs["parent"][i]["metrics"][n], runs["change"][i]["metrics"][n])
                 for i in idx
                 if n in runs["parent"][i]["metrics"] and n in runs["change"][i]["metrics"]]
        if not pairs:
            continue
        pq = quartiles(sorted(p for p, _ in pairs))
        cq = quartiles(sorted(c for _, c in pairs))
        sign = -1 if better[n] == "lower" else 1
        wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
        delta = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else float("nan")
        print("%-26s %-28s %-28s %+7.1f%% %3d/%d" % (
            n, "%.4g (%.4g-%.4g)" % (pq[1], pq[0], pq[2]),
            "%.4g (%.4g-%.4g)" % (cq[1], cq[0], cq[2]), delta, wins, len(pairs)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="git rev or directory")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    sides = {"parent": checkout(args.parent), "change": ROOT}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(sides[side], args.workload, seed)
            runs[side].append(r)
            print("pair %d seed %d %-6s rc %d correct %s failed %s steal %s sentinel_end %s %s" % (
                i, seed, side, r["rc"], r["correct"], r["failed"],
                "?" if r["steal"] is None else "%.3f" % r["steal"],
                "?" if r["sentinel_end"] is None else "%.3fs" % r["sentinel_end"],
                json.dumps({k: round(v, 3) for k, v in r["metrics"].items()})), flush=True)
    every = list(range(args.pairs))
    hot = [i for i in every if contended(runs["parent"][i]) or contended(runs["change"][i])]
    clean = [i for i in every if i not in hot]
    print("\ncontended pairs (steal above %.0f%% on either side): %s" % (
        STEAL_CONTENDED * 100, ", ".join(map(str, hot)) or "none"))
    summary("all pairs" + (": CONTENDED, recorded as contended, not evidence" if hot else ""),
            runs, every, better)
    summary("uncontended pairs" + ("" if clean else ": none, so every number above is contended"),
            runs, clean, better)
    bad = False
    for side in ("parent", "change"):
        rs = runs[side]
        not_ok = sum(1 for r in rs if not r["correct"])
        failed = sum(r["failed"] or 0 for r in rs)
        bad |= not_ok > 0
        print("%s: %d/%d runs correct, %d failed operations (%s)" % (
            side, len(rs) - not_ok, len(rs), failed, sides[side]))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
