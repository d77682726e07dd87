#!/usr/bin/env python3
"""Repository benchmark: one workload per run, on one JVM at local[nproc].

    python3 perfbench/run.py --workload <readings_stream|cc_maintenance|ann_serving>
        --seed <n> --seconds <s> --trace <0|1> [--threads <n>]

Run from the repository root. Builds the engine and the benchmark from source
(perfbench/build.py), runs the workload, checks its outputs, and prints one
JSON object as the last line of stdout: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json (names and units are read from it); with --trace 1 they are
its per-layer metrics, measured with listeners attached, and the spans are
written beside the run record in .bench_build/perfbench/results/. Exits non-zero when an output check fails.
See perfbench/WORKLOADS.md for what each workload measures and why.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ behind in the checkout
import build  # noqa: E402

RUN_TIMEOUT_S = 170
WORKLOADS = ("readings_stream", "cc_maintenance", "ann_serving")

# End-to-end metrics: the same names on every workload, each taken as
# measured from the workload's own metric (source name, scale).
END_TO_END = {
    "readings_stream": {
        "op_cpu_ms": ("batch_cpu_ms", 1.0),
        "second_op_cpu_ms": ("passthrough_batch_cpu_ms", 1.0),
        "work_per_cpu_s": ("readings_per_cpu_s", 1.0),
    },
    "cc_maintenance": {
        "op_cpu_ms": ("epoch_cpu_mean_ms", 1.0),
        "second_op_cpu_ms": ("label_read_cpu_ms", 1.0),
        "work_per_cpu_s": ("docs_per_cpu_s", 1.0),
    },
    "ann_serving": {
        "op_cpu_ms": ("search_cpu_ms", 1.0),
        "second_op_cpu_ms": ("append_cpu_ms", 1.0),
        "work_per_cpu_s": ("queries_per_cpu_s", 1.0),
    },
}
for _w in END_TO_END.values():
    _w["setup_s"] = ("setup_s", 1.0)
    _w["retained_heap_mb"] = ("retained_heap_mb", 1.0)

# The Spark 4 JVM flags spark-submit would add (the root build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cp, args, work, out, seconds, jvm_flags):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += jvm_flags
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
            "--work", work, "--cache", os.path.join(build.OUT, "cache"), "--out", out]
    if args.threads:
        cmd += ["--threads", str(args.threads)]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        print("perfbench: run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--threads", type=int, default=0,
                    help="local[n] width (default: every core)")
    args = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print("perfbench: " + str(e), file=sys.stderr)
        return 2

    work = os.path.join(build.OUT, "work")
    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    jsa = os.path.join(build.ARCHIVES, args.workload + ".jsa")
    if not os.path.exists(jsa):
        # First run of the workload since the build: a short untimed run
        # loads the workload's classes and, as it exits, writes them to a
        # class-data archive. Every measured run maps the archive, so the
        # JVM and Spark start in seconds less and every run starts alike.
        os.makedirs(build.ARCHIVES, exist_ok=True)
        run_jvm(cp, args, work, os.path.join(build.OUT, "archive-run.json"), 1,
                ["-XX:ArchiveClassesAtExit=" + jsa])
    cds = ["-XX:SharedArchiveFile=" + jsa] if os.path.exists(jsa) else []
    tag = "%s-seed%d-trace%d%s" % (args.workload, args.seed, args.trace,
                                   "-t%d" % args.threads if args.threads else "")
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    t0 = time.time()
    rc = run_jvm(cp, args, work, out, args.seconds, cds)
    if rc is None or not os.path.exists(out):
        print("perfbench: run produced no record (exit %s)" % rc, file=sys.stderr)
        return 3
    rec = json.load(open(out))
    named = rec["metrics"]

    # A layer the workload never calls reports 0.
    bench = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    if args.trace:
        layers = rec["per_layer"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"]) or 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {}
        for m in bench["end_to_end"]:
            src, scale = END_TO_END[args.workload][m["name"]]
            v = named.get(src, {}).get("value")
            if v is None:
                print("perfbench: no value for %s (%s)" % (m["name"], src), file=sys.stderr)
                return 4
            metrics[m["name"]] = {"value": v * scale, "unit": m["unit"]}

    summary = {
        "workload": args.workload, "seed": args.seed, "wall_s": round(time.time() - t0, 1),
        "metrics": {k: "%.6g %s" % (v["value"], v["unit"]) for k, v in named.items()
                    if v["value"] is not None},
        "samples": rec["detail"].get("samples"),
        "load_sentinel_s": rec["load_sentinel_s"],
        "host_steal_share": rec.get("host_steal_share"),
        "checks": rec["checks"], "record": os.path.relpath(out, build.ROOT),
    }
    print("perfbench " + json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))
    return 0 if rec["correct"] and rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
