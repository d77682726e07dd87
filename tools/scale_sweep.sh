#!/bin/bash
# Wall-clock scale sweep: runs Bench over query subsets at chosen corpus
# scales, one leg per argument, and writes each leg's last two Bench lines
# to OUT/<tag>.json (SPARK_GRAFT_REPS=1 — at these run lengths real work
# dominates, and growth RATIOS across scales use the same configuration so
# subset warmup inflation cancels).
#
#   tools/scale_sweep.sh OUT tag:sfdir:queries:timeout_s[:heap] ...
#
# e.g. `tools/scale_sweep.sh /tmp/sweep b4_1x:/root/testdata/sf0.1:q131:1200
# b4_100x:/tmp/sf100rel:q131:5400:48g`. `queries` is a SPARK_GRAFT_ONLY list
# (comma-separated). The leg lists of the archived sweeps are in SCALING.md
# ("Reproducing a sweep"). Stress corpora (/tmp/sf10salt, /tmp/sf10rel,
# /tmp/sf100x, /tmp/sf100rel) are built by tools/make_stress_corpus.py
# (textsalt = linear-regime near-dup: replicas share no shingles, embeddings
# rotate+sign-flip so all replicas stay distinct; rel = FK-consistent key
# offsets).
#
# Legs run in argument order: list them scale-ascending across families so
# an interrupted sweep still yields complete lower-scale curves. Run from a
# SEPARATE clone (REPO=...) while developing — each sbt invocation compiles
# the working tree it runs in.
set -u
if [ $# -lt 2 ]; then
  echo "usage: $0 OUT tag:sfdir:queries:timeout_s[:heap] ..." >&2
  exit 2
fi
REPO=${REPO:-/root/repo}
cd "$REPO"
OUT=$1; shift
mkdir -p "$OUT"

run() { # run <tag> <sfdir> <only> <timeout_s> [heap]
  # heap defaults to the build's 8g; the 100x legs pass 48g — q131's 60M-row
  # graph needs more execution memory than 8g under 32 threads (measured:
  # UNABLE_TO_ACQUIRE_MEMORY at 8g, clean at 48g on the 128 GiB box). Sizing
  # executor memory to the SF is the operative spill knob, not a workaround.
  local tag=$1 sfdir=$2 only=$3 to=$4 mem=${5:-8g}
  echo "=== $tag ($only @ $sfdir, $mem) ==="
  SPARK_GRAFT_SF_DIR=$sfdir SPARK_GRAFT_ONLY=$only SPARK_GRAFT_REPS=1 \
    SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=$mem timeout "$to" \
    sbt -batch "runMain graft.Bench" 2>"$OUT/$tag.err" | tail -2 > "$OUT/$tag.json"
  # report sbt/timeout's status, not tail's (ADVICE r9: no pipefail here)
  local rc=${PIPESTATUS[0]}
  # a timed-out leg records its budget so sweep_table renders DNF(>Ns)
  # instead of a bare DNF (ADVICE r10)
  if [ "$rc" = 124 ]; then
    echo "{\"dnf_timeout_s\": $to}" > "$OUT/$tag.json"
  fi
  echo "rc=$rc tail:"; cat "$OUT/$tag.json"
}

for leg in "$@"; do
  IFS=: read -r tag sfdir only to mem <<< "$leg"
  if [ -z "$tag" ] || [ -z "$sfdir" ] || [ -z "$only" ] || [ -z "$to" ]; then
    echo "bad leg '$leg' (want tag:sfdir:queries:timeout_s[:heap])" >&2
    exit 2
  fi
  run "$tag" "$sfdir" "$only" "$to" $mem
done

echo "=== sweep done ==="
