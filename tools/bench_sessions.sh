#!/bin/bash
# Full-catalog bench sessions, back to back on the current build: for
# each session label a cpu_probe record (box state), one
# `runMain graft.Bench` writing BENCH_<tag>_session<label>.json, and a
# final probe after the last session. Probe records go to
# BENCH_<tag>_cpuprobe.jsonl, labelled <label>-pre / <last>-post.
#
# Usage: SPARK_GRAFT_SF_DIR=<fixture dir> tools/bench_sessions.sh <tag> <session>...
#   e.g. SPARK_GRAFT_SF_DIR=.../sf0.1 tools/bench_sessions.sh r18 A B
set -euo pipefail
if [ $# -lt 2 ]; then
  echo "usage: SPARK_GRAFT_SF_DIR=<fixture dir> $0 <tag> <session>..." >&2
  exit 1
fi
: "${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the fixture directory}"
export SPARK_GRAFT_SF_DIR
tag=$1
shift
cd "$(dirname "$0")/.."
mkdir -p target

probe() {
  python3 tools/cpu_probe.py | sed "s/{/{\"session\": \"$1\", /" >> "BENCH_${tag}_cpuprobe.jsonl"
}

for s in "$@"; do
  echo "=== session $s start $(date -u +%H:%M:%S) load=$(cut -d' ' -f1 /proc/loadavg) ==="
  probe "$s-pre"
  SPARK_GRAFT_BENCH_OUT="BENCH_${tag}_session$s.json" \
    sbt "runMain graft.Bench" > "target/bench_${tag}_session$s.log" 2>&1
  echo "=== session $s done  $(date -u +%H:%M:%S) ==="
done
probe "${*: -1}-post"
echo "SESSIONS COMPLETE: $tag $*"
