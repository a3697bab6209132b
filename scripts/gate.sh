#!/bin/bash
# Oracle gate for one scale dir: dump <keys> (every key when none are
# given) with graft.Verify in a fresh JVM, then compare each dump
# against DuckDB with scripts/precheck.py. Exits with precheck's
# status: 0 iff every requested key was dumped and every oracled key
# matches. An unknown key fails Verify, and with it the gate.
#   scripts/gate.sh <sf-dir> <out-dir> [keys...]
# Verify runs outside sbt (scripts/run_main.sh), so SPARK_GRAFT_CPUS
# (default: the host's processors) and SPARK_DRIVER_MEM pass through.
# A spark.* conf reaches Verify's session as a JVM system property in
# JAVA_TOOL_OPTIONS, e.g. reliable lineage cuts and a bigger result limit:
#   JAVA_TOOL_OPTIONS="-Dspark.checkpoint.dir=/tmp/ckpt -Dspark.driver.maxResultSize=4g" \
#     scripts/gate.sh <sf-dir> <out-dir> graph_pagerank
# On a big scale dir, gate a long key list in chunks, one call per
# chunk: one JVM accumulates state across keys.
set -uo pipefail
cd "$(dirname "$0")/.."
[ $# -ge 2 ] || { echo "usage: $0 <sf-dir> <out-dir> [keys...]" >&2; exit 2; }
sf=$1 out=$2
shift 2
mkdir -p "$out"
sbt --batch -Dsbt.log.noformat=true compile > "$out/compile.log" 2>&1 ||
  { tail -40 "$out/compile.log"; exit 1; }
scripts/run_main.sh graft.Verify "$sf" "$out" "$@" > "$out/verify.log" 2>&1 ||
  { tail -20 "$out/verify.log"; exit 1; }
grep '^\[verify\]' "$out/verify.log" | tee "$out/verify_log.txt"
python3 scripts/precheck.py "$sf" "$out" --skip-verify "$@"
