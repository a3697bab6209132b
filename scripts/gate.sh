#!/bin/bash
# Oracle gate for one scale dir: dump <keys> (every key when none are
# given) with graft.Verify in a fresh JVM, then compare each dump
# against DuckDB with scripts/precheck.py. Exits with precheck's
# status: 0 iff every requested key was dumped and every oracled key
# matches. An unknown key fails Verify, and with it the gate.
#   scripts/gate.sh <sf-dir> <out-dir> [keys...]
# Verify runs outside sbt (scripts/run_main.sh), so Verify's env knobs
# (SPARK_GRAFT_CPUS, default: the host's processors; SPARK_DRIVER_MEM,
# SPARK_GRAFT_MAX_RESULT, SPARK_GRAFT_STREAM_SINK,
# SPARK_GRAFT_CHECKPOINT_DIR) pass through. On
# a big scale dir, gate a long key list in chunks, one call per chunk:
# one JVM accumulates state across keys.
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
