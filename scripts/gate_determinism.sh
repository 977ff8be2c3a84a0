#!/usr/bin/env bash
# Determinism probes: the declared queries must give the oracle's exact
# results at another partition count and at another scale, not only at
# the default sf0.01 / local[4] run. Two probes, each a full Verify dump
# compared against DuckDB by check_oracle.py:
#   1. sf0.01 at SPARK_GRAFT_CPUS=7 (local[7], 7 shuffle partitions);
#   2. sf0.001 at the default partition count.
# Usage: scripts/gate_determinism.sh <testdataDir> [outDir]
#   <testdataDir> holds the sf0.01 and sf0.001 fixture dirs.
# Exits non-zero if either probe misses a query; each probe's full
# check_oracle report lands in <outDir>/<probe>.oracle.
set -uo pipefail
cd "$(dirname "$0")/.."
DATA="${1:?usage: scripts/gate_determinism.sh <testdataDir> [outDir]}"
OUT="${2:-/tmp/gate_determinism}"
mkdir -p "$OUT"
rc=0

probe() { # name sfDir cpus
  local name="$1" sf="$2" cpus="$3"
  echo "== determinism: $name (Verify @ $sf, local[$cpus]) =="
  rm -rf "$OUT/$name"
  if ! SPARK_GRAFT_CPUS="$cpus" sbt -batch "runMain graft.Verify $sf $OUT/$name" \
      > "$OUT/$name.log" 2>&1; then
    tail -20 "$OUT/$name.log"; echo "determinism: $name Verify RED"; rc=1; return
  fi
  grep -E '\[verify\]' "$OUT/$name.log" || true
  python3 scripts/check_oracle.py "$sf" "$OUT/$name" > "$OUT/$name.oracle" || rc=1
  grep -E '^FAIL' "$OUT/$name.oracle" || true
  tail -1 "$OUT/$name.oracle"
}

probe cpus7-sf0.01 "$DATA/sf0.01" 7
probe sf0.001 "$DATA/sf0.001" "${SPARK_GRAFT_CPUS:-4}"
[ "$rc" -eq 0 ] && echo "== determinism: green ==" || echo "== determinism: RED =="
exit "$rc"
