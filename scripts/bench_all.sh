#!/bin/bash
# One-command bench hygiene: run the full catalog bench at sf0.1,
# dump the CURRENT oracle SQL catalog, and regenerate BENCH_COMPARE.md
# so every round records the Spark-vs-DuckDB ratio for the catalog as
# it exists now (a stale BENCH_COMPARE.md silently under-reports new
# queries).
#
# Usage: scripts/bench_all.sh [-i] [sfDir]
#   -i  INTERLEAVED mode (round-17 verdict item 5): every round runs
#       each query on BOTH engines back to back (Spark noop sink, then
#       the DuckDB oracle via a persistent timer subprocess), medians
#       of IB_ROUNDS warm rounds. Per-query ratios and totals are then
#       same-box-state by construction — no canary normalization, no
#       ±14% cross-record error bar. Prefer this for headline records;
#       the plain mode stays as the driver-compatible single-engine
#       path (the driver's own BENCH_r{N}.json is produced by
#       graft.Bench, not by this script).
set -euo pipefail
cd "$(dirname "$0")/.."
INTERLEAVED=0
if [[ "${1:-}" == "-i" ]]; then INTERLEAVED=1; shift; fi
SF="${1:-/root/testdata/sf0.1}"
OUT=/tmp/bench_all_out
mkdir -p "$OUT"
if [[ "$INTERLEAVED" == 1 ]]; then
  SPARK_GRAFT_SF_DIR="$SF" IB_ORACLE_DIR="$OUT" IB_JSON="$OUT/bench_interleaved.json" \
    sbt -batch "Test/runMain graft.tools.InterleavedBench" | tail -3
  python3 scripts/bench_compare.py "$SF" "$OUT" "$OUT/bench_interleaved.json"
  echo "BENCH_COMPARE.md regenerated from $OUT/bench_interleaved.json (interleaved)"
else
  # Bench prints the full per-query line first and a compact tail line
  # last (driver tail-capture hygiene); the full line is also persisted
  # via SPARK_GRAFT_BENCH_JSON — use that, not a grep over stdout.
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_JSON="$OUT/bench.json" \
    sbt -batch "runMain graft.Bench" | tail -5
  sbt -batch "runMain graft.DumpOracle $OUT" > /dev/null
  python3 scripts/bench_compare.py "$SF" "$OUT" "$OUT/bench.json"
  echo "BENCH_COMPARE.md regenerated from $OUT/bench.json"
fi
