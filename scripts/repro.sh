#!/usr/bin/env bash
# One-command repro of the round gates: full test suite, Verify +
# DuckDB oracle check, and the benchmark — the same three artifacts the
# driver grades (sbt test / CORRECTNESS / BENCH), from a fresh shell.
#
#   scripts/repro.sh            # test + verify@sf0.01 + oracle check + bench@sf0.1
#   SF=0.1 scripts/repro.sh     # verify + oracle check at sf0.1 instead
#   SKIP_BENCH=1 scripts/repro.sh
#
# Env pins (same ones the driver uses):
#   SPARK_GRAFT_SF_DIR  - bench scale-factor dir (default /root/testdata/sf0.1)
#   SPARK_GRAFT_CPUS    - local[N] parallelism for Verify/Bench (default 4)
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${SF:-0.01}"
SF_DIR="/root/testdata/sf${SF}"
OUT="target/verify-sf${SF}"
BENCH_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"

echo "== 1/3 sbt test =="
sbt -batch test

echo "== 2/3 Verify @ ${SF_DIR} + DuckDB oracle check =="
rm -rf "$OUT"
sbt -batch "runMain graft.Verify ${SF_DIR} ${OUT}"
python3 tools/check.py "$SF_DIR" "$OUT"

if [ "${SKIP_BENCH:-0}" != "1" ]; then
  echo "== 3/3 Bench @ ${BENCH_SF_DIR} =="
  # SPARK_GRAFT_BENCH_ARCHIVE writes the FULL per-query JSON (the
  # driver's BENCH_r{N}.json keeps only a truncated stdout tail);
  # commit it as BENCH_FULL_r{N}.json at round close.
  SPARK_GRAFT_SF_DIR="$BENCH_SF_DIR" \
    SPARK_GRAFT_BENCH_ARCHIVE="${SPARK_GRAFT_BENCH_ARCHIVE:-target/bench_archive.json}" \
    sbt -batch "runMain graft.Bench"
fi
