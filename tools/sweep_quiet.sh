#!/bin/bash
# Chunked quiet sweep: Profile `time` warm medians over a query set, a FRESH
# JVM per chunk (VERDICT r9 item 8 — a single-JVM 170-query sweep ages:
# dead blocks from earlier queries surface as multi-second mixed GCs in
# later timed windows; per-query clearCache+GC shrank but did not kill
# the artifact, so the sweep protocol now bounds any JVM's exposure to
# CHUNK queries).
#
# Usage: tools/sweep_quiet.sh <sfDir> <outLog> [chunkSize] [namesCsv]
#   namesCsv empty/absent = full catalog (Profile time --list).
#   env: SPARK_GRAFT_REPS (default 3), SPARK_GRAFT_CPUS (default 4, as Bench)
# Output: TIME lines appended to <outLog>, per-rep DIAG/STAGE attribution
# to <outLog>.diag; merge with tools/timelog.py.
set -eu
DIR="${1:?usage: tools/sweep_quiet.sh <sfDir> <outLog> [chunkSize] [namesCsv]}"
OUT="${2:?usage: tools/sweep_quiet.sh <sfDir> <outLog> [chunkSize] [namesCsv]}"
CHUNK="${3:-25}"
NAMES="${4:-}"
cd "$(dirname "$0")/.."
if [ -z "$NAMES" ]; then
  LIST=$(tools/run.sh graft.tools.Profile time --list 2>/dev/null)
else
  LIST=$(echo "$NAMES" | tr ',' '\n')
fi
: > "$OUT"
# Per-rep DIAG lines (cpu/gc/steal/iowait attribution) go to a sidecar:
# the r10 sf1 sweep recorded one chunk whose tail read 2-18x inflated
# (p7_rename_lookup 3.9 s vs 0.2 s fresh) and, with stderr discarded,
# nothing could say whether that was GC, steal, or real work. Keeping
# the attribution makes any future outlier reading self-explaining.
echo "$LIST" | xargs -n "$CHUNK" | while read -r group; do
  csv=$(echo "$group" | tr ' ' ',')
  echo "CHUNK $csv" >> "$OUT"
  SPARK_GRAFT_SF_DIR="$DIR" tools/run.sh graft.tools.Profile time "$csv" \
    >> "$OUT" 2>> "$OUT.diag" || echo "CHUNKFAIL $csv" >> "$OUT"
done
echo "SWEEPDONE $DIR" >> "$OUT"
