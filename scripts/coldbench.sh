#!/bin/bash
# N cold-JVM full-suite bench runs at the driver config (sf0.1,
# local[32], noop sink), launched via DIRECT java — not sbt — so the
# build tool stays off the host during timing (the r16 ledger protocol).
#
# Usage: scripts/coldbench.sh [N=3] [OUTDIR=/tmp/coldbench]
# Emits per run: runI.json (the one-line bench JSON) and detailI.json
# (bench_detail.json, the per-query wall/task/steal rows ledger.py eats).
set -e
N="${1:-3}"
OUT="${2:-/tmp/coldbench}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
mkdir -p "$OUT"
for i in $(seq 1 "$N"); do
  echo "[coldbench] run $i/$N $(date -u +%H:%M:%S)" >&2
  (
    cd "$OUT"
    SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
    SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    java $OPENS \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -Xmx8g -XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing \
      -cp "$CP" graft.Bench > "run$i.raw" 2> "run$i.err"
  )
  tail -1 "$OUT/run$i.raw" > "$OUT/run$i.json"
  mv "$OUT/bench_detail.json" "$OUT/detail$i.json"
  echo "[coldbench] run $i done: $(cut -c1-120 "$OUT/run$i.json")" >&2
done
