#!/usr/bin/env bash
# Run a graft main class without sbt startup overhead.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -euo pipefail
cd "$(dirname "$0")/.."
# GRAFT_CLASSES overrides the class dir — used for interleaved before/after
# A/B runs against a snapshot of the previous round's compiled classes
CLASSES="${GRAFT_CLASSES:-target/scala-2.13/classes}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# default heap: build.sbt's rule — half of physical RAM, clamped to 4-32 GiB
# (16 GiB assumed when /proc/meminfo is unreadable); SPARK_DRIVER_MEM overrides
PHYS_GB=$(awk '/^MemTotal:/ {print int($2 / 1048576)}' /proc/meminfo 2>/dev/null || true)
HEAP_GB=$(( ${PHYS_GB:-16} / 2 ))
HEAP_GB=$(( HEAP_GB < 4 ? 4 : HEAP_GB > 32 ? 32 : HEAP_GB ))
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-${HEAP_GB}g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
