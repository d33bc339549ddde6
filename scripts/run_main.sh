#!/usr/bin/env bash
# Run a graft main directly on compiled classes + the Spark jars,
# decoupled from sbt — long-running mains (ScaleProbe at x100, Bench
# sweeps) would otherwise hold the interactive sbt server hostage, and
# an sbt -batch launched alongside a running server silently becomes a
# thin client of it. Mirrors build.sbt's fork options (JDK17 add-opens,
# UTC session TZ, SPARK_DRIVER_MEM heap).
#
# Usage:  scripts/run_main.sh graft.ScaleProbe
#         scripts/run_main.sh graft.Harness q3_shipping_priority ...  # per-query job profile
#         GRAFT_CLASSES=/tmp/snap scripts/run_main.sh graft.Bench
# (set GRAFT_CLASSES to a snapshot dir when recompiles must not disturb
#  a run in flight; env vars pass through to the main.)
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES=${GRAFT_CLASSES:-target/scala-2.13/classes}
OPENS=(java.lang java.lang.invoke java.lang.reflect java.io java.net \
       java.nio java.util java.util.concurrent java.util.concurrent.atomic)
OPENS_ARGS=()
for p in "${OPENS[@]}"; do OPENS_ARGS+=("--add-opens=java.base/$p=ALL-UNNAMED"); done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS_ARGS+=("--add-opens=java.base/$p=ALL-UNNAMED")
done
exec java "${OPENS_ARGS[@]}" \
  -Dfile.encoding=UTF-8 \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
