#!/usr/bin/env bash
# Run a graft main class with the compiled classes directly (no sbt lock),
# replicating build.sbt's forked-run JVM flags. Usage:
#   tools/scalerun.sh [-mMEM] <mainClass> [args...]
# e.g. tools/scalerun.sh graft.ScaleBench /root/testdata/sf0.1 10 /tmp/graft_scale full
#      tools/scalerun.sh -m8g graft.ScaleBench /root/testdata/sf0.01 2 /tmp/graft_scale layout
# ScaleBench takes <src> <mult> <work> <case> [eps|indep]. A case is one of
# connlsh d11bucket d11stale ivfauto layout m1part pq pqdisk s13rank
# s14bucket trunc, or a query set: full, linear, only:<q,...>,
# onlye:<q,...>. Its one-line record goes to $SPARK_GRAFT_SCALE_OUT, else
# to the case's default scale_*.json in the working directory.
set -euo pipefail
MEM="${SPARK_DRIVER_MEM:-24g}"
if [[ "${1:-}" == -m* ]]; then MEM="${1#-m}"; shift; fi
MAIN="$1"; shift
OPENS=(java.lang java.lang.invoke java.lang.reflect java.io java.net \
  java.nio java.util java.util.concurrent java.util.concurrent.atomic \
  sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar)
ARGS=()
for p in "${OPENS[@]}"; do ARGS+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
# GRAFT_CLASSES: override the classes dir (e.g. a frozen snapshot copy,
# so a long run never races a live sbt recompile — NoClassDefFoundError
# mid-run otherwise; SCALE.md §r18)
CLASSES="${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}"
exec java "${ARGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
