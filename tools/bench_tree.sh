#!/bin/bash
# Run graft.Bench from a given tree's compiled classes with the exact
# JVM flags build.sbt uses, writing stdout to a file. Used for the
# round-15 two-tree same-session drift control (r13 vs HEAD) — direct
# java, no sbt, so interleaved runs share nothing but the host.
#   tools/bench_tree.sh <treeDir> <outFile>
# Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
# SPARK_GRAFT_ONLY, SPARK_DRIVER_MEM.
set -euo pipefail
TREE=$1; OUT=$2
# src/main/resources carries the META-INF/services file that injects the
# graft_* functions; plain `sbt compile` does not copy it into classes/
CP="$TREE/target/scala-2.13/classes:$TREE/src/main/resources:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "$CP" graft.Bench > "$OUT" 2>"$OUT.log"
