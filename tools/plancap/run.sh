#!/bin/bash
# Task CPU per api_mixed request kind, plus formatted plans (see PlanCap.scala).
#
#   tools/plancap/run.sh <checkout> <tag> <outdir>
#
# PlanCap builds its session with the checkout's graft.GraftSession.local(4),
# so <checkout> must contain GraftSession; the JVM starts with
# `java @tools/jvm.opts`, like every engine launch.
#
# <checkout> must hold a perfbench build (.bench_build/perfbench/engine.jar
# and bench.jar): run `python3 perfbench/run.py --workload api_mixed --seed 1
# --seconds 1` there first. Compare two commits by running this once per
# checkout with different tags into the same <outdir>.
set -e
CO=$1; TAG=$2; OUT=$3
[ -n "$OUT" ] || { echo "usage: $0 <checkout> <tag> <outdir>" >&2; exit 2; }
HERE=$(cd "$(dirname "$0")" && pwd)
B=$CO/.bench_build/perfbench
# Spark's jars, found as perfbench/run.py finds them
if [ -z "$SPARK_HOME" ]; then
  SPARK_HOME=$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")
fi
SPARK_JARS=$SPARK_HOME/jars
CP="$B/engine.jar:$B/bench.jar:$B/resources.jar:$SPARK_JARS/*"
mkdir -p "$OUT/cls_$TAG"
java -Xss8m -Xmx2g -cp "$SPARK_JARS/*" scala.tools.nsc.Main -nowarn \
  -d "$OUT/cls_$TAG" -classpath "$CP" "$HERE/PlanCap.scala"
java @"$HERE/../jvm.opts" -Xmx4g -cp "$OUT/cls_$TAG:$CP" PlanCap "$OUT" "$TAG"
