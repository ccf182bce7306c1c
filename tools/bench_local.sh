#!/bin/bash
# Pinned bench launch — the EXACT command the recorded numbers assume.
# Any deviation (heap, GC, core count) invalidates round-over-round
# comparison; the emitted "sentinel" fields record machine contention at
# run time (fixed no-op job timed before/after + /proc/loadavg), so a
# contended recording is visible in the JSON itself.
#
#   ./tools/bench_local.sh                    # sf0.1 (the driver's per-round SF)
#   ./tools/bench_local.sh /root/testdata/sf0.01
set -e
ROOT=$(cd "$(dirname "$0")/.." && pwd)
SF=${1:-/root/testdata/sf0.1}
[ -d "$ROOT/target/scala-2.13/classes/stopwords" ] || \
  cp -r "$ROOT"/src/main/resources/* "$ROOT/target/scala-2.13/classes/"
SPARK_GRAFT_SF_DIR="$SF" java @"$ROOT/tools/jvm.opts" -Xmx16g -XX:+UseG1GC \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME}/jars/*" \
  graft.Bench
