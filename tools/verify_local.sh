#!/bin/bash
# Build classpath run of graft.Verify + DuckDB compare, at sf0.01 by default.
set -e
ROOT=$(cd "$(dirname "$0")/.." && pwd)
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
# raw-java classpath runs skip sbt's copyResources; make sure /stopwords et
# al. are present next to the classes (cheap no-op when already copied)
[ -d "$ROOT/target/scala-2.13/classes/stopwords" ] || \
  cp -r "$ROOT"/src/main/resources/* "$ROOT/target/scala-2.13/classes/"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java @"$ROOT/tools/jvm.opts" -Xmx8g \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME}/jars/*" \
  graft.Verify "$SF" "$OUT" 2>/tmp/verify_stderr.log || { tail -30 /tmp/verify_stderr.log; exit 1; }
grep -E "\[verify\]" /tmp/verify_stderr.log || true
python3 "$ROOT/tools/compare.py" "$SF" "$OUT"
