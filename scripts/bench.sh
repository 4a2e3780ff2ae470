#!/bin/bash
# Direct-JVM bench launcher (no sbt lock): bench.sh <sfdir> <out.json> [cpus]
# Uses the classes already compiled by `sbt -batch compile`. The CPU
# count defaults to this box's (`nproc`) and the heap to
# $SPARK_DRIVER_MEM, else half the box's memory clamped to 2-8 GB —
# the sizes tier-1 runs at. Both are stamped into <out.json> as
# "cpus" and "heap" for scripts/bench_fold.py.
set -e
SFDIR=${1:?usage: bench.sh <sfdir> <out.json> [cpus]}
OUT=${2:?usage: bench.sh <sfdir> <out.json> [cpus]}
CPUS=${3:-$(env -u OMP_NUM_THREADS nproc)}
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}
cd "$(dirname "$0")/.."
env SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_BENCH_OUT="$OUT" \
  java "-Xmx$HEAP" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench
python3 - "$OUT" "$CPUS" "$HEAP" <<'PY'
import json, sys
out, cpus, heap = sys.argv[1], int(sys.argv[2]), sys.argv[3]
r = json.load(open(out))
r.update(cpus=cpus, heap=heap)
json.dump(r, open(out, "w"))
PY
