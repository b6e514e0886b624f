#!/bin/bash
# N vs 4N scaling protocol runner (BENCH.md §1).
# usage: tools/scalingbench.sh <cpuset e.g. 0-7> <cores> <nDocs>
# Pinning the whole JVM (worker + GC + JIT threads) to exactly N cores is the
# faithful N-core-executor proxy; run each leg on an otherwise idle machine.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')x"
# Fixed 8g heap: A/B at matched bandwidth-probe health (BENCH.md §2b)
# measured 8g ≥ 3 GiB/core at both 8 threads (45.2k vs 42.4k docs/s) and
# 32 threads (80.7k vs 76.3k) — the earlier "8g starves the young gen"
# reading came from a co-tenant-noise window. SCALE_HEAP_GB overrides for
# re-running that A/B.
# An explicit SCALE_HEAP_GB is honored EXACTLY (it exists to re-run the
# heap A/B — silently clamping a 4g request to 6g would mislabel the
# measurement); only the default is fixed at the A/B winner 8g.
HEAP=${SCALE_HEAP_GB:-8}
JAVA_FLAGS=(
  --add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens java.base/java.util=ALL-UNNAMED
)
# Host-weather probe in a SEPARATE JVM (same pinning) before the leg: the
# probe saturates the memory bus and allocates humongous buffers, which
# measured ~20% off the 8-thread leg when run inside the measurement JVM
# (BENCH.md §2b) — so the leg itself runs probe-free and this line is the
# weather record to pair with it. The probe JVM gets an explicit 6g heap:
# 32 copier threads hold ~4GB of buffers, above many default max-heaps.
taskset -c "$1" java "${JAVA_FLAGS[@]}" -Xmx6g -cp "$CP" graft.jobs.ScalingBench probeonce "$2" 2>/dev/null || true
exec taskset -c "$1" java \
  --add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${HEAP}g -Xms${HEAP}g \
  ${SCALE_GC:--XX:+UseParallelGC} \
  -cp "$CP" graft.jobs.Tier extract "$3" "$2"
# ParallelGC default: this stage is pure batch throughput (no pause-time
# constraint) and G1's concurrent phases compete with the workload for
# memory bandwidth — interleaved duel at 8 threads: PGC median 45.8k vs
# G1 38.5k docs/s (+19%), best-observed 58.4k vs 51.6k (BENCH.md §2b).
# On a cluster: spark.executor.extraJavaOptions=-XX:+UseParallelGC.
# SCALE_GC=" " restores the JVM default (G1) for A/Bs.
