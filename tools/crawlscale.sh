#!/bin/bash
# Crawl-chain N vs 4N scaling leg runner (BENCH.md §9) — the scalingbench.sh
# protocol applied to the crawl tier (graft.jobs.Tier crawl): host-weather
# probe in a SEPARATE JVM first (in-JVM probing costs the leg ~20%, BENCH.md
# §2b), then the pinned, ParallelGC, fixed-heap leg. The tier reads 200 pages
# per WARC file, so <pages> = 200 × files.
# usage: tools/crawlscale.sh <cpuset e.g. 0-1> <cores> <pages>
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')x"
HEAP=${SCALE_HEAP_GB:-8}
taskset -c "$1" java \
  --add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  -Xmx6g -cp "$CP" graft.jobs.ScalingBench probeonce "$2" 2>/dev/null || true
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
  -cp "$CP" graft.jobs.Tier crawl "$3" "$2"
