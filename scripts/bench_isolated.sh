#!/usr/bin/env bash
# Isolated-rep benchmark: run every headline query in its OWN JVM so no
# cross-query state (shuffle-file cleanup, block manager debt, JIT
# profile pollution) can bill a neighbor. This is the ground truth the
# full-run BENCH_r{N}.json is validated against — round 8's committed
# q129 number was 3.3x its isolated time purely from cross-query
# ContextCleaner contamination.
#
# Usage: scripts/bench_isolated.sh <sf_dir> <out_json>
# Requires: sbt compile already done (reads target/scala-2.13/classes).
set -euo pipefail

SF_DIR="${1:-/root/testdata/sf0.1}"
OUT="${2:-BENCH_ISOLATED.json}"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED \
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
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"

# Ask Bench itself for the headline list (keeps this script in sync).
NAMES=$(java $OPENS -cp "$CP" graft.BenchNames)

merged="{"
sep=""
for name in $NAMES; do
  line=$(SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_ONLY="$name" \
    java $OPENS -Xmx16g -cp "$CP" graft.Bench 2>/dev/null | grep '"metric"' | tail -1)
  # extract this query's seconds from {"queries":{"<name>":N}}; a
  # query that threw is listed under "failed" instead and gets no time
  secs=$(python3 - "$line" "$name" <<'EOF'
import json, sys
print(json.loads(sys.argv[1])["queries"].get(sys.argv[2], ""))
EOF
  )
  if [ -z "$secs" ]; then
    echo "  $name: FAILED (left out of the total)" >&2
    continue
  fi
  echo "  $name: ${secs}s" >&2
  merged="$merged$sep\"$name\":$secs"
  sep=","
done
merged="$merged}"
total=$(python3 -c "import json,sys; q=json.loads(sys.argv[1]); print(sum(q.values()))" "$merged")
echo "{\"metric\":\"total_isolated\",\"value\":$total,\"unit\":\"sec\",\"queries\":$merged,\"sf\":\"$SF_DIR\"}" > "$OUT"
echo "wrote $OUT (total ${total}s)" >&2
