#!/bin/bash
# Alternating graft.Bench A/B between two compiled class directories.
# Usage: SPARK_GRAFT_BENCH_ONLY=q26_,q111_ \
#   ab_bench.sh <parent classes> <change classes> <out dir> <pairs>
# Each run is a fresh JVM of graft.Bench (which reads SPARK_GRAFT_SF_DIR)
# with SPARK_GRAFT_CPUS cores (default 4) and Spark's jars from
# $SPARK_HOME/jars. The side that runs first alternates
# from pair to pair, starting with the parent. Each run's summary line
# goes to <out>/ab.jsonl as {"pair", "side", "result"}.
set -u
PARENT=$1; CHANGE=$2; OUT=$3; PAIRS=$4
mkdir -p "$OUT"
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-4}
JARS="${SPARK_HOME:?set SPARK_HOME}/jars/*"
run() {  # pair side
  local cls; [ "$2" = parent ] && cls=$PARENT || cls=$CHANGE
  local line
  line=$(SPARK_GRAFT_BENCH_OUT="$OUT/bench_$2_$1.json" java -Xmx4g \
    -XX:ReservedCodeCacheSize=1g -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC -Dderby.system.home=/tmp/derby \
    --add-opens=java.base/java.lang=ALL-UNNAMED \
    --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
    --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
    --add-opens=java.base/java.io=ALL-UNNAMED \
    --add-opens=java.base/java.net=ALL-UNNAMED \
    --add-opens=java.base/java.nio=ALL-UNNAMED \
    --add-opens=java.base/java.util=ALL-UNNAMED \
    --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
    --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
    --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
    --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
    --add-opens=java.base/sun.security.action=ALL-UNNAMED \
    --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
    -cp "$cls:$JARS" graft.Bench 2>>"$OUT/stderr.log" \
    | grep '"metric"' | tail -1)
  echo "{\"pair\": $1, \"side\": \"$2\", \"result\": ${line:-null}}" >> "$OUT/ab.jsonl"
}
for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) = 1 ]; then run "$i" parent; run "$i" change
  else run "$i" change; run "$i" parent; fi
done
