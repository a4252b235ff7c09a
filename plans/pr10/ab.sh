#!/bin/bash
# Alternating perfbench A/B between two clean checkouts.
# Usage: plans/pr10/ab.sh <parent checkout> <change checkout> <out dir>
# Runs one traced pass per side per workload (seed 1020), then ten
# untraced pairs per workload (seeds 1001-1010). The side that runs first
# alternates from pair to pair, starting with the parent. Every result
# line goes to <out>/ab_<workload>.jsonl and every run's summary (and
# trace) to <out>/<side>/.
set -u
PARENT=$1; CHANGE=$2; OUT=$3
mkdir -p "$OUT/parent" "$OUT/change"
run() {  # side workload seed trace
  local dir; [ "$1" = parent ] && dir=$PARENT || dir=$CHANGE
  local line
  line=$(cd "$dir" && python3 perfbench/run.py --workload "$2" --seed "$3" --seconds 10 --trace "$4" 2>>"$OUT/$1/stderr.log" | tail -1)
  echo "{\"side\": \"$1\", \"workload\": \"$2\", \"seed\": $3, \"trace\": $4, \"result\": ${line:-null}}" >> "$OUT/ab_$2.jsonl"
  cp "$dir/.bench_build/perfbench/records/$2-seed$3-trace$4.json.summary" "$OUT/$1/" 2>/dev/null
  [ "$4" = 1 ] && cp "$dir/.bench_build/perfbench/records/$2-seed$3-trace1.json.trace.jsonl" "$OUT/$1/" 2>/dev/null
  return 0
}
run parent etl_write 1020 1; run change etl_write 1020 1
run change iter_loops 1020 1; run parent iter_loops 1020 1
for w in etl_write iter_loops; do
  for i in $(seq 1 10); do
    s=$((1000 + i))
    if [ $((i % 2)) = 1 ]; then run parent $w $s 0; run change $w $s 0
    else run change $w $s 0; run parent $w $s 0; fi
  done
done
