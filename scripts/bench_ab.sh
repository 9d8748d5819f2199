#!/bin/bash
# Two-tree A/B bench (VERDICT r19 item 1b): run the full sf0.1 suite
# alternately from two checked-out trees on the same host, both
# directions (A B B A A B), so host drift cancels and per-query ratios
# are attributable to code. Each tree's BENCH_HISTORY is redirected to
# /tmp so A/B runs never become a regression baseline. Results: one
# JSON line per run in /tmp/graft-ab/<tag>-run<i>.json. A failed run
# (sbt error, or no result line) is recorded in /tmp/graft-ab/failed.txt
# and the interleaved loop goes on with the next run.
#   usage: scripts/bench_ab.sh <treeA> <tagA> <treeB> <tagB> [rounds=3]
set -o pipefail
A=$1; TA=$2; B=$3; TB=$4; R=${5:-3}
OUT=/tmp/graft-ab
mkdir -p $OUT
run_one() {
  local tree=$1 tag=$2 i=$3
  echo "=== $tag run $i ($(date +%H:%M:%S)) ==="
  (cd "$tree" && \
    SPARK_GRAFT_SF_DIR=${SRC:-/root/testdata/sf0.1} SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_HISTORY=$OUT/hist-$tag.json \
    SPARK_GRAFT_BENCH_LAST=$OUT/last-$tag.json \
    sbt -batch "runMain graft.Bench" 2>/dev/null) \
    | grep -o '{"metric":"total".*}' > "$OUT/$tag-run$i.json"
  local rc=$?
  if [ $rc -ne 0 ]; then
    echo "$tag run $i FAILED (exit $rc)" | tee -a "$OUT/failed.txt"
    return 0
  fi
  tail -c 200 "$OUT/$tag-run$i.json"; echo
}
for i in $(seq 1 $R); do
  if [ $((i % 2)) -eq 1 ]; then
    run_one "$A" "$TA" "$i"; run_one "$B" "$TB" "$i"
  else
    run_one "$B" "$TB" "$i"; run_one "$A" "$TA" "$i"
  fi
done
echo "done; results in $OUT"
