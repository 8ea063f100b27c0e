#!/bin/bash
# Two full-suite Bench reps at sf0.1 (noisy-host min-of-2 protocol).
# Writes target/bench_rep<i>.json in this checkout.
set -e
cd "$(dirname "$0")/.."
mkdir -p target
for i in 1 2; do
  echo "=== rep $i ==="
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' \
    | sed 's/^\[info\] //' > target/bench_rep$i.json
done
echo "=== REPS DONE ==="
