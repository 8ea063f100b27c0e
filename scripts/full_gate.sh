#!/bin/bash
# Full verification gate: sbt test, Verify dump at sf0.01, DuckDB oracle compare.
# Run via: setsid nohup scripts/full_gate.sh > target/full_gate.log 2>&1 &
# The Verify dump goes under this checkout's target/, so two checkouts
# running the gate never share scratch.
set -e
cd "$(dirname "$0")/.."
# the sf0.01 tables, from the one place test-data paths live (graft.Paths)
SF="$(sed -n 's/.*val testData: String = "\(.*\)".*/\1/p' src/main/scala/graft/Paths.scala)/sf0.01"
VFY="$PWD/target/vfy"
echo "=== sbt test ==="
sbt -batch test
echo "=== Verify sf0.01 ==="
rm -rf "$VFY"
sbt -batch "runMain graft.Verify $SF $VFY"
echo "=== check_oracle ==="
python3 scripts/check_oracle.py "$SF" "$VFY"
echo "=== GATE DONE ==="
