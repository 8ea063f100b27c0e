#!/bin/bash
# Full verification gate: sbt test, Verify dump at sf0.01, DuckDB oracle compare.
# Run via: setsid nohup scripts/full_gate.sh > /tmp/full_gate.log 2>&1 &
set -e
cd "$(dirname "$0")/.."
echo "=== sbt test ==="
sbt -batch test
echo "=== Verify sf0.01 ==="
rm -rf /tmp/vfy
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/vfy"
echo "=== check_oracle ==="
python3 scripts/check_oracle.py /root/testdata/sf0.01 /tmp/vfy
echo "=== GATE DONE ==="
