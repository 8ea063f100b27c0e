"""Self-test of the benchmark's own gates, on the stocks workload.

    python3 perfbench/selftest.py [--seed N]

Four runs of perfbench/run.py: a clean one, then one each with a
benchmark-side fault injected into a single op:
  corrupt  the op's expected value is altered  -> failed > 0, correct false
  throw    the op throws before it starts       -> failed > 0, correct false
  sleep    the op sleeps inside its timing      -> wall_s beyond its bound
Exits non-zero if any gate fails to trip.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(seed, inject=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stocks",
           "--seed", str(seed), "--seconds", "15", "--trace", "0"]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
    if p.returncode != 0:
        sys.exit(f"selftest: run {inject or 'clean'} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    seed = ap.parse_args().seed
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bound = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}["wall_s"]

    clean = run(seed)
    wall = clean["metrics"]["wall_s"]["value"]
    checks = [("clean run is correct", clean["correct"] and clean["failed"] == 0)]
    for kind in ("corrupt", "throw"):
        r = run(seed, f"{kind}:filter_close")
        checks.append((f"{kind}: fail_ratio {r['failed']}/{r['attempted']} > 0 and correct false",
                       r["failed"] > 0 and not r["correct"]))
    # a sleep of twice the bound's share of the clean pass wall
    r = run(seed, f"sleep:window_min_low:{2 * bound * wall:.3f}")
    slow = r["metrics"]["wall_s"]["value"]
    checks.append((f"sleep: wall_s {slow:.3f} s vs clean {wall:.3f} s exceeds bound {bound}",
                   slow > wall * (1 + bound) and r["failed"] == 0))
    for name, ok in checks:
        print(f"selftest: {'PASS' if ok else 'FAIL'} {name}")
    sys.exit(0 if all(ok for _, ok in checks) else 1)


if __name__ == "__main__":
    main()
