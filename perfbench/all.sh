#!/usr/bin/env bash
# Run every workload for one seed, untraced then traced, from the
# repository root. Usage: perfbench/all.sh <seed> [seconds]
set -euo pipefail
seed=${1:?usage: perfbench/all.sh <seed> [seconds]}
seconds=${2:-$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')}
for w in mj_text sql_mix graph_fixpoint dedup_lsh; do
  for t in 0 1; do
    echo "== $w trace=$t"
    python3 perfbench/run.py --workload "$w" --seed "$seed" --seconds "$seconds" --trace "$t"
  done
done
