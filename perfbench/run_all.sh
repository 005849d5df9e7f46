#!/usr/bin/env bash
# Run every workload once (tracing off, BENCHMARK.json's run_seconds) and
# print each end-to-end metric by name with its unit, plus each workload's
# failed share.
#   bash perfbench/run_all.sh [seed]
set -u
cd "$(dirname "$0")/.."
seed="${1:-1}"
seconds="$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')"
status=0
for w in upsert-stream evolve-shards query-suite; do
  out="$(python3 perfbench/run.py --workload "$w" --seed "$seed" --seconds "$seconds" --trace 0)" || status=1
  echo "== $w"
  printf '%s\n' "$out" | grep -E '^# (metric |failed_share|failed_ops|snapshot_rows_per_s|catchup_events_per_s|steady_events_per_s|lag_p|suite_s|rss_peak_mb)'
done
exit $status
