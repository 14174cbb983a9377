#!/usr/bin/env bash
# Round-end evidence target: one command that reproduces every gate the
# round must ship green, in dependency order, failing fast on the first
# red. The r9 failure mode (an evidence artifact silently missing at
# snapshot time) becomes a tooling guarantee instead of a discipline one.
#
#   tools/round_end.sh            # test + verify/oracle(sf0.01) + bench(sf0.1)
#                                 # + traced api_serve
#   SCALE_DIRS="target/sf1 target/sf2" tools/round_end.sh   # + scale gates
#
# Developer tooling only — the engine itself is the Scala library.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/5 sbt test (includes shuffle-budget, BNL, window, pruning nets)"
sbt -batch test

echo "== 2/5 Verify + type-strict oracle at sf0.01, at 4 and at 32 cores"
# Results must not depend on the core count: Verify runs under the timed
# GraftSession config, whose shuffle width and task count follow the cores.
for cpus in 4 32; do
  out=${OUT:-/tmp/verify_round_end}_c$cpus
  rm -rf "$out"
  SPARK_GRAFT_CPUS=$cpus sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out"
  # STRICT: also fail decimal/hugeint-typed output columns — value-level
  # equality of decimals cannot prove driver-hash equality (r11 q_ivf_train).
  GRAFT_ORACLE_STRICT=1 python3 tools/check_oracle.py /root/testdata/sf0.01 "$out"
done
# The oracle's 1e-6 tolerance cannot see a last-bit difference between the
# two core counts: compare the two dumps row for row, in order, exactly.
python3 tools/compare_dumps.py "${OUT:-/tmp/verify_round_end}_c4" \
  "${OUT:-/tmp/verify_round_end}_c32"

echo "== 3/5 contract bench at sf0.1 (refreshes the committed BENCH_FULL.json)"
# Refreshing the committed artifact is an EXPLICIT act: Bench's default
# output is a timestamped file under target/bench/, so ad-hoc runs can
# never clobber this one (r13 verdict #3).
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_OUT=BENCH_FULL.json \
  sbt -batch "runMain graft.Bench" \
  | grep '"metric"' | sed 's/^\[info\] //'

echo "== 4/5 traced api_serve: correct, no failed op, no file listing on a hot read, job and exchange count"
# The job and exchange counts per call are deterministic (same calls, same
# plans), so their ceilings are the measured values, not a noise band: a
# plan that gains a job or an exchange on a hot façade call fails here.
python3 perfbench/run.py --workload api_serve --seed 1 --seconds 10 --trace 1 \
  | tail -n 1 | python3 -c '
import json, sys
r = json.loads(sys.stdin.read())
m = r["metrics"]
listed = m["api.files_listed_per_call"]["value"]
jobs = m["api.jobs_per_call"]["value"]
exchanges = m["plan.exchanges"]["value"]
print("api_serve: correct=%s failed=%s files_listed_per_call=%s jobs_per_call=%s exchanges=%s"
      % (r["correct"], r["failed"], listed, jobs, exchanges))
# context for the gate line, not gated: driver and executor cost, jobs per
# pass, and the per-family p50
shown = ["api.driver_ms", "sched.jobs", "exec.cpu_s"] + [
    "api.%s.p50_ms" % f for f in ("splits", "trainingLoad", "physiology",
    "trends", "comparisons", "durability", "heat", "timeSeries")]
print("api_serve: " + " ".join("%s=%s" % (k, m.get(k, {}).get("value"))
                               for k in shown))
sys.exit(0 if r["correct"] is True and r["failed"] == 0 and listed == 0
         and jobs <= 1.0 and exchanges == 0 else 1)'

echo "== 5/5 scale-aware shuffle gates (set SCALE_DIRS to enable)"
for d in ${SCALE_DIRS:-}; do
  sf=$(basename "$d")
  blessed="src/test/resources/shuffle_blessed_${sf}.tsv"
  echo "--- gate at $d (blessed: $blessed)"
  sbt -batch "runMain graft.ShuffleCount $d \
    src/test/resources/shuffle_budget.tsv $blessed" >/dev/null
done
echo "round_end: ALL GREEN"
