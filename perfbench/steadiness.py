#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how much each metric moves.

    python3 perfbench/steadiness.py --runs 10 [--sets 2] [--workloads query_suite,api_serve] [--out FILE]

For every workload in BENCHMARK.json (or the ones named), runs
`perfbench/run.py` once per seed with BENCHMARK.json's run length and
prints, per end-to-end metric: the median, the quartiles as
`statistics.quantiles(values, n=4)` gives them, the quartile spread as a
share of the median, (max-min)/median, and whether the spread is within a
third of the metric's bound. The secondary figures each run records
(`app_cpu_s`, `pass_s`, `op_p50_ms`, `op_tail_ms`) are summarized the same
way, without a bound.

Set i (from 0) uses seeds i*runs+1 .. (i+1)*runs. With more than one set,
every later set's median of each end-to-end metric is compared with the
first set's: the shift (later - first) / first must not exceed the
metric's bound in the worse direction. With --out, the whole record is
written as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RESULTS = ROOT / ".bench_build" / "perfbench" / "results"


def run(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    record = json.loads((RESULTS / f"{workload}-seed{seed}-trace{trace}.json").read_text())
    result["secondary"] = record["secondary"]
    return result


def summarize(values, bound=None):
    med = statistics.median(values)
    q1, q2, q3 = statistics.quantiles(values, n=4)
    iqr = (q3 - q1) / med
    s = {"values": values, "median": med, "q1": q1, "q3": q3,
         "iqr_share": iqr, "range_share": (max(values) - min(values)) / med}
    if bound is not None:
        s.update(bound=bound, within_third_of_bound=iqr < bound / 3)
    return s


def show(name, s):
    verdict = "" if "bound" not in s else \
        f"  bound {s['bound']}  {'ok' if s['within_third_of_bound'] else 'WIDE'}"
    print(f"  {name:12s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  q3 {s['q3']:12.4f}"
          f"  iqr/med {s['iqr_share']:.4f}  range/med {s['range_share']:.4f}{verdict}")


def measure(names, runs, first_seed, seconds, bounds):
    record = {}
    for w in names:
        seeds = range(first_seed, first_seed + runs)
        results = [run(w, s, seconds, 0) for s in seeds]
        bad = [r for r in results if not r["correct"] or r["failed"]]
        metrics = {m: summarize([r["metrics"][m]["value"] for r in results], bounds[m])
                   for m in bounds}
        secondary = {m: summarize([r["secondary"][m]["value"] for r in results])
                     for m in results[0]["secondary"]}
        record[w] = {"runs": len(results), "seeds": list(seeds), "incorrect_runs": len(bad),
                     "metrics": metrics, "secondary": secondary}
        print(f"{w}: seeds {seeds.start}-{seeds.stop - 1}, {len(bad)} incorrect runs")
        for m, s in {**metrics, **secondary}.items():
            show(m, s)
    return record


def agreement(first, later, better):
    out = {}
    for w in first:
        out[w] = {}
        for m, s in first[w]["metrics"].items():
            a, b = s["median"], later[w]["metrics"][m]["median"]
            shift = (b - a) / a
            worse = shift if better[m] == "lower" else -shift
            out[w][m] = {"median_first": a, "median_later": b, "shift": shift,
                         "bound": s["bound"], "within_bound": worse <= s["bound"]}
            print(f"  {w:12s} {m:10s} median {a:.4f} -> {b:.4f}  shift {shift:+.4f}"
                  f"  bound {s['bound']}  {'ok' if worse <= s['bound'] else 'WORSE'}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    record = {"sets": []}
    for i in range(args.sets):
        print(f"set {i + 1} of {args.sets}")
        record["sets"].append(measure(names, args.runs, i * args.runs + 1,
                                      bench["run_seconds"], bounds))
        if args.out:  # written after every set, so a cut series keeps its sets
            Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    if args.sets > 1:
        print("agreement of later sets with the first")
        first = record["sets"][0]
        record["agreement"] = [agreement(first, s, better) for s in record["sets"][1:]]
        if args.out:
            Path(args.out).write_text(json.dumps(record, indent=1) + "\n")


if __name__ == "__main__":
    main()
