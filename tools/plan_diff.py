#!/usr/bin/env python3
"""Per-query diff of two `graft.ExplainQ` logs.

Usage: python3 tools/plan_diff.py <explainA.log> <explainB.log>

Each log is the stdout of `runMain graft.ExplainQ <sfDir> <q1>,<q2>,...`.
Before comparing, each plan line is normalized for what changes from run
to run on unchanged code: expression ids (`#12`), `plan_id`, whole-stage
codegen ids, AQE query-stage ids of cached frames (`Arguments: 14`),
lambda addresses, and the log lines sbt interleaves with stdout. Prints
the queries whose plans differ; exit 1 if any does.
"""
import re
import sys

NORM = [(r"#\d+", "#N"), (r"plan_id=\d+", "plan_id=N"),
        (r"\[codegen id : \d+\]", "[codegen id : N]"),
        (r"^Arguments: \d+$", "Arguments: N"),
        (r"\$\$Lambda\$?[\d/x0-9a-f]*@[0-9a-f]+", "$$Lambda")]


def load(path):
    plans, cur = {}, None
    for line in open(path, encoding="utf-8"):
        line = re.sub(r"^\[info\] ", "", line.rstrip("\n"))
        m = re.match(r"^===== (q_\w+) @ ", line)
        if m:
            cur = m.group(1)
            plans[cur] = []
        elif cur and not re.match(r"^\[(error|warn|success)\]", line):
            for pat, rep in NORM:
                line = re.sub(pat, rep, line)
            plans[cur].append(line)
    return plans


def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    diff = [q for q in sorted(set(a) | set(b)) if a.get(q) != b.get(q)]
    print(f"{len(a)} vs {len(b)} queries; plans differ: {diff or 'none'}")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
