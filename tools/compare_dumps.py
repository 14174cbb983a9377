#!/usr/bin/env python3
"""Row-for-row comparison of two graft.Verify dumps of the same data.

Usage: python3 tools/compare_dumps.py <dumpA> <dumpB>

Every query directory in either dump must exist in the other and hold the
same rows in the same order, value for value: no float tolerance, NaN
equal to NaN. This is the "results must not change with the core count"
check for two Verify runs at different core counts; the oracle's 1e-6
tolerance cannot see last-bit differences. Exit 1 on any difference.
(Developer tooling only — the engine itself is the Scala library.)
"""
import math, os, sys
import duckdb

CHUNK = 100000


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def compare(con, a, b):
    """None when dirs a and b hold the same rows in the same order, else
    the first difference."""
    ra = con.sql(f"SELECT * FROM '{a}/*.parquet'")
    rb = con.sql(f"SELECT * FROM '{b}/*.parquet'")
    if ra.columns != rb.columns or ra.types != rb.types:
        return f"schema {list(zip(ra.columns, ra.types))} vs " \
               f"{list(zip(rb.columns, rb.types))}"
    offset = 0
    while True:
        xa, xb = ra.fetchmany(CHUNK), rb.fetchmany(CHUNK)
        if not xa and not xb:
            return None
        for i, (x, y) in enumerate(zip(xa, xb)):
            if not same(x, y):
                return f"row {offset + i}: {x!r} vs {y!r}"
        if len(xa) != len(xb):
            return f"row count differs at offset {offset + min(len(xa), len(xb))}"
        offset += len(xa)


def main(dump_a, dump_b):
    def queries(d):
        return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}
    qa, qb = queries(dump_a), queries(dump_b)
    con = duckdb.connect()
    n_ok = n_bad = 0
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            print(f"DIFF {q}: present in only one dump")
            n_bad += 1
            continue
        why = compare(con, os.path.join(dump_a, q), os.path.join(dump_b, q))
        if why is None:
            n_ok += 1
        else:
            print(f"DIFF {q}: {why}")
            n_bad += 1
    print(f"== {n_ok} identical, {n_bad} differ")
    return 1 if n_bad or not n_ok else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
