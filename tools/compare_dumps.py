#!/usr/bin/env python3
"""Partitioning-invariance comparator: given two graft.Verify output
dirs produced with DIFFERENT parallelism (SPARK_GRAFT_CPUS), compare
every entry's rows exactly (same canonicalization as oracle_check.py:
columns sorted by name, rows sorted, str/repr rendering). The census
design claim is that every gate query is a pure function of the data —
md5-deterministic selections, integer-exact comparisons, first-min
tie-breaks — so a different partitioning (which IS what a 1000-executor
cluster changes) must not move a single value. Documented exceptions
(engine-internal sketch state whose merge order is partitioning-
dependent) pass via PARTITION_VARIANT_ALLOW (comma-separated names) —
they are still checked for schema + row count.
The same comparison serves refactor equivalence: Verify outputs of a
parent and a changed checkout, run with the SAME SPARK_GRAFT_CPUS, must
match on every entry (this also covers entries whose oracle checks only
the row count).
Usage: compare_dumps.py <outDirA> <outDirB>
"""
import math, os, sys
import pyarrow.parquet as pq

ALLOW = {n.strip() for n in
         os.environ.get("PARTITION_VARIANT_ALLOW", "").split(",")
         if n.strip()}

dir_a, dir_b = sys.argv[1], sys.argv[2]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def load(d):
    tbl = pq.read_table(d)
    cols = tbl.column_names
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = [tbl.column(i).to_pylist() for i in range(len(cols))]
    rows = sorted(tuple(canon(data[i][r]) for i in order)
                  for r in range(tbl.num_rows))
    return sorted(cols), rows


names_a = {n for n in os.listdir(dir_a) if os.path.isdir(os.path.join(dir_a, n))}
names_b = {n for n in os.listdir(dir_b) if os.path.isdir(os.path.join(dir_b, n))}
fails = ok = allowed = 0
for n in sorted(names_a | names_b):
    if n not in names_a or n not in names_b:
        print(f"X {n:24s} MISSING from one dump "
              f"(a={n in names_a}, b={n in names_b})")
        fails += 1
        continue
    ca, ra = load(os.path.join(dir_a, n))
    cb, rb = load(os.path.join(dir_b, n))
    if ca != cb:
        print(f"X {n:24s} SCHEMA: {ca} vs {cb}")
        fails += 1
        continue
    if ra == rb:
        print(f"✓ {n:24s} {len(ra)} rows identical")
        ok += 1
        continue
    if n in ALLOW and len(ra) == len(rb):
        print(f"~ {n:24s} differs (ALLOWLISTED sketch tier; "
              f"{len(ra)} rows both sides)")
        allowed += 1
        continue
    bad = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y),
               min(len(ra), len(rb)))
    print(f"X {n:24s} VALUE/ROWS differ at sorted row {bad} "
          f"(rows {len(ra)} vs {len(rb)}):")
    if bad < len(ra):
        print(f"    a={ra[bad]}")
    if bad < len(rb):
        print(f"    b={rb[bad]}")
    fails += 1
suffix = f", {allowed} allowlisted-variant" if allowed else ""
print(f"\n{ok} identical, {fails} failed{suffix}")
sys.exit(1 if fails else 0)
