#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query: each result is read,
its columns sorted by name and its rows by value, and hashed cell by cell
(the canonical form tools/check_oracle.py compares). Prints one line per
query: SAME or DIFF with both hashes and row counts.

Usage: python3 plans/pr15/compare_dumps.py <dumpA> <dumpB> <query>...
"""
import hashlib, sys
import pandas as pd

def digest(path):
    df = pd.read_parquet(path)
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.md5()
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest(), len(df)

a, b, queries = sys.argv[1], sys.argv[2], sys.argv[3:]
for q in queries:
    (ha, na), (hb, nb) = digest(f"{a}/{q}"), digest(f"{b}/{q}")
    print(f"{'SAME' if ha == hb else 'DIFF'} {q} rows {na}/{nb} md5 {ha} {hb}")
