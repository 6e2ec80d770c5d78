#!/usr/bin/env python3
"""Compare the query outputs of two `Verify` runs, for a refactor that must not
change any of them.

Usage: python3 tools/compare_outputs.py <parent verify dir> <change verify dir>

Each query's parquet parts are read, columns sorted by name and rows sorted, and
the result is hashed, so row order and part layout do not count; values, column
names and row counts do. Prints the queries found on one side only and each
query whose digest differs; exits 1 if there is any.
"""
import glob
import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def digest(path):
    parts = sorted(glob.glob(f"{path}/*.parquet"))
    if not parts:
        return None
    table = pa.concat_tables([pq.read_table(p) for p in parts], promote_options="default")
    cols = sorted(table.column_names)
    rows = sorted(json.dumps([r[c] for c in cols], default=str, sort_keys=True)
                  for r in table.select(cols).to_pylist())
    return hashlib.sha256(("|".join(cols) + "\n" + "\n".join(rows)).encode()).hexdigest()


def queries(root):
    return {q for q in os.listdir(root) if os.path.isdir(os.path.join(root, q))}


def main(a, b):
    qa, qb = queries(a), queries(b)
    print(f"only in {a}: {sorted(qa - qb)}\nonly in {b}: {sorted(qb - qa)}")
    both = sorted(qa & qb)
    differ = [q for q in both if digest(f"{a}/{q}") != digest(f"{b}/{q}")]
    for q in differ:
        print(f"DIFF {q}")
    print(f"{len(both) - len(differ)} equal / {len(differ)} different of {len(both)}")
    return 1 if differ or qa != qb else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
