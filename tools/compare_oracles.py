#!/usr/bin/env python3
"""Compare the oracle SQL of two `Verify` runs.

`graft.Verify` writes every declared oracle to `<out>/oracle_sql.json`,
whatever its query filter, so a one-query run is a cheap dump:

    sbt -batch "runMain graft.Verify <sf0.01 dir> <out> t1_text_stats"

Usage: python3 tools/compare_oracles.py <old oracle_sql.json> <new oracle_sql.json>

Reports the names present on one side only, and for each shared name whether
its SQL differs in bytes only (equal once every whitespace run is collapsed
to one space) or in content. Exits 1 if any name is missing on either side
or any SQL differs after collapsing whitespace, 0 otherwise.
"""
import json
import re
import sys


def collapse(sql: str) -> str:
    return re.sub(r"\s+", " ", sql).strip()


def main(old_path: str, new_path: str) -> int:
    with open(old_path) as f:
        old = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    shared = sorted(set(old) & set(new))
    bytes_only = [n for n in shared if old[n] != new[n] and collapse(old[n]) == collapse(new[n])]
    content = [n for n in shared if collapse(old[n]) != collapse(new[n])]

    print(f"old: {len(old)} oracles, new: {len(new)} oracles, shared: {len(shared)}")
    for n in only_old:
        print(f"missing in new: {n}")
    for n in only_new:
        print(f"missing in old: {n}")
    print(f"byte-identical: {len(shared) - len(bytes_only) - len(content)}")
    print(f"whitespace-only differences: {len(bytes_only)}")
    for n in bytes_only:
        print(f"  {n}")
    print(f"content differences: {len(content)}")
    for n in content:
        a, b = collapse(old[n]), collapse(new[n])
        i = next((k for k in range(min(len(a), len(b))) if a[k] != b[k]), min(len(a), len(b)))
        print(f"  {n} (first difference at collapsed offset {i})")
        print(f"    old: ...{a[max(0, i - 60):i + 60]}...")
        print(f"    new: ...{b[max(0, i - 60):i + 60]}...")
    return 1 if only_old or only_new or content else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
