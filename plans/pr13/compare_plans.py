#!/usr/bin/env python3
"""Compare two Bench runs of the same queries: the exchanges/smj/bhj counts in
their detail records, and their final plans after normalization.

Usage: python3 plans/pr13/compare_plans.py plans/pr13/bench_4c_parent.json \
         plans/pr13/bench_4c_change.json plans/pr13/plans_parent.txt plans/pr13/plans_change.txt

The plan files are Bench's `<out>.plans.txt` with the `#id` suffixes stripped.
Normalization also drops what varies between two runs of one plan: exchange
plan ids, lambda variable suffixes, JVM lambda and array identity hashes, and
AQE query-stage and codegen-stage numbers (the order in which concurrent stages
materialize).
"""
import difflib
import json
import re
import sys

NORMALIZE = [
    (r"#[0-9]+L?", ""),
    (r"plan_id=[0-9]+", "plan_id=N"),
    (r"(lambda [a-z]+)_[0-9]+", r"\1"),
    (r"\$\$Lambda\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+", "$$Lambda"),
    (r"\[J@[0-9a-f]+", "[J@H"),
    (r"QueryStage [0-9]+", "QueryStage N"),
    (r"\*\([0-9]+\)", "*(N)"),
]


def sections(path):
    out, cur = {}, None
    for line in open(path):
        m = re.match(r"=== (\S+) ===", line)
        if m:
            cur = m.group(1)
            out[cur] = []
        elif cur:
            for pat, rep in NORMALIZE:
                line = re.sub(pat, rep, line)
            out[cur].append(line)
    return out


def main(bench_a, bench_b, plans_a, plans_b):
    da, db = json.load(open(bench_a))["detail"], json.load(open(bench_b))["detail"]
    pa, pb = sections(plans_a), sections(plans_b)
    same_counts = 0
    for q in sorted(da):
        ka = {k: da[q].get(k) for k in ("exchanges", "smj", "bhj")}
        kb = {k: db[q].get(k) for k in ("exchanges", "smj", "bhj")}
        same_counts += ka == kb
        changed = [l for l in difflib.unified_diff(pa[q], pb[q], n=0)
                   if l[:1] in "+-" and not l.startswith(("+++", "---"))]
        print(f"{q:28s} {ka} {'==' if ka == kb else '!= ' + str(kb)}"
              f"  normalized plan lines changed: {len(changed) // 2}")
    print(f"\n{same_counts}/{len(da)} queries with equal exchanges/smj/bhj")
    return 0 if same_counts == len(da) else 1


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:5]))
