#!/usr/bin/env python3
"""Compare two Bench runs of the same queries: the exchanges/smj/bhj counts in
their detail records, and their final plans after normalization.

Usage: python3 plans/pr14/compare_plans.py <parent bench json> <change bench json> \
         <parent plans.txt> <change plans.txt>

The plan files are Bench's `<out>.plans.txt` with the `#id` suffixes stripped.
Normalization also drops what varies between two runs of one plan: exchange
plan ids, lambda variable suffixes, JVM lambda identity hashes, the identity
hashes of every array literal (`[J@…`, `[D@…`, `[Ljava.lang.String;@…`), and
AQE query-stage and codegen-stage numbers (the order in which concurrent stages
materialize).

Each query is also compared on its `== Initial Plan ==` section alone: the
physical plan before adaptive execution re-plans it. The final plan can differ
between two runs of one commit where AQE picks a join's broadcast side from
which query stage finished first; the initial plan cannot.
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
    (r"\[(?:[BCDFIJSZ]|L[\w.$]+;)@[0-9a-f]+", "[@H"),
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


def changed(a, b):
    return len([l for l in difflib.unified_diff(a, b, n=0)
                if l[:1] in "+-" and not l.startswith(("+++", "---"))]) // 2


def initial(lines):
    marks = [i for i, l in enumerate(lines) if "== Initial Plan ==" in l]
    return lines[marks[0] + 1:] if marks else lines


def main(bench_a, bench_b, plans_a, plans_b):
    da, db = json.load(open(bench_a))["detail"], json.load(open(bench_b))["detail"]
    pa, pb = sections(plans_a), sections(plans_b)
    same_counts = 0
    for q in sorted(da):
        ka = {k: da[q].get(k) for k in ("exchanges", "smj", "bhj")}
        kb = {k: db[q].get(k) for k in ("exchanges", "smj", "bhj")}
        same_counts += ka == kb
        print(f"{q:28s} {ka} {'==' if ka == kb else '!= ' + str(kb)}"
              f"  normalized plan lines changed: {changed(pa[q], pb[q])}"
              f", initial plan: {changed(initial(pa[q]), initial(pb[q]))}")
    print(f"\n{same_counts}/{len(da)} queries with equal exchanges/smj/bhj")
    return 0 if same_counts == len(da) else 1


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:5]))
