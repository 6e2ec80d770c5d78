"""Summarise alternating parent/change perfbench runs (one JSON record per run, as in
the .jsonl files here): per end-to-end metric, both sides' quartiles, the median
gap, pair wins, and the gap against the bound BENCHMARK.json fixes.

Usage: python3 analyze_pairs.py <runs.jsonl>..."""
import json, sys, statistics as st
BOUND = {"rows_per_s": (0.25, "higher"), "cpu_s_per_mrow": (0.25, "lower"), "peak_rss_mb": (0.15, "lower"), "setup_s": (0.25, "lower")}
def q(xs):
    xs = sorted(xs); n = len(xs)
    def p(f):
        k = (n - 1) * f; i = int(k); j = min(i + 1, n - 1); return xs[i] + (xs[j] - xs[i]) * (k - i)
    return p(.25), p(.5), p(.75)
for path in sys.argv[1:]:
    recs = [json.loads(l) for l in open(path)]
    print(path, "runs", len(recs), "all correct", all(r["correct"] and r["rc"] == 0 for r in recs),
          "failed", sum((r.get("failed") or 0) for r in recs))
    for m, (b, better) in BOUND.items():
        by = {s: {r["pair"]: r["metrics"][m]["value"] for r in recs if r["side"] == s} for s in ("parent", "change")}
        P, C = q(list(by["parent"].values())), q(list(by["change"].values()))
        wins = sum(1 for k in by["parent"] if (by["change"][k] > by["parent"][k]) == (better == "higher") and by["change"][k] != by["parent"][k])
        rel = (C[1] - P[1]) / P[1]
        worse = -rel if better == "higher" else rel
        print(f"  {m}: parent q1/med/q3 {P[0]:.4g}/{P[1]:.4g}/{P[2]:.4g}  change {C[0]:.4g}/{C[1]:.4g}/{C[2]:.4g}  "
              f"median {rel*100:+.1f}%  change wins {wins}/{len(by['parent'])}  worse-by {worse*100:+.1f}% vs bound {b*100:.0f}%  "
              f"parent IQR/med {(P[2]-P[0])/P[1]*100:.1f}%")
