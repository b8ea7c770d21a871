"""Per-metric medians, quartiles and pair wins of an ab.py record file.

    python3 summ.py <ab.jsonl>
"""
import json, sys, statistics as st
recs = [json.loads(l) for l in open(sys.argv[1])]
metrics = ["setup_s", "op_gmean_s", "ops_per_s", "cpu_s", "heap_live_mb"]
lower = {"ops_per_s": False}
def q(xs):
    xs = sorted(xs); n = len(xs)
    qs = st.quantiles(xs, n=4, method="inclusive") if n > 1 else [xs[0]] * 3
    return qs
by = {}
for r in recs:
    by.setdefault(r["pair"], {})[r["side"]] = r
out = {}
for m in metrics:
    P = [by[k]["parent"]["result"]["metrics"][m]["value"] for k in sorted(by) if "parent" in by[k] and "change" in by[k]]
    C = [by[k]["change"]["result"]["metrics"][m]["value"] for k in sorted(by) if "parent" in by[k] and "change" in by[k]]
    better_low = lower.get(m, True)
    wins = sum((c < p) if better_low else (c > p) for p, c in zip(P, C))
    qp, qc = q(P), q(C)
    out[m] = {"parent_q1_med_q3": [round(x, 4) for x in qp], "change_q1_med_q3": [round(x, 4) for x in qc],
              "wins": f"{wins}/{len(P)}", "median_delta": round(qc[1] - qp[1], 4),
              "rel": round((qc[1] - qp[1]) / qp[1], 4), "parent_iqr": round(qp[2] - qp[0], 4)}
fails = {s: sum(r["result"]["failed"] for r in recs if r["side"] == s) for s in ("parent", "change")}
rounds = {s: [r["run"]["rounds"] for r in recs if r["side"] == s] for s in ("parent", "change")}
print(json.dumps({"metrics": out, "failed": fails, "rounds": rounds}, indent=1))
