"""Spark jobs and wall seconds per timed lake_ingest operation, by cycle.

    python3 opjobs.py <kept traced run dir>   # perfbench/.work/lake_ingest-<seed>-<pid>
"""
import json, sys, collections
d = sys.argv[1]
names = ["ingest", "read_changes", "merge", "read_latest", "read_tt", "update", "delete", "read_dim"]
def name(i):
    j = i % 18
    if j < 16: return f"c{j // 8 + 1}.{names[j % 8]}"
    return "compact" if j == 16 else "vacuum"
jobs = collections.Counter(); wall = {}
for l in open(f"{d}/spans.jsonl"):
    r = json.loads(l)
    if r["kind"] == "job" and r["op"] >= 0: jobs[r["op"]] += 1
    if r["kind"] == "op": wall[r["op"]] = (r["end_ms"] - r["start_ms"]) / 1e3
out = {}
for i in sorted(wall):
    out.setdefault(name(i), []).append((jobs[i], round(wall[i], 3)))
print(json.dumps(out))
