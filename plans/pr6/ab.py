"""Alternating parent/change perfbench pairs; appends one JSON line per run.

    python3 ab.py <workload> <seed,seed,...> <out.jsonl> <parent-checkout> <change-checkout>

Each checkout is a clone of the commit it measures; pair i runs the parent
first when i is even and the change first when it is odd.
"""
import json, subprocess, sys, time
wl, seeds, out = sys.argv[1], [int(s) for s in sys.argv[2].split(",")], sys.argv[3]
sides = {"parent": sys.argv[4], "change": sys.argv[5]}
for i, seed in enumerate(seeds):
    order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
    for side in order:
        t0 = time.time()
        p = subprocess.run(["python3", "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                            "--seconds", "10", "--trace", "0"], cwd=sides[side],
                           capture_output=True, text=True)
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        rec = {"pair": i, "seed": seed, "side": side, "first": order[0], "rc": p.returncode,
               "wall_s": round(time.time() - t0, 1)}
        for l in lines:
            d = json.loads(l)
            if "perfbench" in d: rec["run"] = d["perfbench"]
            else: rec["result"] = d
        if p.returncode != 0: rec["stderr"] = p.stderr[-2000:]
        with open(out, "a") as f: f.write(json.dumps(rec) + "\n")
        print(side, seed, rec.get("result", {}).get("metrics", {}).get("cpu_s"), flush=True)
