#!/usr/bin/env python3
"""Compare gen.py's seeded tables with the engine's reference testdata.

    python3 perfbench/compare_inputs.py <reference-dir> <oracle_sql.json>
        [--seeds 1 2 3] [--sf 0.01] [--out perfbench/results/inputs_vs_reference.json]

<reference-dir> holds the reference tables at scale factor --sf (one
parquet file per table); <oracle_sql.json> maps gate names to their DuckDB
oracle SQL, as `graft.Verify` writes it. For the reference and for each
seed it records, per table, the row count and each scalar column's min,
max and exact distinct count, and, per gate, the row count of the oracle
query's result. It prints the gates whose row count on some seed differs
from the reference's by more than a tenth. DuckDB runs each query with a
time limit; a query over it counts as not run.
"""
import argparse
import json
import sys
import tempfile
import threading
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
sys.path[:0] = [str(BENCH), str(BENCH.parent / "tools")]
import gen  # noqa: E402
from localcheck import TABLES  # noqa: E402


def connect(d):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    return con


def profile(con):
    out = {}
    for t in TABLES:
        p = {"rows": con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]}
        for c, ty, *_ in con.execute(f"DESCRIBE {t}").fetchall():
            if "[]" not in ty:
                p[c] = list(con.execute(
                    f"SELECT min({c})::VARCHAR, max({c})::VARCHAR, COUNT(DISTINCT {c}) FROM {t}").fetchone())
        out[t] = p
    return out


def gate_rows(con, oracles, limit_s):
    out = {}
    for g, sql in sorted(oracles.items()):
        timer = threading.Timer(limit_s, con.interrupt)
        timer.start()
        try:
            out[g] = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
        except Exception:  # noqa: BLE001 - a query that fails or runs over is "not run"
            out[g] = None
        finally:
            timer.cancel()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference")
    ap.add_argument("oracles")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--limit-s", type=float, default=15)
    ap.add_argument("--out")
    a = ap.parse_args()
    oracles = json.loads(Path(a.oracles).read_text())
    res = {}
    with tempfile.TemporaryDirectory() as tmp:
        dirs = {"reference": a.reference}
        for s in a.seeds:
            dirs[f"seed{s}"] = f"{tmp}/seed{s}"
            gen.write(dirs[f"seed{s}"], s, a.sf)
        for name, d in dirs.items():
            con = connect(d)
            res[name] = {"tables": profile(con), "gates": gate_rows(con, oracles, a.limit_s)}
    ref = res["reference"]
    seeds = [k for k in res if k != "reference"]
    for t, p in ref["tables"].items():
        for c, v in p.items():
            got = [res[s]["tables"][t][c] for s in seeds]
            print(f"{t}.{c}: reference {v}; " + "; ".join(f"{s} {g}" for s, g in zip(seeds, got)))
    ran = [g for g, n in ref["gates"].items() if n is not None]
    off = {g: [res[s]["gates"][g] for s in seeds] for g in ran
           if any(res[s]["gates"][g] is None or abs(res[s]["gates"][g] - ref["gates"][g])
                  > 0.1 * max(1, ref["gates"][g]) for s in seeds)}
    print(f"gates run on the reference: {len(ran)} of {len(oracles)}; "
          f"row count off by more than a tenth on some seed: {len(off)}")
    for g, got in off.items():
        print(f"  {g}: reference {ref['gates'][g]}, seeds {got}")
    if a.out:
        Path(a.out).write_text(json.dumps(res, indent=1) + "\n")


if __name__ == "__main__":
    main()
