#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload sql_read --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the benchmark
(`perfbench/build.sbt`, cached until a source changes), generates the
seeded inputs, runs one workload in a fresh JVM as a single closed-loop
client, checks every output against DuckDB, and prints two JSON lines:

  {"perfbench": {...}}   run record: environment, load, extras, failures
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are its per-layer metrics, from a run that records
spans from outside the engine (see src/main/scala/perfbench/Trace.scala).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # import gen and tools/localcheck without leaving caches

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SF = 0.01            # input scale factor (TPC-H style; orders = 1.5M x sf)
BATCH_ROWS = 150     # orders per lake_ingest micro-batch
INIT_SHARE = 0.2     # share of orders loaded before the first operation
WORKLOADS = ("sql_read", "lake_ingest")
DEADLINE_S = 170     # whole run, unless this run also builds
BUILD_TIMEOUT_S = 850
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build depends on, in a stable order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile engine + benchmark with sbt; return the runtime classpath.

    The classpath is cached under perfbench/target, keyed by a hash of every
    build input, so only the first run after a change pays for sbt.
    """
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources next to perfbench/ (run from the repository root)")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"`{tool}` is not on PATH")
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    cache = BENCH / "target" / "perfbench.classpath"
    if cache.is_file():
        lines = cache.read_text().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1], False
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    cp = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not cp:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed", 1)
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(f"{stamp}\n{cp[-1].strip()}\n")
    return cp[-1].strip(), True


def stage_landing(data):
    """Split the seeded orders into the initial load and micro-batch files."""
    import pyarrow.parquet as pq
    orders = pq.read_table(data / "orders.parquet").select(
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"])
    landing = data / "landing"
    landing.mkdir()
    n0 = int(orders.num_rows * INIT_SHARE)
    pq.write_table(orders.slice(0, n0), landing / "init.parquet")
    lines = []
    for i, start in enumerate(range(n0, orders.num_rows, BATCH_ROWS)):
        b = orders.slice(start, BATCH_ROWS)
        name = f"batch_{i:05d}.parquet"
        pq.write_table(b, landing / name)
        top = max(b.column("o_orderkey").to_pylist())
        lines.append(f"{name}\t{b.num_rows}\t{top}\n")
    (landing / "batches.tsv").write_text("".join(lines))


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat (zeros elsewhere)."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, workload, seed, seconds, trace, data, work, cores, timeout):
    # two JIT compiler threads (one C1, one C2) rather than up to three:
    # the JIT is still compiling during the timed loop, and a JIT that
    # takes whatever cores are idle makes operation times follow the load
    # of the host's other guests
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:CICompilerCount=2",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
            str(trace), str(data), str(work), str(cores)]
    (work / "tmp").mkdir()
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out; see {work / 'jvm.log'}", 1)
    if code != 0 or not (work / "result.json").is_file():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"JVM exited with {code}; see {work / 'jvm.log'}", 1)
    return json.loads((work / "result.json").read_text())


def oracle_check(out):
    """sql_read: hash each gate's first output against its DuckDB oracle,
    canonicalized the way tools/localcheck.py does. Returns failing gates."""
    import duckdb
    sys.path.insert(0, str(ROOT / "tools"))
    from localcheck import TABLES, canon
    data = out.parent / "data"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for gate, sql in json.loads((out / "oracle_sql.json").read_text()).items():
        try:
            got = canon(con, f"SELECT * FROM read_parquet('{out}/{gate}/*.parquet')", gate)
            want = canon(con, sql, gate)
            if got != want:
                bad[gate] = f"rows {got[1]} vs oracle {want[1]}" if got[1] != want[1] else "hash mismatch"
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            bad[gate] = str(e)[:200]
    return bad


SUMMARY = ("COUNT(*) AS n, COALESCE(SUM(o_orderkey), 0) AS keys, "
           "COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR), '0') AS total")
COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


def replay_check(work, data, timed):
    """lake_ingest: replay the operation log in DuckDB. Returns the number of
    timed operations whose read differed, and whether the final table and
    dimension match the replay."""
    import duckdb
    sys.path.insert(0, str(ROOT / "tools"))
    from localcheck import canon
    landing = data / "landing"
    log = [json.loads(l) for l in (work / "oplog.jsonl").read_text().splitlines()]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT {COLS} FROM read_parquet('{landing}/init.parquet')")
    ingested = [f"{landing}/init.parquet"]

    def snap(v):
        con.execute(f"CREATE OR REPLACE TABLE v{v} AS SELECT * FROM t")

    def summary(rel):
        n, keys, total = con.execute(f"SELECT {SUMMARY} FROM {rel}").fetchone()
        return [int(n), int(keys), str(total)]

    def dim(files):
        src = " UNION ALL ".join(f"SELECT {COLS} FROM read_parquet('{f}')" for f in files)
        return (f"(SELECT {COLS} FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey "
                f"ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM ({src})) WHERE rn = 1)")

    snap(log[0]["version"])
    bad_reads = 0
    first_timed = len(log) - timed
    for i, o in enumerate(log):
        k = o["op"]
        if k == "ingest":
            con.execute(f"INSERT INTO t SELECT {COLS} FROM read_parquet('{landing}/{o['file']}')")
            ingested.append(f"{landing}/{o['file']}")
        elif k == "merge":
            con.execute("CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM t LIMIT 0")
            con.executemany("INSERT INTO src VALUES (?, ?, ?, ?, CAST(? AS TIMESTAMP), ?)", o["rows"])
            con.execute("UPDATE t SET o_totalprice = s.o_totalprice, o_orderstatus = s.o_orderstatus "
                        "FROM src s WHERE t.o_orderkey = s.o_orderkey")
            con.execute("INSERT INTO t SELECT * FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)")
        elif k == "update":
            keys = ", ".join(str(x) for x in o["keys"])
            con.execute(f"UPDATE t SET o_orderpriority = ? WHERE o_orderkey IN ({keys})", [o["priority"]])
        elif k == "delete":
            con.execute(f"DELETE FROM t WHERE o_orderkey = {o['key']}")
        if "post" in o and o["post"] != o["pre"]:
            snap(o["post"])
        ok = True
        got = [o.get("n"), o.get("keys"), o.get("total")]
        if k == "read_latest":
            ok = got == summary(f"t WHERE o_orderkey BETWEEN {o['lo']} AND {o['hi']}")
        elif k == "read_tt":
            ok = got == summary(f"v{o['version']}")
        elif k == "read_dim":
            ok = got == summary(dim(ingested[:o["batches"] + 1]))
        elif k == "read_changes":
            a, b = f"v{o['from']}", f"v{o['to']}"
            counts = con.execute(
                f"SELECT 'inserted', COUNT(*) FROM {b} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {a}) "
                f"UNION ALL SELECT 'deleted', COUNT(*) FROM {a} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {b}) "
                f"UNION ALL SELECT 'updated', COUNT(*) FROM {a} x JOIN {b} y USING (o_orderkey) "
                f"WHERE {' OR '.join(f'x.{c} IS DISTINCT FROM y.{c}' for c in COLS.split(', ')[1:])}"
            ).fetchall()
            ok = o["changes"] == sorted(f"{c}={n}" for c, n in counts if n)
        if not ok and i >= first_timed:
            bad_reads += 1
    out = work / "out"
    table_ok = canon(con, f"SELECT * FROM read_parquet('{out}/table/*.parquet')", "t") == \
        canon(con, "SELECT * FROM t", "t")
    dim_ok = canon(con, f"SELECT * FROM read_parquet('{out}/dim/*.parquet')", "d") == \
        canon(con, f"SELECT * FROM {dim(ingested)}", "d")
    return bad_reads, table_ok, dim_ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()
    t_start = time.time()
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_file.read_text())
    cp, built = build()
    # set-up time runs from here (the build is cached after a checkout's
    # first run) to the start of the first timed operation: inputs, JVM
    # start, session build, the workload's prepare and the warm-up round
    t_setup = time.time()

    cores = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    work = BENCH / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    sys.path.insert(0, str(BENCH))
    import gen
    input_bytes = gen.write(data, a.seed, SF)
    if a.workload == "lake_ingest":
        stage_landing(data)
    t_jvm = time.time()
    budget = DEADLINE_S - (time.time() - t_start) + (BUILD_TIMEOUT_S if built else 0)
    r = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data, work, cores, budget)

    t_check = time.time()
    ops = r["ops"]
    attempted = len(ops)
    failed_ops = {i for i, o in enumerate(ops) if not o["ok"]}
    checks = {}
    if a.workload == "sql_read":
        bad = oracle_check(work / "out")
        checks["oracle_mismatch"] = bad
        failed_ops |= {i for i, o in enumerate(ops) if o["name"] in bad}
        extra_failed = 0
    else:
        bad_reads, table_ok, dim_ok = replay_check(work, data, attempted)
        checks.update(bad_reads=bad_reads, table_ok=table_ok, dim_ok=dim_ok)
        writes = [i for i, o in enumerate(ops) if o["kind"] in ("ingest", "commit", "maintenance")]
        if not table_ok:
            failed_ops |= set(writes)
        if not dim_ok:
            failed_ops |= {i for i in writes if ops[i]["kind"] == "ingest"}
        extra_failed = bad_reads
    failed = min(attempted, len(failed_ops) + extra_failed)

    layers = dict(r["layers"])
    extras = r["extras"]
    if a.trace:
        n_ops = attempted
        timed_in = extras.get("timed_input_bytes") or 0
        layers["lake.write_amp"] = layers.get("lake.bytes_written", 0) * n_ops / timed_in if timed_in else 0.0
    e2e = dict(r["e2e"], setup_s=r["timed_start_epoch_s"] - t_setup)
    source = e2e if not a.trace else {**extras, **layers}
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        v = source.get(m["name"])
        metrics[m["name"]] = {"value": float(v) if isinstance(v, (int, float)) else 0.0, "unit": m["unit"]}

    ticks_after = cpu_ticks()
    record = {
        "workload": a.workload, "seed": a.seed, "sf": SF, "trace": a.trace,
        "nproc": cores, "master": f"local[{cores}]",
        "load_before": [round(x, 2) for x in load_before],
        "load_after": [round(x, 2) for x in os.getloadavg()],
        # CPU time the hypervisor gave to other guests during the run
        "steal_frac": round((ticks_after[0] - ticks_before[0]) /
                            max(1, ticks_after[1] - ticks_before[1]), 3),
        "input_bytes": input_bytes, "rounds": r["rounds"], "setup_s": e2e["setup_s"],
        # a run times a few clusters of operation times: their median jumps
        # between clusters and fewer than ten operations lie beyond the
        # 90th percentile, so both are reported here and not gated
        "op_p50_s": r["e2e"]["op_p50_s"], "op_p90_s": r["e2e"]["op_p90_s"],
        "phases_s": {"build": round(t_setup - t_start, 2), "inputs": round(t_jvm - t_setup, 2),
                     "jvm": round(t_check - t_jvm, 2),
                     "warmup": round(r["warmup_s"], 2), "timed": round(r["elapsed_s"], 2),
                     "finish": round(r["finish_s"], 2), "check": round(time.time() - t_check, 2)},
        "failed_frac": failed / attempted,
        "extras": {k: v for k, v in extras.items() if k != "timed_input_bytes"},
        "checks": checks,
        "errors": sorted({o["error"] for o in ops if o["error"]})[:5],
    }
    print(json.dumps({"perfbench": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
