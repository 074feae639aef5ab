#!/usr/bin/env python3
"""graft benchmark: one command runs one named workload, checks its outputs
and prints its metrics.

    python3 perfbench/run.py --workload <kg_delta|ops_sweep> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
bench (sbt, offline) and keeps the classpath under perfbench/.work/build;
later runs reuse it while the sources are unchanged. Each run then makes its
inputs from --seed, starts one JVM (graftbench.Main, at local[nproc]) that
sets up, runs iterations back to back until they add up to --seconds, and
checks each one. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end metrics
under --trace 0 and the per-layer metrics under --trace 1. The line before it
is the run record: host, session config, calibration probe, set-up parts and
every check that failed.
"""
import argparse
import collections
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("kg_delta", "ops_sweep")
HEAP = "3g"  # also the initial heap: a heap that grows during a run adds noise
RUN_LIMIT_S = 170  # a run ends within 180 s once the program is built

END_TO_END = [("run_s", "s"), ("cpu_s", "s"), ("setup_s", "s"), ("rows_per_s", "rows/s"),
              ("precision", "ratio"), ("recall", "ratio")]

PIPELINE_LAYERS = ["stage0", "kg.Extract", "kg.Candidates", "kg.Scoring",
                   "kg.Canonicalize", "kg.Delta", "io.StagedRun"]
PLANNED_LAYERS = ["kg.Candidates", "kg.Scoring", "kg.Canonicalize", "kg.Delta"]
OPS_LAYERS = ["ops.Dedup", "ops.Similarity", "ops.GraphOps", "ops.Bpe", "ops.RelOps",
              "ops.DocOps", "io.SnapshotTable", "ops.TextAnalysis"]
PER_LAYER = (
    [(f"{l}.{m}", u) for l in PIPELINE_LAYERS for m, u in [
        ("wall_s", "s"), ("task_s", "s"), ("util", "ratio"), ("skew", "ratio"),
        ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"), ("rows_out", "rows"),
        ("bytes_out", "bytes")]]
    + [(f"{l}.{m}", "count") for l in PLANNED_LAYERS
       for m in ["exchanges", "bhj", "shj", "smj", "sort_agg", "bnlj"]]
    + [("driver.wall_s", "s"),
       ("kg.Candidates.cands_per_mention", "ratio"),
       ("kg.Scoring.linked_per_mention", "ratio"),
       ("kg.Canonicalize.triples_per_link", "ratio")]
    + [(f"{l}.{m}", u) for l in OPS_LAYERS
       for m, u in [("wall_s", "s"), ("task_s", "s"), ("shuffle_bytes", "bytes")]]
    + [("jvm.gc_s", "s"), ("io.TableIO.ckpt_bytes", "bytes"), ("trace.run_s", "s")])

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += sorted(os.path.join(proj, f) for f in os.listdir(proj)
                            if f.endswith((".sbt", ".properties", ".scala")))
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compile the program and the bench; return the runtime classpath."""
    bdir = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            same = f.read() == stamp
        with open(cp_file) as f:
            cp = f.read()
        if same and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL, capture_output=True, text=True,
                           timeout=800)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if l.startswith("/") and ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (None where unavailable)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: a loaded host window shows here."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else None


def clean_stale(fixtures):
    """Remove work dirs of earlier runs whose process is gone, and scan
    fixtures built by other sources than these."""
    if not os.path.isdir(WORK):
        return
    for d in os.listdir(WORK):
        if d.startswith("fixtures-") and os.path.join(WORK, d) != fixtures:
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        elif d.startswith("run-"):
            try:
                os.kill(int(d.split("-")[-1]), 0)
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
            except PermissionError:
                pass


def run_jvm(cp, args, work, data, fixtures, cores, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    result = os.path.join(work, "result.json")
    cmd = ([java] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--data", data, "--cores", str(cores), "--result", result])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_FIXTURE_DIR=fixtures)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)

        def stop(*_):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            stop()
            fail("the run did not finish in time", 4)
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM exited with {p.returncode}", 5)
    with open(result) as f:
        return json.load(f)


def canon(rows, cols):
    """Columns sorted by name, values normalized, rows as a multiset: the way
    the operator oracle compare (tools/check_oracle.py) compares."""
    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 9)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            collections.Counter(tuple(norm(r[i]) for i in order) for r in rows))


def components_oracle(con, sql):
    """The fixpoint the kg_components oracle states (each node labelled with
    the least node id it reaches over undirected edges), computed by
    union-find over the oracle's own edges CTE. The oracle's recursive CTE
    enumerates every (node, reachable node) pair: about 5e9 rows on these
    tables, more than DuckDB can hold."""
    head, sep, _ = sql.partition(",\nue AS")
    if not sep:
        raise ValueError("the kg_components oracle no longer starts with an edges CTE")
    parent = {}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v
    for a, b in con.execute(head + "\nSELECT src, dst FROM edges").fetchall():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return ["node", "component"], [(v, find(v)) for v in parent]


def check_query(con, check, oracle_sql, q):
    """Compares one query's set-up result with its oracle, on a DuckDB cursor
    of its own. Returns (result rows, Spark rows compared, oracle rows,
    matched rows, what is wrong or None, seconds)."""
    t0 = time.perf_counter()
    cur = con.cursor()

    def out(rows=0, n_spark=0, n_oracle=0, matched=0, bad=None):
        return rows, n_spark, n_oracle, matched, bad, time.perf_counter() - t0
    d = os.path.join(check, q)
    if not os.path.isdir(d):
        return out(bad="no result written")
    try:
        got = cur.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        gcols, grows = [x[0] for x in got.description], got.fetchall()
    except Exception as e:  # an empty result writes no data file
        return out(bad=f"unreadable result: {e}")
    if q not in oracle_sql:
        return out(len(grows), bad=None if grows else "no rows")
    try:
        if q == "kg_components":
            ecols, erows = components_oracle(cur, oracle_sql[q])
        else:
            exp = cur.execute(oracle_sql[q])
            ecols, erows = [x[0] for x in exp.description], exp.fetchall()
    except Exception as e:
        return out(len(grows), bad=f"oracle failed: {e}")
    gc, gm = canon(grows, gcols)
    ec, em = canon(erows, ecols)
    if gc != ec:
        return out(len(grows), len(grows), len(erows),
                   bad=f"columns differ: spark={gc} oracle={ec}")
    m = sum((gm & em).values())
    if gm == em:
        return out(len(grows), len(grows), len(erows), m)
    only = [list((x - y).elements())[:3] for x, y in ((gm, em), (em, gm))]
    return out(len(grows), len(grows), len(erows), m,
               f"{len(grows) - m} of {len(grows)} rows differ from the oracle; columns {gc}, "
               f"Spark only: {only[0]}, oracle only: {only[1]}")


def oracle_compare(data, check, oracle_sql, queries):
    """DuckDB oracle compare of the set-up sweep's results, all queries side
    by side (DuckDB releases the GIL while it runs a query). Returns (result
    rows of one sweep, matched rows, Spark rows, oracle rows, mismatches,
    seconds per query)."""
    import duckdb
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with ThreadPoolExecutor(len(queries)) as pool:
        res = dict(zip(queries, pool.map(lambda q: check_query(con, check, oracle_sql, q),
                                         queries)))
    return (sum(r[0] for r in res.values()), sum(r[3] for r in res.values()),
            sum(r[1] for r in res.values()), sum(r[2] for r in res.values()),
            {q: r[4] for q, r in res.items() if r[4]}, {q: r[5] for q, r in res.items()})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources next to the benchmark ({need} is missing)", 2)

    stamp = source_stamp()
    cp = build(stamp)
    deadline = time.monotonic() + RUN_LIMIT_S
    fixtures = os.path.join(WORK, f"fixtures-{stamp[:16]}")
    clean_stale(fixtures)
    work = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    cpu0 = cpu_times()
    try:
        data, gen_s = os.path.join(work, "data"), []
        if args.workload == "ops_sweep":
            sys.path.insert(0, HERE)
            import gen_testdata
            for _ in range(3):
                t0 = time.perf_counter()
                gen_testdata.generate(args.seed, data)
                gen_s.append(time.perf_counter() - t0)
        rec = run_jvm(cp, args, work, data, fixtures, cores, deadline)
        if "fatal" in rec and "iterations" not in rec:
            fail(f"set-up failed: {rec['fatal']}", 6)
        iters = rec["iterations"]
        errors = [e for it in iters for e in it.get("errors", [])]
        if "fatal" in rec:
            errors.append(rec["fatal"])
        run_s = statistics.median(it["run_s"] for it in iters if "run_s" in it)
        cpu_s = statistics.median(it["cpu_s"] for it in iters if "cpu_s" in it)
        setup_s = rec["setup_s"]
        if args.workload == "kg_delta":
            attempted = len(iters)
            failed = sum(1 for it in iters if it.get("errors") or "run_s" not in it)
            rows = statistics.median(it["triples"] for it in iters if "triples" in it)
            precision = statistics.median(it["precision"] for it in iters if "precision" in it)
            recall = statistics.median(it["recall"] for it in iters if "recall" in it)
            check_s = [it["check_s"] for it in iters if "check_s" in it]
        else:
            setup_s += statistics.median(gen_s)
            queries = list(rec["queries"])
            rows, matched, n_spark, n_oracle, bad, check_s = oracle_compare(
                data, os.path.join(work, "check"), rec["oracle_sql"], queries)
            bad.update(rec.get("query_failures", {}))
            errors += [f"{q}: {why}" for q, why in sorted(bad.items())]
            attempted = len(queries) * len(iters)
            failed = len(bad) * len(iters)
            precision = matched / n_spark if n_spark else 0.0
            recall = matched / n_oracle if n_oracle else 0.0
        if args.trace:
            metrics = {name: {"value": statistics.median(
                it.get("layers", {}).get(name, 0.0) for it in iters), "unit": unit}
                for name, unit in PER_LAYER}
        else:
            values = {"run_s": run_s, "cpu_s": cpu_s, "setup_s": setup_s, "rows_per_s": rows / run_s,
                      "precision": precision, "recall": recall}
            metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
        record = {k: rec[k] for k in ("host", "setup", "session_s", "spans") if k in rec}
        record.update(workload=args.workload, seed=args.seed, trace=args.trace,
                      setup_gen_s=gen_s, iterations=len(iters),
                      cpu_steal_share=steal_share(cpu0, cpu_times()),
                      check_s=check_s,
                      iteration_s=[it.get("run_s") for it in iters],
                      query_s=[it["queries"] for it in iters if "queries" in it],
                      errors=errors)
        for e in errors:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
        print(json.dumps({"run_record": record}))
        print(json.dumps({"correct": not errors and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
