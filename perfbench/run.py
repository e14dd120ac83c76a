#!/usr/bin/env python3
"""pivotspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark with sbt (perfbench/build.sbt) and records the launch line; later
runs start the JVM directly. Inputs are generated from --seed inside the
checkout, under .bench_build/. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it carries the
host fingerprint and sample counts. registry_mix results are also checked
against SparkEntry.oracleSql with DuckDB here, untimed.

Extra flags (used by selftest.py): --scale tiny runs toy sizes;
--corrupt-expected 1 makes every expected result wrong, so the run must
report failures.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "source.stamp")
WORKLOADS = ["pipeline_csv_avro", "pivot_wide", "registry_mix"]
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def source_id():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha():
    """The checkout's commit, or None when it is not a git work tree (the
    fingerprint's source_id then identifies the sources)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_group(cmd, cwd, env, timeout, log):
    """Runs cmd in its own process group; on timeout kills the whole group."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build(sid):
    """Compiles library + benchmark unless this exact source is built."""
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == sid:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                   HERE, env, BUILD_TIMEOUT_S, log)
    if rc != 0 or not os.path.exists(LAUNCH):
        die(f"build failed (exit {rc}):\n{tail(log)}", 3)
    with open(STAMP, "w") as f:
        f.write(sid)


def canon(df):
    """Columns sorted by name, rows sorted by their printed tuple."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        key = df.apply(lambda r: repr(tuple(r)), axis=1)
        df = df.assign(__k=key).sort_values("__k").drop(columns="__k")
    return df.reset_index(drop=True)


KCORE_K = 80  # graph_kcore's k


def exact_kcore(con):
    """graph_kcore's expected rows: the oracle's peel round, repeated until
    no edge is removed. SparkEntry.oracleSql unrolls a fixed 12 rounds, too
    few for some graphs (a seed-5 table needs more and leaves 9 extra parts)."""
    con.execute("""CREATE OR REPLACE TEMP TABLE kc_e AS
        WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem)
        SELECT DISTINCT a.item AS src, b.item AS dst
        FROM items a JOIN items b ON a.g = b.g AND a.item < b.item""")
    n = con.execute("SELECT count(*) FROM kc_e").fetchone()[0]
    while True:
        con.execute(f"""CREATE OR REPLACE TEMP TABLE kc_d AS SELECT id FROM (
            SELECT id, count(*) AS d FROM (SELECT src AS id FROM kc_e
              UNION ALL SELECT dst FROM kc_e) GROUP BY id) WHERE d >= {KCORE_K}""")
        con.execute("""CREATE OR REPLACE TEMP TABLE kc_e AS SELECT src, dst FROM kc_e
            WHERE src IN (SELECT id FROM kc_d) AND dst IN (SELECT id FROM kc_d)""")
        m = con.execute("SELECT count(*) FROM kc_e").fetchone()[0]
        if m == n:
            break
        n = m
    return con.execute("""SELECT id AS part, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT src AS id FROM kc_e UNION ALL SELECT dst FROM kc_e) GROUP BY id""").fetchdf()


def oracle_check(work, corrupt):
    """{query: None if its written result equals the DuckDB oracle, else why}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tables = os.path.join(work, "input", "tables")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{tables}/lineitem.parquet/*.parquet')")
    out = os.path.join(work, "output", "oracle")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    verdict = {}
    for i, (name, sql) in enumerate(sorted(sqls.items())):
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf())
            exp = exact_kcore(con) if name == "graph_kcore" else con.execute(sql).fetchdf()
            if corrupt and i == 0:
                exp = exp.iloc[1:] if len(exp) > 1 else exp.iloc[0:0]
            exp = canon(exp)
            verdict[name] = None if got.equals(exp) else (
                f"differs from oracle: got {got.shape}, expected {exp.shape}")
        except Exception as e:  # a failing oracle or read is a failed check
            verdict[name] = f"{type(e).__name__}: {e}"
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt-expected", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} at {ROOT}: run from a checkout of the library")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed")

    sid = source_id()
    build(sid)
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    trace_path = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
    # ParallelGC with a fixed heap: G1's concurrent threads compete with the
    # four task threads, and its runs measured slower and spread wider.
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result_path,
            "--trace-out", trace_path, "--source-id", sid, "--scale", a.scale,
            "--corrupt-expected", str(a.corrupt_expected)])
    log = os.path.join(BUILD, f"jvm-{a.workload}.log")
    t0 = time.time()
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    rc = run_group(cmd, ROOT, env, RUN_TIMEOUT_S, log)
    if rc != 0 or not os.path.exists(result_path):
        die(f"benchmark JVM failed (exit {rc}) after {time.time() - t0:.0f}s:\n{tail(log)}", 4)
    with open(result_path) as f:
        res = json.load(f)

    if a.workload == "registry_mix":
        for q, why in oracle_check(work, a.corrupt_expected == 1).items():
            if why is not None:
                res["failed"] += res["ops_ok"].get(q, 0)
                res["errors"].append(f"{q}: {why}")
        res["correct"] = res["failed"] == 0
        if "ok_frac" in res["metrics"]:
            res["metrics"]["ok_frac"]["value"] = 1.0 - res["failed"] / res["attempted"]
    for e in res["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)

    res["fingerprint"]["git_sha"] = git_sha()
    print(json.dumps({"fingerprint": res["fingerprint"], "errors": res["errors"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
