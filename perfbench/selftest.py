#!/usr/bin/env python3
"""Self-test of the benchmark at toy sizes.

    python3 perfbench/selftest.py

For every workload it checks that a clean run prints every metric named in
BENCHMARK.json with its unit (end-to-end with --trace 0, per-layer with
--trace 1) and is correct, and that a run whose expected results are
corrupted reports failures (ok_frac < 1). It also checks that the benchmark
refuses to run, without printing a result, in a directory that holds only
BENCHMARK.json and the benchmark's own files. Exits 0 when all hold.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, workload, trace, corrupt=0):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
           "--corrupt-expected", str(corrupt)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, out, err = run(ROOT, w, trace)
            expect(rc == 0, f"{w} trace={trace}: exit 0")
            if rc != 0:
                print(err[-2000:])
                continue
            res = json.loads(out.splitlines()[-1])
            expect(sorted(res) == ["attempted", "correct", "failed", "metrics"],
                   f"{w} trace={trace}: result keys")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace}: outputs correct")
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)),
                       f"{w} trace={trace}: {m['name']} in {m['unit']}")
        rc, out, err = run(ROOT, w, 0, corrupt=1)
        res = json.loads(out.splitlines()[-1]) if rc == 0 else None
        expect(res is not None and not res["correct"] and res["failed"] > 0
               and res["metrics"]["ok_frac"]["value"] < 1.0,
               f"{w}: a corrupted expected result is reported as failed")

    bare = os.path.join(ROOT, ".bench_build", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target"))
    rc, out, _ = run(bare, bench["workloads"][0]["name"], 0)
    expect(rc != 0 and not out.strip(), "refuses to run without the library's sources")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"\n{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
