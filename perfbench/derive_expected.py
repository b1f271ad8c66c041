#!/usr/bin/env python3
"""Regenerate the expected output digests in perfbench/expected/.

    python3 perfbench/derive_expected.py

Run from the repository root after the engine's outputs were deliberately
changed. It dumps every query the workloads run with graft.Verify (staged
paths redirected into the build dir), checks the dump against DuckDB with
tools/selfcheck.py, and records a query's digest only if the dump passed
that check (or the query has no oracle SQL, in which case the serial result
is pinned as it is) and the dump's digest equals a fresh live run's. Needs python duckdb and pandas.
"""
import json
import os
import shutil
import subprocess
import sys

import run


def main():
    queries = sorted(run.load_workloads()["modules"])
    jars = run.spark_jars()
    classes = run.build(jars)
    work = os.path.join(run.build_dir(), "derive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = os.path.join(work, "dump")
    digests = os.path.join(work, "digests.json")
    run.run_jvm(run.java_cmd(classes, jars, work), {
        "mode": "derive", "data": run.FIXTURES, "dump": dump, "out": digests,
        "queries": ",".join(queries), "cores": run.cores(), "work": work,
        "stage": os.path.join(work, "stage"),
    }, os.path.join(work, "derive.log"), timeout=1800)
    check = os.path.join(work, "selfcheck.json")
    with open(os.path.join(work, "selfcheck.log"), "w") as log:
        subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "selfcheck.py"),
                        "--json", check, run.FIXTURES, dump], check=False,
                       stdout=log, stderr=subprocess.STDOUT)
    with open(check) as f:
        status = {q: r["status"] for q, r in json.load(f)["queries"].items()}
    with open(digests) as f:
        got = json.load(f)
    expected, problems = {}, []
    for q in queries:
        live, dumped, st = got[q]["live"], got[q]["dump"], status.get(q)
        if st not in ("pass", "no_oracle"):
            problems.append(f"{q}: selfcheck {st}")
        elif "error" in live or live != dumped:
            problems.append(f"{q}: live {live} != dump {dumped}")
        else:
            expected[q] = {"rows": live["rows"], "hash": live["hash"],
                           "oracle": "duckdb" if st == "pass" else "serial"}
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{os.path.relpath(run.EXPECTED, run.ROOT)}: {len(expected)} digests, "
          f"{len(problems)} problems")
    for p in problems:
        print("  " + p)
    return 0 if not problems else 1

if __name__ == "__main__":
    sys.exit(main())
