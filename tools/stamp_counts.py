#!/usr/bin/env python3
"""Stamp derived doc counts into README.md / MIGRATION.md.

Test totals and the BNLJ allowlist size typed by hand drift away from the
suite. This script makes the numbers DERIVED, never typed:

  - test count          <- "Total number of tests run: N" in an `sbt test`
                           log (pass the log path; the verify workflow tees
                           one anyway)
  - registered queries  <- the *.parquet result dirs of a fresh
                           `graft.Verify` dump
  - oracled queries     <- oracle_sql.json keys in the same dump
  - BNLJ allowlist      <- the `bnljAllowed` map literal in
                           InventoryLawSpec.scala

Usage:
  python3 tools/stamp_counts.py --sbt-log /tmp/test.log --verify-dir /tmp/v13
  python3 tools/stamp_counts.py --check ...   # exit 1 on drift, change nothing

Idempotent: stamps match the patterns they write.
"""
import argparse
import json
import pathlib
import re
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def parse_test_count(log_path):
    # sbt's aggregate "Passed: Total N" (the count a green `sbt test`
    # means), not scalatest's "tests run" (13 lower: excludes the
    # suite-level property containers sbt counts)
    txt = pathlib.Path(log_path).read_text(errors="replace")
    m = None
    for m in re.finditer(r"Passed: Total (\d+), Failed 0", txt):
        pass
    if not m:
        sys.exit(f"no green 'Passed: Total N, Failed 0' line in {log_path}")
    return int(m.group(1))


def parse_test_detail(log_path):
    """Exact scalatest figures for the round stamp (round-16 VERDICT #8):
    the 'Tests: succeeded N, failed F' and 'Suites: completed M' counts,
    taken from the LAST run summary in the log."""
    txt = pathlib.Path(log_path).read_text(errors="replace")
    mt = ms = None
    for mt in re.finditer(r"Tests: succeeded (\d+), failed (\d+)", txt):
        pass
    for ms in re.finditer(r"Suites: completed (\d+), aborted (\d+)", txt):
        pass
    if not mt or not ms:
        sys.exit(f"no scalatest summary lines in {log_path}")
    return (int(mt.group(1)), int(mt.group(2)),
            int(ms.group(1)), int(ms.group(2)))


def stamp_progress(n_tests, detail, n_queries, n_oracles, check):
    """Append the exact test/suite figures to PROGRESS.jsonl so a reader
    can diff them instead of re-running the suite; the round number is read
    from the latest record already in the file."""
    import time
    p = REPO / "PROGRESS.jsonl"
    rnd = None
    if p.exists():
        for line in p.read_text().splitlines():
            try:
                rnd = json.loads(line).get("round", rnd)
            except json.JSONDecodeError:
                pass
    rec = {"ts": time.time(), "kind": "test_stamp", "round": rnd,
           "tests": detail[0], "tests_failed": detail[1],
           "suites": detail[2], "suites_aborted": detail[3],
           "sbt_passed_total": n_tests,
           "queries": n_queries, "oracled": n_oracles}
    if check:
        print(f"test stamp (not written, --check): {json.dumps(rec)}")
        return
    with p.open("a") as f:
        f.write(json.dumps(rec) + "\n")
    print(f"stamped PROGRESS.jsonl: {json.dumps(rec)}")


def parse_verify_dir(verify_dir):
    d = pathlib.Path(verify_dir)
    queries = sorted(p.parent.name for p in d.glob("*/_SUCCESS"))
    oracles = sorted(json.loads((d / "oracle_sql.json").read_text()).keys())
    if not queries:
        sys.exit(f"no parquet result dirs under {verify_dir}")
    extra = set(oracles) - set(queries)
    if extra:
        sys.exit(f"oracles without dumped results (partial Verify run?): {extra}")
    return queries, oracles


def parse_bnlj_allowlist():
    src = (REPO / "src/test/scala/graft/InventoryLawSpec.scala").read_text()
    m = re.search(r"bnljAllowed\s*=\s*Map\((.*?)\)\n", src, re.S)
    if not m:
        sys.exit("bnljAllowed map not found in InventoryLawSpec.scala")
    return sorted(re.findall(r'"(\w+)"\s*->', m.group(1)))


def stamp(path, subs, check):
    p = REPO / path
    txt = orig = p.read_text()
    for pattern, repl in subs:
        txt, n = re.subn(pattern, repl, txt)
        if n != 1:
            sys.exit(f"{path}: pattern matched {n} times (want 1): {pattern}")
    if txt != orig:
        if check:
            print(f"DRIFT in {path}")
            return False
        p.write_text(txt)
        print(f"stamped {path}")
    else:
        print(f"{path} up to date")
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sbt-log", required=True,
                    help="file containing `sbt test` output")
    ap.add_argument("--verify-dir", required=True,
                    help="output dir of a fresh `graft.Verify` run")
    ap.add_argument("--check", action="store_true",
                    help="report drift and exit nonzero; change nothing")
    args = ap.parse_args()

    n_tests = parse_test_count(args.sbt_log)
    detail = parse_test_detail(args.sbt_log)
    queries, oracles = parse_verify_dir(args.verify_dir)
    stamp_progress(n_tests, detail, len(queries), len(oracles), args.check)
    rows_only = sorted(set(queries) - set(oracles))
    allow = parse_bnlj_allowlist()
    print(f"derived: {n_tests} tests, {len(queries)} queries, "
          f"{len(oracles)} oracled (rows-only: {', '.join(rows_only) or 'none'}), "
          f"{len(allow)} BNLJ allowances ({', '.join(allow)})")

    ok = True
    # all README spans anchored on HTML-comment markers: prose-anchored
    # regexes silently unmatch under rewording
    ok &= stamp("README.md", [
        (r"(?s)(<!-- stamp:tests -->).*?(<!-- /stamp:tests -->)",
         rf"\g<1>{n_tests}\g<2>"),
        (r"(?s)(<!-- stamp:bnlj -->).*?(<!-- /stamp:bnlj -->)",
         rf"\g<1>{len(allow)}\g<2>"),
        # the Verify/selfcheck bullet's oracled-of-registered pair
        (r"(?s)(<!-- stamp:oracled -->).*?(<!-- /stamp:oracled -->)",
         rf"\g<1>{len(oracles)} of {len(queries)}\g<2>"),
    ], args.check)
    # PLANS.md BNLJ-inventory table: the derived
    # allowlist is stamped next to the hand-written per-query bound table,
    # so spec/prose drift fails --check
    ok &= stamp("PLANS.md", [
        (r"(?s)(<!-- stamp:bnlj-list -->).*?(<!-- /stamp:bnlj-list -->)",
         rf"\g<1>{', '.join(allow)}\g<2>"),
    ], args.check)
    exc = len(queries) - len(oracles)
    # anchored on HTML-comment markers so editorial
    # rewording around the stamped span can never silently unmatch
    ok &= stamp("MIGRATION.md", [
        (r"(?s)(<!-- stamp:oracled -->).*?(<!-- /stamp:oracled -->)",
         rf"\g<1>({len(oracles)} of {len(queries)} registered queries —\n"
         f"the {exc} exception{'s' if exc != 1 else ''} "
         f"{'are' if exc != 1 else 'is'} float-iterative)" r"\g<2>"),
    ], args.check)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
