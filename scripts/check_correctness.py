#!/usr/bin/env python
"""Replicate the driver's correctness gate locally: run every
`queries()` entry at sf0.01, compare against its `oracle_sql()` twin
in DuckDB through the SAME machinery the tests use
(plans/oracle_check.py — one comparator, no drift), and write
CORRECTNESS_selfcheck.json. One command to know CORRECTNESS_r{N}
will be green before the driver runs:

    python scripts/check_correctness.py [sf_dir]

``--only q37,q38,...`` runs just the named entries (a full registry
name or its ``qNN`` prefix) and writes CORRECTNESS_subset.json
instead, leaving the full-run file untouched — a re-check of one
operator family in minutes:

    python scripts/check_correctness.py --only q73,q76,q79,q80
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _selected(names, only: str | None) -> list[str]:
    if not only:
        return list(names)
    wanted = {w.strip() for w in only.split(",") if w.strip()}
    picked = [n for n in names if n in wanted or n.split("_")[0] in wanted]
    matched = set(picked) | {n.split("_")[0] for n in picked}
    unknown = sorted(wanted - matched)
    if unknown:
        raise SystemExit(f"unknown registry entries: {', '.join(unknown)}")
    return picked


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0], usage="%(prog)s [--only ONLY] [sf_dir]"
    )
    ap.add_argument(
        "--only",
        help="comma-separated entries (full name or qNN prefix); "
        "writes CORRECTNESS_subset.json",
    )
    args, sys.argv[1:] = ap.parse_known_args()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from knowledge_harvest_from_lms_spark.plans.oracle_check import (
        check_query,
        duckdb_connection,
    )
    from knowledge_harvest_from_lms_spark.plans.queries import ORACLES, QUERIES
    from knowledge_harvest_from_lms_spark.session import get_session

    spark = get_session(cpus=8, shuffle_partitions=8, app_name="correctness-gate")
    con = duckdb_connection(sf_dir)

    results: dict[str, dict] = {}
    n_green = n_rows_only = n_fail = 0
    for name in _selected(QUERIES, args.only):
        entry: dict = {"ok": None, "issues": None, "err": None}
        try:
            issues = check_query(spark, con, name, sf_dir, QUERIES, ORACLES)
            if name not in ORACLES:
                entry["err"] = "no_oracle"
                n_rows_only += 1
                state = "rows-only"
            elif issues:
                entry["ok"] = False
                entry["issues"] = issues
                n_fail += 1
                state = "FAIL"
            else:
                entry["ok"] = True
                n_green += 1
                state = "OK"
        except Exception as e:  # broken query — the worst outcome
            entry["err"] = f"{type(e).__name__}: {e}"[:300]
            n_fail += 1
            state = "BROKEN"
        results[name] = entry
        print(f"{name:36s} {state}")
        if entry["issues"]:
            for i in entry["issues"][:3]:
                print(f"    {i}")

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CORRECTNESS_subset.json" if args.only else "CORRECTNESS_selfcheck.json",
    )
    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    print(
        f"\n{n_green} oracle-checked green, {n_rows_only} rows-only, "
        f"{n_fail} failures -> {out_path}"
    )
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
