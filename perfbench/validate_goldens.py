#!/usr/bin/env python3
"""Check the recorded query goldens against the DuckDB oracle.

Run after ``python3 perfbench/run.py --record-goldens``, which dumps every
row's full result as parquet (with its oracle SQL) next to the fixture it
ran on. For each fixture this runs ``tools/check.py`` — the engine's
DuckDB comparison: columns sorted by name, rows sorted, exact values —
and checks that each dumped result has the row count its golden records.
Rows without an oracle are checked for row count only.

Usage: python3 perfbench/validate_goldens.py
"""
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
FIXTURES = {"base": "query_fixture", "x10": "query_x10", "smoke": "smoke"}


def main():
    ok = True
    for fixture, golden in FIXTURES.items():
        data = os.path.join(WORK, "data", fixture)
        dump = os.path.join(WORK, "jvm", "dump", fixture)
        if not os.path.isdir(dump):
            print(f"skip {fixture}: no dump (run run.py --record-goldens)")
            continue
        print(f"== {fixture}")
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                            data, dump])
        ok = ok and r.returncode == 0
        rows = json.load(open(os.path.join(HERE, "goldens", f"{golden}.json")))["rows"]
        con = duckdb.connect()
        for name, g in sorted(rows.items()):
            n = con.sql(f"SELECT count(*) FROM read_parquet('{dump}/{name}/*.parquet')"
                        ).fetchone()[0]
            if n != g["rows"]:
                print(f"FAIL {name}: dump has {n} rows, golden {g['rows']}")
                ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
