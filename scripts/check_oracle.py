#!/usr/bin/env python3
"""Compare a `graft.Verify` output directory with the DuckDB oracle.

Usage: python3 scripts/check_oracle.py SF_DIR VERIFY_OUT

SF_DIR holds the scale-factor tables (`*.parquet`); each is registered as
a DuckDB view named after its file stem. VERIFY_OUT is what
`runMain graft.Verify SF_DIR VERIFY_OUT` wrote: one parquet directory per
registry query plus `oracle_sql.json` (query name -> DuckDB SQL).

Each oracle query runs in DuckDB, and the query's Spark output is read
back through DuckDB too, so both sides are rendered to strings by one
engine. The sorted rows must be equal exactly. Prints one line per
query and a total; exits 1 on any mismatch or error.
"""
import glob
import json
import os
import sys

import duckdb


def rows(con, relation_sql):
    """The rows of `relation_sql`, every value rendered by DuckDB as
    VARCHAR (NULL stays None), sorted."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE _r AS {relation_sql}")
    cols = [r[0] for r in con.execute("DESCRIBE _r").fetchall()]
    if not cols:
        return []
    casts = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    out = con.execute(f"SELECT {casts} FROM _r").fetchall()
    return sorted(out, key=lambda r: tuple((v is None, v or "") for v in r))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    sf_dir, out_dir = argv[1], argv[2]
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        stem = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW \"{stem}\" AS "
                    f"SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(out_dir, "oracle_sql.json"), encoding="utf-8") as f:
        oracle = json.load(f)

    ok = 0
    for name in sorted(oracle):
        try:
            want = rows(con, oracle[name])
            files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
            got = rows(con, "SELECT * FROM read_parquet(["
                       + ", ".join(f"'{p}'" for p in files) + "])") \
                if files else []
        except Exception as e:  # a failing query is a mismatch, not a crash
            print(f"ERROR    {name}: {type(e).__name__}: {e}")
            continue
        if got == want:
            ok += 1
            print(f"ok       {name} ({len(want)} rows)")
        else:
            diff = next((i for i, (a, b) in enumerate(zip(got, want))
                         if a != b), min(len(got), len(want)))
            print(f"MISMATCH {name}: spark {len(got)} rows, oracle "
                  f"{len(want)} rows; first difference at sorted row {diff}")
    print(f"{ok}/{len(oracle)} queries equal their oracle")
    return 0 if ok == len(oracle) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
