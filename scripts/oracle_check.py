#!/usr/bin/env python3
"""Cross-check a Verify dump against its DuckDB oracles.

Usage: python3 scripts/oracle_check.py <sfDir> <verifyOutDir>

<sfDir> holds one <table>.parquet per input table (e.g. a testdata scale
factor); <verifyOutDir> is the output of
`sbt "runMain graft.Verify <sfDir> <verifyOutDir>"`: one parquet directory
per query plus oracle_sql.json. Each table becomes a DuckDB view, `{OUT}`
in an oracle becomes the dump dir, and every oracle prints one line:

    <name> rows=<n> digest=<sha256[:16]> <match|MISMATCH|no-dump|ERROR ...>

The digest is order-independent (sha256 over the sorted stringified
rows); `match` means the oracle's sorted stringified rows equal those of
the query's Verify parquet. Exits 1 if any oracle does not match.
"""
import hashlib
import json
import os
import sys

import duckdb


def rows(con, sql):
    return sorted(str(r) for r in con.execute(sql).fetchall())


def digest(rs):
    return hashlib.sha256("\n".join(rs).encode()).hexdigest()[:16]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sf_dir, out_dir = (os.path.abspath(a) for a in sys.argv[1:])
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{sf_dir}/{f}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = 0
    for name in sorted(oracles):
        try:
            got = rows(con, oracles[name].replace("{OUT}", out_dir))
        except duckdb.Error as e:
            bad += 1
            print(f"{name} ERROR {str(e).splitlines()[0]}")
            continue
        dump = os.path.join(out_dir, name)
        if not os.path.isdir(dump):
            verdict = "no-dump"
        elif rows(con, f"SELECT * FROM read_parquet('{dump}/*.parquet')") == got:
            verdict = "match"
        else:
            verdict = "MISMATCH"
        bad += verdict != "match"
        print(f"{name} rows={len(got)} digest={digest(got)} {verdict}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
