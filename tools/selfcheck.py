#!/usr/bin/env python3
"""DuckDB oracle check of a `graft.Verify` run.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOut>

Registers every `<sfDir>/*.parquet` as a view named by its file stem, runs
each query of `<verifyOut>/oracle_sql.json`, and compares it with the
parquet `graft.Verify` wrote for that query (`<verifyOut>/<name>`): the
column names in order, and the rows as a multiset. Prints one line per
mismatch, then `passed/total`, and exits 1 if any query mismatched.
"""
import collections
import decimal
import json
import pathlib
import sys

import duckdb


def norm(v):
    """A hashable, order-free-comparable form of one value."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def fetch(con, sql):
    rel = con.sql(sql)
    return list(rel.columns), collections.Counter(tuple(norm(v) for v in r) for r in rel.fetchall())


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    sf_dir, out_dir = pathlib.Path(argv[1]), pathlib.Path(argv[2])
    con = duckdb.connect()
    for p in sorted(sf_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW \"{p.stem}\" AS SELECT * FROM read_parquet('{p}')")
    oracles = json.loads((out_dir / "oracle_sql.json").read_text())
    passed = 0
    for name, sql in oracles.items():
        got_dir = out_dir / name
        if not any(got_dir.glob("*.parquet")):
            print(f"MISMATCH {name}: no graft.Verify output at {got_dir}")
            continue
        try:
            want_cols, want = fetch(con, sql)
        except duckdb.Error as e:
            print(f"MISMATCH {name}: oracle SQL failed: {e}")
            continue
        got_cols, got = fetch(con, f"SELECT * FROM read_parquet('{got_dir}/*.parquet')")
        if got_cols != want_cols:
            print(f"MISMATCH {name}: columns {got_cols} != oracle {want_cols}")
        elif got != want:
            extra, missing = got - want, want - got
            print(f"MISMATCH {name}: {sum(extra.values())} extra rows (e.g. {list(extra)[:2]}), "
                  f"{sum(missing.values())} missing (e.g. {list(missing)[:2]})")
        else:
            passed += 1
    print(f"{passed}/{len(oracles)}")
    return 0 if passed == len(oracles) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
