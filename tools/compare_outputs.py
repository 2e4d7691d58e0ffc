#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query, as row
multisets: for every query directory in either side, the column names and
types must be equal and DuckDB's EXCEPT ALL must be empty both ways. Row
order is not compared. Covers the queries without an oracle too.

usage: python3 tools/compare_outputs.py PARENT_OUT CHANGE_OUT
Exits 1 on any difference (a query missing on one side counts)."""
import glob
import os
import sys

import duckdb


def query_dirs(root):
    return {os.path.basename(p) for p in glob.glob(f"{root}/*") if os.path.isdir(p)}


def compare(con, name, parent, change):
    files = [sorted(glob.glob(f"{d}/{name}/*.parquet")) for d in (parent, change)]
    if not all(files):
        side = "parent" if not files[0] else "change"
        return f"no output on the {side} side"
    for view, fs in zip(("p", "c"), files):
        con.execute(f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM read_parquet({fs!r})")
    cols = [[r[:2] for r in con.execute(f"DESCRIBE {v}").fetchall()] for v in ("p", "c")]
    if cols[0] != cols[1]:
        return f"columns {cols[0]} vs {cols[1]}"
    only = [con.execute(f"SELECT count(*) FROM (SELECT * FROM {x} EXCEPT ALL "
                        f"SELECT * FROM {y})").fetchone()[0]
            for x, y in (("p", "c"), ("c", "p"))]
    if any(only):
        return f"{only[0]} rows only in parent, {only[1]} only in change"
    return None


def main(parent, change):
    con = duckdb.connect()
    names = sorted(query_dirs(parent) | query_dirs(change))
    diff = 0
    for name in names:
        try:
            why = compare(con, name, parent, change)
        except duckdb.Error as e:
            why = f"compare failed: {e}"
        if why:
            diff += 1
            print(f"DIFF {name}: {why}")
        else:
            print(f"same {name}")
    print(f"\n{len(names) - diff} same, {diff} differ, of {len(names)} queries")
    return 1 if diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
