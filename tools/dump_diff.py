#!/usr/bin/env python3
"""Compare two graft.Verify dumps key by key.

Usage: dump_diff.py <verifyOutA> <verifyOutB>

A key is a sub-directory of a dump holding that operator's parquet
output. Per key, the schema (column names and types, in order) must
match, then the rows must match as multisets: EXCEPT ALL both ways,
exact values, NULL equal to NULL. A key present in only one dump (an
operator that failed or is new) is a difference. Prints one line per
differing key and a summary; exits 1 on any difference, 0 when every
key is row-identical. Uses DuckDB; row order is not compared.
"""
import glob
import os
import sys

import duckdb


def keys(dump):
    return {k for k in os.listdir(dump) if os.path.isdir(os.path.join(dump, k))}


def source(dump, key):
    files = sorted(glob.glob(os.path.join(dump, key, "*.parquet")))
    return "read_parquet([%s])" % ", ".join("'%s'" % f for f in files)


def diff_key(con, a, b):
    """None when a and b (parquet sources) hold the same rows, else why not."""
    schema_a = con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()
    schema_b = con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()
    cols_a = [(r[0], r[1]) for r in schema_a]
    cols_b = [(r[0], r[1]) for r in schema_b]
    if cols_a != cols_b:
        return f"schema {cols_a} != {cols_b}"
    only_a = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
    only_b = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})").fetchone()[0]
    if only_a or only_b:
        return f"{only_a} rows only in A, {only_b} rows only in B"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    dump_a, dump_b = sys.argv[1], sys.argv[2]
    ka, kb = keys(dump_a), keys(dump_b)
    con = duckdb.connect()
    n_diff = 0
    for key in sorted(ka | kb):
        if key not in kb or key not in ka:
            why = "missing in " + ("B" if key in ka else "A")
        else:
            try:
                why = diff_key(con, source(dump_a, key), source(dump_b, key))
            except duckdb.Error as e:
                why = f"error: {e}"
        if why:
            n_diff += 1
            print(f"DIFF {key}: {why}")
    n = len(ka | kb)
    print(f"[dump_diff] {n - n_diff}/{n} keys row-identical")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
