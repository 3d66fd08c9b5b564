#!/usr/bin/env python3
"""Compares two Vcf2Db parquet databases table by table.

Usage: python3 tools/same_db.py <dbDirA> <dbDirB>

A database directory holds up to four tables, each a directory of
parquet files: variants, variant_impacts, samples and vcf_header. Two
databases are the same when they hold the same tables and, for each
table, the same columns with the same DuckDB types in the same order and
the same rows as a multiset (EXCEPT ALL both ways: duplicates count,
NULLs match NULLs, genotype blobs compare byte for byte, doubles
exactly). File names, file counts, row order and commit markers are
not compared. Prints one line per table and exits 0 when every table
matches, 1 otherwise.
"""
import os
import sys

import duckdb

TABLES = ("variants", "variant_impacts", "samples", "vcf_header")


def present(db):
    return {t for t in TABLES if os.path.isdir(os.path.join(db, t))}


def relation(db, table):
    glob = os.path.join(db, table, "*.parquet").replace("'", "''")
    return f"read_parquet('{glob}')"


def compare(con, a, b, table):
    ra, rb = relation(a, table), relation(b, table)
    ta = con.execute(f"DESCRIBE SELECT * FROM {ra}").fetchall()
    tb = con.execute(f"DESCRIBE SELECT * FROM {rb}").fetchall()
    cols_a = [(r[0], r[1]) for r in ta]
    cols_b = [(r[0], r[1]) for r in tb]
    if cols_a != cols_b:
        only_a = [c for c in cols_a if c not in cols_b]
        only_b = [c for c in cols_b if c not in cols_a]
        return False, f"columns differ: only in A {only_a}, only in B {only_b}" + (
            "" if only_a or only_b else " (order)")
    n_a = con.execute(f"SELECT count(*) FROM {ra}").fetchone()[0]
    n_b = con.execute(f"SELECT count(*) FROM {rb}").fetchone()[0]
    a_not_b = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {ra} EXCEPT ALL SELECT * FROM {rb})").fetchone()[0]
    b_not_a = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {rb} EXCEPT ALL SELECT * FROM {ra})").fetchone()[0]
    ok = n_a == n_b and a_not_b == 0 and b_not_a == 0
    return ok, f"rows {n_a} vs {n_b}, {len(cols_a)} columns, " \
        f"{a_not_b} rows only in A, {b_not_a} only in B"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    a, b = argv[1], argv[2]
    for d in (a, b):
        if not os.path.isdir(d):
            sys.exit(f"same_db: {d} is not a directory")
    con = duckdb.connect()
    same = True
    for t in TABLES:
        in_a, in_b = t in present(a), t in present(b)
        if not in_a and not in_b:
            continue
        if in_a != in_b:
            print(f"{t}: DIFF present only in {'A' if in_a else 'B'}")
            same = False
            continue
        ok, detail = compare(con, a, b, t)
        print(f"{t}: {'SAME' if ok else 'DIFF'} {detail}")
        same &= ok
    if not (present(a) or present(b)):
        print("no Vcf2Db tables in either directory")
        same = False
    print("SAME" if same else "DIFFERENT")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
