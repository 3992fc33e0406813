#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

    python3 tools/samerows.py OUT_A OUT_B

Each query's parquet output is read with DuckDB; columns are taken in name
order and rows sorted by all of them, as tools/compare.py does, and the
two sides must then agree on the column names, the row count and every
value (NaN equals NaN). Each mismatching query is printed with its first
difference; the exit status is 1 if any query mismatches or exists on one
side only, 0 otherwise.
"""
import math
import os
import sys

import duckdb


def queries(out_dir):
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def sorted_rows(con, out_dir, name):
    src = f"read_parquet('{os.path.join(out_dir, name)}/*.parquet')"
    cols = sorted(c[0] for c in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall())
    sel = ", ".join(f'"{c}"' for c in cols)
    return cols, con.sql(f"SELECT {sel} FROM {src} ORDER BY ALL").fetchall()


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def first_difference(con, dir_a, dir_b, name):
    cols_a, rows_a = sorted_rows(con, dir_a, name)
    cols_b, rows_b = sorted_rows(con, dir_b, name)
    if cols_a != cols_b:
        return f"columns {cols_a} vs {cols_b}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows vs {len(rows_b)}"
    for rn, (ra, rb) in enumerate(zip(rows_a, rows_b)):
        for c, a, b in zip(cols_a, ra, rb):
            if not same(a, b):
                return f"row {rn} col {c}: {a!r} vs {b!r}"
    return None


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    dir_a, dir_b = argv[1], argv[2]
    names_a, names_b = queries(dir_a), queries(dir_b)
    con = duckdb.connect()
    mismatches = 0
    for name in sorted(names_a | names_b):
        if name not in names_a or name not in names_b:
            print(f"{name}: only in {dir_a if name in names_a else dir_b}")
            mismatches += 1
            continue
        try:
            diff = first_difference(con, dir_a, dir_b, name)
        except duckdb.Error as e:
            diff = f"unreadable: {e}"
        if diff is not None:
            print(f"{name}: {diff}")
            mismatches += 1
    print(f"{len(names_a | names_b) - mismatches}/{len(names_a | names_b)} "
          f"queries identical, {mismatches} mismatches")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
