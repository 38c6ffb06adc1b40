#!/usr/bin/env python3
"""Compare two graft.Verify dumps key by key: for every query dir, the
parquet schema (column names, types, nullability) and the rows in
stored order (part files in name order, rows in file order) must be
equal. Floats compare exactly (NaN equals NaN).

The oracle SQL of each key in the two `oracle_sql.json` files is
compared too: identical, whitespace-only different (equal once every
run of whitespace is one space and the ends are trimmed), or different.

Usage: compare_dumps.py <parentDir> <changeDir> [key ...]
Prints one line per differing key, then `== N same, M differ ==`; then
one line per key whose oracle SQL is not identical (`[SQL-WS]` or
`[SQL-DIFF]`), then `== oracle sql: N identical, M whitespace-only,
K different ==`. Exits non-zero on any parquet difference or any
different oracle SQL."""
import glob
import json
import os
import sys

import duckdb


def parts(out_dir, key):
    return sorted(glob.glob(os.path.join(out_dir, key, "*.parquet")))


def keys(out_dir):
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(os.path.join(out_dir, "*", "*.parquet"))}


def schema(con, files):
    """[(name, type, nullable)] of the dump: DuckDB's column types plus
    the parquet repetition of each top-level column in every part."""
    cols = con.execute("DESCRIBE SELECT * FROM read_parquet(?)", [files]).fetchall()
    nullable = {}
    for f in files:
        for name, rep in con.execute(
                "SELECT name, repetition_type FROM parquet_schema(?) "
                "WHERE name <> 'spark_schema'", [f]).fetchall():
            nullable.setdefault(name, set()).add(rep)
    return [(c[0], c[1], sorted(nullable.get(c[0], []))) for c in cols]


def rows(con, files):
    """Rows in stored order, floats by repr so NaN equals NaN."""
    return [repr(r) for r in con.execute(
        "SELECT * FROM read_parquet(?, file_row_number = false)", [files]).fetchall()]


def compare(con, a_dir, b_dir, key):
    """None when equal, else a one-line reason."""
    fa, fb = parts(a_dir, key), parts(b_dir, key)
    if not fa or not fb:
        return "missing on the %s side" % ("parent" if not fa else "change")
    sa, sb = schema(con, fa), schema(con, fb)
    if sa != sb:
        return "schema %s != %s" % (sa, sb)
    ra, rb = rows(con, fa), rows(con, fb)
    if len(ra) != len(rb):
        return "rows %d != %d" % (len(ra), len(rb))
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return "row %d: %s != %s" % (i, x, y)
    return None


def oracle_sql(out_dir):
    """{key: sql} of the dump's oracle_sql.json, or None when absent."""
    path = os.path.join(out_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def sql_kind(a, b):
    """'identical', 'whitespace' or 'different' for two SQL texts (None
    = the key is missing on that side)."""
    if a is None or b is None:
        return "different"
    if a == b:
        return "identical"
    if " ".join(a.split()) == " ".join(b.split()):
        return "whitespace"
    return "different"


def compare_sql(a_dir, b_dir, wanted):
    """Prints the oracle SQL comparison; returns the count of keys whose
    text is different."""
    sa, sb = oracle_sql(a_dir), oracle_sql(b_dir)
    if sa is None and sb is None:
        print("== oracle sql: no oracle_sql.json on either side ==")
        return 0
    sa, sb = sa or {}, sb or {}
    counts = {"identical": 0, "whitespace": 0, "different": 0}
    for key in wanted or sorted(set(sa) | set(sb)):
        kind = sql_kind(sa.get(key), sb.get(key))
        counts[kind] += 1
        if kind == "whitespace":
            print("[SQL-WS] %s" % key)
        elif kind == "different":
            print("[SQL-DIFF] %s" % key)
    print("== oracle sql: %d identical, %d whitespace-only, %d different =="
          % (counts["identical"], counts["whitespace"], counts["different"]))
    return counts["different"]


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    wanted = sys.argv[3:] or sorted(keys(a_dir) | keys(b_dir))
    con = duckdb.connect()
    same = differ = 0
    for key in wanted:
        why = compare(con, a_dir, b_dir, key)
        if why is None:
            same += 1
        else:
            differ += 1
            print("[DIFF] %s: %s" % (key, why))
    print("== %d same, %d differ ==" % (same, differ))
    sql_differ = compare_sql(a_dir, b_dir, sys.argv[3:])
    sys.exit(1 if differ or sql_differ else 0)


if __name__ == "__main__":
    main()
