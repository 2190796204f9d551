#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

    python3 tools/compare_verify.py <parent_out> <change_out>

For every query listed in both runs' queries.json, the result parquets are
compared on schema (column names and DuckDB types, in order) and on the
sorted multiset of rows, read with DuckDB as check_oracle.py does. The two
oracle_sql.json files are compared on keys and texts after each run's own
output directory is replaced by a placeholder (export oracles embed it).

Prints every differing query and exits 1 on any difference, 0 otherwise."""
import json
import os
import sys

import duckdb

PLACEHOLDER = "<OUT>"


def load(out_dir):
    with open(os.path.join(out_dir, "queries.json")) as f:
        names = json.load(f)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    return names, oracle


def result(con, out_dir, name):
    """(schema, sorted row reprs) of one query's result parquet, or None.
    Rows compare by repr, so NaN equals NaN and -0.0 differs from 0.0."""
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        return None
    rel = con.sql(f"SELECT * FROM '{d}/*.parquet'")
    schema = list(zip(rel.columns, (str(t) for t in rel.types)))
    rows = sorted(repr(r) for r in rel.fetchall())
    return schema, rows


def normalize(sql, out_dir):
    return sql.replace(os.path.abspath(out_dir), PLACEHOLDER).replace(out_dir, PLACEHOLDER)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    a_dir, b_dir = argv[1], argv[2]
    a_names, a_oracle = load(a_dir)
    b_names, b_oracle = load(b_dir)
    con = duckdb.connect()
    diffs = []

    for name in sorted(set(a_names) ^ set(b_names)):
        diffs.append((name, "listed in only one queries.json"))
    common = sorted(set(a_names) & set(b_names))
    for name in common:
        ra, rb = result(con, a_dir, name), result(con, b_dir, name)
        if ra is None or rb is None:
            if ra is not rb:
                diffs.append((name, "result missing in one run"))
            continue
        if ra[0] != rb[0]:
            diffs.append((name, f"schema {ra[0]} != {rb[0]}"))
        elif ra[1] != rb[1]:
            b_rows = set(rb[1])
            only_a = len([r for r in ra[1] if r not in b_rows])
            diffs.append((name, f"rows differ ({len(ra[1])} vs {len(rb[1])} rows, "
                                f"{only_a} only in the first)"))

    for name in sorted(set(a_oracle) ^ set(b_oracle)):
        diffs.append((name, "oracle_sql.json key in only one run"))
    for name in sorted(set(a_oracle) & set(b_oracle)):
        if normalize(a_oracle[name], a_dir) != normalize(b_oracle[name], b_dir):
            diffs.append((name, "oracle_sql.json text differs"))

    for name, why in diffs:
        print(f"DIFF {name}: {why}")
    print(f"{len(common)} queries compared, {len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
