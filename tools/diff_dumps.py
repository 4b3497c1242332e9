#!/usr/bin/env python3
"""Row-level diff of two graft.Verify dumps, query by query.

Usage: python3 tools/diff_dumps.py <parent_dump_dir> <change_dump_dir> [--only a,b]

A dump dir holds one <query>/ directory of parquet files per registered query
(what `graft.Verify <sf_dir> <out_dir>` writes). For every query in either
dir (or only the named ones) this checks, through DuckDB:
  - the query is dumped on both sides;
  - column names and types are equal, in order;
  - `EXCEPT ALL` is empty both ways, so the two results are the same
    multiset of rows (row order and file split do not matter; a duplicate
    row dropped or added does).
It prints one line per differing or missing query, then a summary line, and
exits 1 if any query differs or is missing.

When both dirs hold `oracle_sql.json` (the query → DuckDB SQL map Verify
writes), it also compares the two maps entry by entry after collapsing every
run of whitespace to one space, printing `SQLDIFF <name>` for each entry that
differs or is on one side only; any such entry also makes the exit status 1.
"""
import argparse
import json
import os
import re
import sys

import duckdb


def queries(d):
    """Names of the query dumps under `d`: subdirectories with parquet."""
    return {n for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n)) and any(
                f.endswith(".parquet") for f in os.listdir(os.path.join(d, n)))}


def scan(d, name):
    path = os.path.join(d, name, "*.parquet").replace("'", "''")
    return f"read_parquet('{path}')"


def diff(con, a, b, name):
    """None when the two dumps of `name` hold the same rows, else why not."""
    ta, tb = scan(a, name), scan(b, name)
    sa = con.sql(f"DESCRIBE SELECT * FROM {ta}").fetchall()
    sb = con.sql(f"DESCRIBE SELECT * FROM {tb}").fetchall()
    ca, cb = [(r[0], r[1]) for r in sa], [(r[0], r[1]) for r in sb]
    if ca != cb:
        return f"schema: parent {ca} change {cb}"
    only = [con.sql(f"SELECT count(*) FROM (SELECT * FROM {x} "
                    f"EXCEPT ALL SELECT * FROM {y})").fetchone()[0]
            for x, y in ((ta, tb), (tb, ta))]
    if any(only):
        n = [con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
             for t in (ta, tb)]
        return (f"rows: {only[0]} only in parent, {only[1]} only in change "
                f"(parent {n[0]} rows, change {n[1]})")
    return None


def oracle_sql(d):
    """The dump's query → SQL map with whitespace runs collapsed, or None."""
    path = os.path.join(d, "oracle_sql.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return {k: re.sub(r"\s+", " ", v).strip() for k, v in json.load(f).items()}


def sql_diffs(a, b, only=None):
    """(names compared, names whose collapsed SQL differs or is on one side
    only), or None unless both dumps hold oracle_sql.json."""
    sa, sb = oracle_sql(a), oracle_sql(b)
    if sa is None or sb is None:
        return None
    names = sorted((sa.keys() | sb.keys()) & (only or (sa.keys() | sb.keys())))
    return names, [n for n in names if sa.get(n) != sb.get(n)]


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--only", help="comma-separated query names")
    args = p.parse_args(argv)
    qa, qb = queries(args.parent), queries(args.change)
    names = sorted(qa | qb)
    if args.only:
        names = sorted(set(args.only.split(",")))
    con = duckdb.connect()
    bad = 0
    for name in names:
        if name not in qa or name not in qb:
            side = "parent" if name not in qa else "change"
            why = f"missing from the {side} dump"
        else:
            why = diff(con, args.parent, args.change, name)
        if why:
            bad += 1
            print(f"DIFF {name}: {why}")
    print(f"{len(names) - bad}/{len(names)} dumps identical")
    sql = sql_diffs(args.parent, args.change,
                    set(names) if args.only else None)
    sql_bad = []
    if sql is not None:
        compared, sql_bad = sql
        for name in sql_bad:
            print(f"SQLDIFF {name}")
        print(f"{len(compared) - len(sql_bad)}/{len(compared)} "
              "oracle SQL entries equal")
    return 1 if bad or sql_bad else 0


if __name__ == "__main__":
    sys.exit(main())
