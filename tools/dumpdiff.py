#!/usr/bin/env python3
"""Row-compare two graft.Verify output directories:

  python3 tools/dumpdiff.py <dirA> <dirB> [key1,key2,...]

For every key dump (one parquet directory per registry key, default:
every key in either dir) it checks that both sides exist, have the
same column names and types and the same row count, and that
`EXCEPT ALL` is empty in both directions (a multiset compare: row
order is free, duplicates count, NULL matches NULL). It also checks
that the two `oracle_sql.json` files are byte-equal. It prints one
line per differing key (and one for `oracle_sql.json`), then a
summary line, and exits 1 on any difference.

It is the only check that covers keys without a DuckDB oracle
(`llm_near_dedup`, `stream_late_data`): tools/preflight.py compares
each dump against its oracle, this script compares two trees' dumps.
`stream_late_data` emits windows as micro-batches happen to fall, so
compare dumps written on an otherwise idle machine: under load its
rows can differ between two runs of the same tree.
"""
import os
import sys

import duckdb


def keys_in(d):
    return {k for k in os.listdir(d) if os.path.isdir(os.path.join(d, k))}


def parts(d, key):
    p = os.path.join(d, key)
    return sorted(f for f in os.listdir(p) if f.endswith(".parquet"))


def rel(con, d, key):
    return f"read_parquet('{os.path.join(d, key)}/*.parquet')"


def diff_key(con, a, b, key):
    """None when the two dumps hold the same rows, else a reason."""
    for side, d in (("A", a), ("B", b)):
        if not os.path.isdir(os.path.join(d, key)):
            return f"missing in {side}"
    pa, pb = parts(a, key), parts(b, key)
    if not pa or not pb:
        return None if not pa and not pb else "one side has no parquet parts"
    ra, rb = rel(con, a, key), rel(con, b, key)
    sa = con.execute(f"DESCRIBE SELECT * FROM {ra}").fetchall()
    sb = con.execute(f"DESCRIBE SELECT * FROM {rb}").fetchall()
    if [c[:2] for c in sa] != [c[:2] for c in sb]:
        return f"schema {[c[:2] for c in sa]} != {[c[:2] for c in sb]}"
    na = con.execute(f"SELECT count(*) FROM {ra}").fetchone()[0]
    nb = con.execute(f"SELECT count(*) FROM {rb}").fetchone()[0]
    if na != nb:
        return f"rows {na} != {nb}"
    only_a = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {ra} EXCEPT ALL SELECT * FROM {rb})").fetchone()[0]
    only_b = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {rb} EXCEPT ALL SELECT * FROM {ra})").fetchone()[0]
    if only_a or only_b:
        return f"{na} rows; {only_a} only in A, {only_b} only in B"
    return None


def main():
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    keys = (sorted(sys.argv[3].split(",")) if len(sys.argv) == 4
            else sorted(keys_in(a) | keys_in(b)))
    con = duckdb.connect()
    bad = 0
    for key in keys:
        try:
            why = diff_key(con, a, b, key)
        except duckdb.Error as e:
            why = f"duckdb error: {str(e).splitlines()[0]}"
        if why:
            bad += 1
            print(f"DIFF {key}: {why}")
    oa, ob = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    same_sql = (os.path.isfile(oa) and os.path.isfile(ob)
                and open(oa, "rb").read() == open(ob, "rb").read())
    if not same_sql:
        print("DIFF oracle_sql.json: not byte-equal (or missing)")
    print(f"{len(keys) - bad}/{len(keys)} dumps row-identical; "
          f"oracle_sql.json {'byte-identical' if same_sql else 'DIFFERS'}")
    sys.exit(1 if bad or not same_sql else 0)


if __name__ == "__main__":
    main()
