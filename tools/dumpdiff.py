#!/usr/bin/env python3
"""Row-compare two graft.Verify output directories:

  python3 tools/dumpdiff.py [--sf <sfDir>] <dirA> <dirB> [key1,key2,...]

For every key dump (one parquet directory per registry key, default:
every key in either dir) it checks that both sides exist, have the
same column names and types and the same row count, and that
`EXCEPT ALL` is empty in both directions (a multiset compare: row
order is free, duplicates count, NULL matches NULL). It prints one
`DIFF <key>: ...` line per differing dump.

It also compares the two `oracle_sql.json` files key by key and
prints one `ORACLE <key>: ...` line per key whose SQL text differs or
is missing on one side. With `--sf <sfDir>`, both SQL texts of each
such key run in DuckDB on that scale factor's tables (the views
tools/preflight.py makes) and are compared the same way, by column
names and `EXCEPT ALL` both ways; the line ends `results equal` or
`results DIFFER`. A summary line follows, and the exit code is 1 on
any difference, a reworded oracle with equal results included.

It is the only check that covers keys without a DuckDB oracle
(`llm_near_dedup`, `stream_late_data`): tools/preflight.py compares
each dump against its oracle, this script compares two trees' dumps.
`stream_late_data` emits the windows that the staged feed's first
file seals, so its rows follow that file's cut. Up to the v3 feed the
cut came from a sampler seeded by the RDD id, and the rows followed
whichever JVM staged the feed; the v4 feed cuts from per-minute
counts, so its rows depend only on the events.
"""
import json
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


def multiset_diff(con, ra, rb):
    """(rows only in A, rows only in B) of two relations."""
    return tuple(con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {x} EXCEPT ALL SELECT * FROM {y})"
    ).fetchone()[0] for x, y in ((ra, rb), (rb, ra)))


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
    only_a, only_b = multiset_diff(con, ra, rb)
    if only_a or only_b:
        return f"{na} rows; {only_a} only in A, {only_b} only in B"
    return None


def oracle_results(con, qa, qb):
    """`results equal` when two oracle texts give the same rows. Each
    text runs once, into a temp table, so DuckDB never plans the two
    oracles together (the IVF oracles at sf0.1 ran out of memory that
    way)."""
    ra, rb = "oracle_a", "oracle_b"
    try:
        for r, q in ((ra, qa), (rb, qb)):
            con.execute(f"CREATE OR REPLACE TEMP TABLE {r} AS {q.strip().rstrip(';')}")
        ca, cb = ([c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {r}").fetchall()]
                  for r in (ra, rb))
        if ca != cb:
            return f"results DIFFER (columns {ca} != {cb})"
        only_a, only_b = multiset_diff(con, ra, rb)
    except duckdb.Error as e:
        return f"results DIFFER (duckdb error: {str(e).splitlines()[0]})"
    if only_a or only_b:
        return f"results DIFFER ({only_a} rows only in A, {only_b} only in B)"
    return "results equal"


def diff_oracles(a, b, keys, sf):
    """Prints one ORACLE line per key whose oracle text differs;
    returns how many did, or None when a side has no oracle_sql.json."""
    oa, ob = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    if not (os.path.isfile(oa) and os.path.isfile(ob)):
        return None
    sql_a, sql_b = json.load(open(oa)), json.load(open(ob))
    names = sorted(set(sql_a) | set(sql_b))
    if keys is not None:
        names = [k for k in names if k in keys]
    con = None
    if sf:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from preflight import create_views
        con = duckdb.connect()
        create_views(con, sf)
    n = 0
    for key in names:
        qa, qb = sql_a.get(key), sql_b.get(key)
        if qa == qb:
            continue
        n += 1
        if qa is None or qb is None:
            why = f"missing in {'A' if qa is None else 'B'}"
        else:
            why = "SQL text differs"
            if con is not None:
                why += "; " + oracle_results(con, qa, qb)
        print(f"ORACLE {key}: {why}")
    return n


def main():
    args = sys.argv[1:]
    sf = None
    if args[:1] == ["--sf"] and len(args) > 1:
        sf, args = args[1], args[2:]
    if len(args) not in (2, 3):
        sys.exit(__doc__)
    a, b = args[0], args[1]
    keys = sorted(args[2].split(",")) if len(args) == 3 else None
    names = keys if keys is not None else sorted(keys_in(a) | keys_in(b))
    con = duckdb.connect()
    bad = 0
    for key in names:
        try:
            why = diff_key(con, a, b, key)
        except duckdb.Error as e:
            why = f"duckdb error: {str(e).splitlines()[0]}"
        if why:
            bad += 1
            print(f"DIFF {key}: {why}")
    n_sql = diff_oracles(a, b, keys, sf)
    if n_sql is None:
        print("DIFF oracle_sql.json: missing")
    sql = ("oracle_sql.json missing" if n_sql is None
           else f"{n_sql} oracle texts differ")
    print(f"{len(names) - bad}/{len(names)} dumps row-identical; {sql}")
    sys.exit(1 if bad or n_sql != 0 else 0)


if __name__ == "__main__":
    main()
