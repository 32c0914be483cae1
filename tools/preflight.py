#!/usr/bin/env python3
"""Local pre-flight for the driver's t2 gate: run after
  sbt "runMain graft.Verify <sfDir> <outDir>"
Compares each <outDir>/<key> parquet against DuckDB executing
oracle_sql.json on the same tables, mimicking the driver: sort columns
by name, sort rows, exact value compare (NaN==NaN).
"""
import duckdb, inspect, json, sys, os, hashlib
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Oracle-result memoization (r12 verdict #4): the full sf0.1 sweep is
# dominated by DuckDB re-deriving unchanged oracles (the n^2
# near-dedup-exact, the K=64 Lloyd-unroll ANN CTEs) — content-key each
# key's NORMALIZED oracle frame on (duckdb version, norm recipe,
# testdata fingerprint, oracle SQL) so a re-sweep with no changes skips
# execution entirely, while any SQL edit or data regeneration re-runs
# that key. The SPARK side is always re-read and re-compared — only
# the oracle derivation is cached. Opt out: PREFLIGHT_NO_CACHE=1.
# The norm() recipe enters the key as a hash of its own source (r13
# ADVICE: a hand-bumped version constant silently serves stale frames
# when the bump is forgotten); CACHE_VERSION remains for changes the
# source hash can't see (pickle format, fingerprint recipe).
CACHE_VERSION = "2"

def sf_fingerprint(sf: str) -> str:
    parts = []
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.isfile(p):
            st = os.stat(p)
            parts.append(f"{t}|{st.st_mtime_ns}|{st.st_size}")
        elif os.path.isdir(p):
            for f in sorted(os.listdir(p)):
                if f.endswith(".parquet"):
                    st = os.stat(f"{p}/{f}")
                    parts.append(f"{t}/{f}|{st.st_mtime_ns}|{st.st_size}")
    return hashlib.sha256(";".join(parts).encode()).hexdigest()[:16]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        # nullable pandas extension ints -> float (mirrors parquet null-int)
        if str(df[c].dtype) in ("Int32", "Int64"):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
    cols = list(df.columns)
    df = df.sort_values(by=cols, na_position="first", kind="mergesort")
    return df.reset_index(drop=True)

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    # r8 lesson: a local "all green" contradicted the driver's artifact.
    # The local DuckDB version is part of any gate claim — print it so
    # a pass recorded in SURVEY/README is auditable against the
    # driver's oracle version, and phrase close claims as "local gate
    # (duckdb X)" rather than absolute.
    print(f"preflight oracle: duckdb {duckdb.__version__} (driver artifact remains the gate of record)")
    con = duckdb.connect()
    create_views(con, sf)
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    cache_dir = os.environ.get("PREFLIGHT_CACHE_DIR", "/tmp/graft_preflight_cache")
    use_cache = not os.environ.get("PREFLIGHT_NO_CACHE")
    fp = sf_fingerprint(sf) if use_cache else ""
    if use_cache:
        os.makedirs(cache_dir, exist_ok=True)
        # cache hygiene (r13 verdict #6): any SQL edit or testdata
        # regeneration orphans the previous content key's pickle and
        # nothing reclaimed them — bound the dir, oldest-first (a hit
        # bumps mtime below, so live keys stay). Knob:
        # PREFLIGHT_CACHE_MAX_MB (default 2048).
        budget = int(os.environ.get("PREFLIGHT_CACHE_MAX_MB", "2048")) * 1048576
        entries = []
        for f in os.listdir(cache_dir):
            try:
                st = os.stat(f"{cache_dir}/{f}")
                entries.append((st.st_mtime, st.st_size, f"{cache_dir}/{f}"))
            except OSError:
                pass
        total = sum(e[1] for e in entries)
        if total > budget:
            # min-idle guard (r14 review): never delete entries used
            # within the last hour — a PARALLEL preflight's in-flight
            # .tmp.<pid> publishes and its freshly written pickles are
            # seconds old, and removing one between to_pickle and
            # os.replace would fail that key's VERDICT instead of
            # recomputing (the exact class the corrupt-pickle fix
            # above exists to prevent). An over-budget dir whose every
            # entry is fresh stays over budget — safety first, same
            # rule as IndexStore.sweep's MinIdleMs.
            fresh = __import__("time").time() - 3600
            for mt, fsz, p in sorted(entries):
                if total <= budget:
                    break
                if mt > fresh:
                    continue
                try:
                    os.remove(p)
                    total -= fsz
                except OSError:
                    pass
    hits = misses = 0
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        cpath = None
        if use_cache:
            norm_fp = hashlib.sha256(
                inspect.getsource(norm).encode()).hexdigest()[:12]
            ck = hashlib.sha256(
                f"{CACHE_VERSION}|{norm_fp}|{duckdb.__version__}|{fp}|{sql}"
                .encode()).hexdigest()[:32]
            cpath = f"{cache_dir}/{name}_{ck}.pkl"
        try:
            a = norm(con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df())
            b = None
            if cpath and os.path.exists(cpath):
                # a corrupt / truncated / pandas-version-incompatible
                # pickle is a cache MISS, not a verdict (r13 ADVICE: it
                # used to fail the key) — recompute and overwrite
                try:
                    b = pd.read_pickle(cpath)
                    hits += 1
                    os.utime(cpath)  # LRU stamp for the hygiene sweep
                except Exception:
                    b = None
            if b is None:
                b = norm(con.sql(sql).df())
                if cpath:
                    # atomic publish: a parallel preflight must never
                    # read a half-written pickle
                    tmp = f"{cpath}.tmp.{os.getpid()}"
                    b.to_pickle(tmp)
                    os.replace(tmp, cpath)
                misses += 1
        except Exception as e:
            print(f"FAIL {name}: error {e}")
            n_fail += 1
            continue
        problems = []
        if list(a.columns) != list(b.columns):
            problems.append(f"cols spark={list(a.columns)} duck={list(b.columns)}")
        elif len(a) != len(b):
            problems.append(f"rows spark={len(a)} duck={len(b)}")
        else:
            sa = [str(t) for t in a.dtypes]
            sb = [str(t) for t in b.dtypes]
            if sa != sb:
                problems.append(f"dtypes spark={sa} duck={sb}")
            if not a.equals(b):
                bad = [c for c in a.columns if not a[c].equals(b[c])]
                detail = []
                for c in bad[:4]:
                    if np.issubdtype(a[c].dtype, np.number):
                        av = a[c].astype(float)
                        bv = b[c].astype(float)
                        d = (av - bv).abs().max()
                        # PREFLIGHT_REL_TOL: opt-in relative tolerance for
                        # scale-replica DIAGNOSTICS only (decimal-multiply
                        # rounding diverges ulp-scale across engines once
                        # sums reach ~2^34; the driver gate and the default
                        # here stay exact-compare). Never set for the t2 gate.
                        rt = float(os.environ.get("PREFLIGHT_REL_TOL", "0"))
                        if rt and np.allclose(av, bv, rtol=rt, atol=0,
                                              equal_nan=True):
                            continue
                        detail.append(f"{c} maxdiff={d}")
                    else:
                        i = (a[c].astype(str) != b[c].astype(str)).idxmax()
                        detail.append(f"{c} first diff row {i}: {a[c][i]!r} vs {b[c][i]!r}")
                if detail:
                    problems.append("values: " + "; ".join(detail))
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(a)} rows)")
            n_pass += 1
    no_oracle = [k for k in os.listdir(out)
                 if os.path.isdir(f"{out}/{k}") and k not in oracle]
    if use_cache:
        print(f"\noracle cache: {hits} hit, {misses} miss ({cache_dir})")
    print(f"\n{n_pass} pass, {n_fail} fail; no-oracle keys: {sorted(no_oracle)}")
    sys.exit(1 if n_fail else 0)

def create_views(con, sf):
    """One DuckDB view per testdata table of scale factor dir `sf`,
    named as the oracle SQL names it."""
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p) or os.path.isdir(p):
            src = f"'{p}'" if os.path.isfile(p) else f"'{p}/*.parquet'"
            if t == "events":
                # ts unit varies by testdata generation: timestamp[ns]
                # (DuckDB TIMESTAMP_NS), timestamp[us], or a bare int64 of
                # µs from a pre-fix graft.Replicate output — normalize all
                # to the µs timestamp Spark's Tables.loadEvents produces
                ty = con.sql(f"SELECT typeof(ts) FROM {src} LIMIT 1").fetchone()[0]
                ts = "make_timestamp(ts) AS ts" if ty == "BIGINT" else "ts"
                con.sql(f"CREATE VIEW events AS SELECT event_id, {ts}, "
                        f"user_id, event_type, value, props FROM {src}")
            else:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")

if __name__ == "__main__":
    main()
