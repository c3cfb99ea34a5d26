#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [only_query ...]
       python3 tools/compare.py --dumps <verifyOutA> <verifyOutB> [only_query ...]

Registers each <sfDir>/<table>.parquet as a DuckDB view, runs every query in
<verifyOutDir>/oracle_sql.json, and compares against the Spark parquet dump in
<verifyOutDir>/<name>/ — schema (column names), row count, and the
column-name-sorted, row-sorted cell values.

Round-2 change: goes through pandas (`.df()`) exactly like the driver does,
NOT `fetchall()`. The difference is not cosmetic: DuckDB returns HUGEINT for
bare integer SUM, which pandas renders as float64 (`498223.0`) while Spark's
parquet column stays int64 (`498223`) — fetchall kept Python ints and masked
exactly that mismatch in round 1 (q_a1). Pandas row-sorting also raises
`unhashable type` on array columns, mirroring the driver's q_m2 failure mode.

`--dumps` compares two Verify output dirs (say, a change against its parent)
query by query, with no oracle: each query dumped in either dir must be in
both, with the same ordered (column, type) schema and the same row multiset.
This also covers the rows-only queries, which have no oracle SQL.
"""
import sys, json, glob, math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


def norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return [tuple(canon(v) for v in row) for row in df.itertuples(index=False)]


def main(sf_dir, out_dir, only=()):
    import os

    def fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            # driver testdata ships single parquet FILES; ScaleGen scale-up
            # corpora are Spark-written DIRECTORIES (part-* files plus
            # _SUCCESS markers that break a bare parquet_scan on the dir)
            p = f"{sf_dir}/{t}.parquet"
            src = f"'{p}/part-*.parquet'" if os.path.isdir(p) else f"'{p}'"
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        return c

    con = fresh_con()
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # optional per-oracle timeout (seconds) for scale-up runs: brute-force
    # oracles (O(n^2) string-set joins, unrolled CTEs) stop fitting in
    # DuckDB above the driver's sf0.01 gate; a timed-out oracle is a SKIP
    # (the query's correctness is carried by the small-sf gate), never a
    # silent pass or a fake fail
    timeout = float(os.environ.get("COMPARE_ORACLE_TIMEOUT", "0") or 0)
    n_pass = n_fail = n_skip = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        timer = None
        timed_out = []
        if timeout > 0:
            import threading
            timer = threading.Timer(
                timeout, lambda: (timed_out.append(1), con.interrupt()))
            timer.start()
        try:
            o = con.sql(sql).df()
        except Exception as e:
            if timer:
                timer.cancel()
                timer.join()
            if timed_out:
                print(f"SKIP {name}: oracle timeout after {timeout:.0f}s")
                n_skip += 1
                # the interrupt may land after the query already aborted,
                # leaving a pending interrupt that would spuriously abort the
                # NEXT oracle (reported as a hard FAIL) — discard the
                # connection and re-register the views instead
                con.close()
                con = fresh_con()
            else:
                print(f"FAIL {name}: oracle error: {e}")
                n_fail += 1
            continue
        finally:
            if timer:
                timer.cancel()
                timer.join()
        if timed_out:
            # timer fired between completion and cancel(): the query itself
            # succeeded, but a pending interrupt may be parked on the
            # connection — benign for THIS oracle, poison for the next one
            con.close()
            con = fresh_con()
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            s = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        except Exception as e:
            print(f"FAIL {name}: spark read error: {e}")
            n_fail += 1
            continue
        o_cols = sorted(c.lower() for c in o.columns)
        s_cols = sorted(c.lower() for c in s.columns)
        if o_cols != s_cols:
            print(f"FAIL {name}: cols oracle={o_cols} spark={s_cols}")
            n_fail += 1
            continue
        if len(o) != len(s):
            print(f"FAIL {name}: rows oracle={len(o)} spark={len(s)}")
            n_fail += 1
            continue
        o.columns = [c.lower() for c in o.columns]
        s.columns = [c.lower() for c in s.columns]
        try:
            a, b = norm(o), norm(s)
        except Exception as e:
            print(f"FAIL {name}: sort/hash error (driver would err too): {e}")
            n_fail += 1
            continue
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(s)} rows)")
        n_pass += 1
    skip = f" / {n_skip} oracle-timeout-skip" if n_skip else ""
    print(f"== {n_pass} pass / {n_fail} fail{skip}")
    return 1 if n_fail else 0


def compare_dumps(dir_a, dir_b, only=()):
    import os
    con = duckdb.connect()
    names = sorted({n for d in (dir_a, dir_b) for n in os.listdir(d)
                    if os.path.isdir(f"{d}/{n}")})
    n_pass = n_fail = 0
    for name in names:
        if only and name not in only:
            continue
        files = [glob.glob(f"{d}/{name}/*.parquet") for d in (dir_a, dir_b)]
        if not all(files):
            print(f"FAIL {name}: dumped in one dir only")
            n_fail += 1
            continue
        ra, rb = (con.sql(f"SELECT * FROM read_parquet({f!r})") for f in files)
        sa, sb = (list(zip(r.columns, map(str, r.types))) for r in (ra, rb))
        if sa != sb:
            print(f"FAIL {name}: schema {sa} vs {sb}")
            n_fail += 1
            continue
        try:
            a, b = norm(ra.df()), norm(rb.df())
        except Exception as e:
            print(f"FAIL {name}: sort error: {e}")
            n_fail += 1
            continue
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}, first diffs: {diffs}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(a)} rows)")
        n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if sys.argv[1] == "--dumps":
        sys.exit(compare_dumps(sys.argv[2], sys.argv[3], sys.argv[4:]))
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
