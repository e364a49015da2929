#!/usr/bin/env python3
"""Local mirror of the driver's correctness compare.

Usage: python3 tools/compare.py <sfDir> <outDir> [query ...]

Reads each <outDir>/<query>/ parquet dump (written by graft.Verify),
runs the matching oracle SQL from <outDir>/oracle_sql.json in DuckDB
against the same sfDir parquet tables, and reports rows / schema /
cell-hash agreement with columns sorted by name — the driver's
contract. Doubles are compared bit-for-bit (struct pack), which is
what the driver's value hash does. An oracle query that DuckDB cannot
run prints `<query>: ORACLE ERROR <message>` and counts as a failure;
the compare goes on, and exits non-zero at the end if anything failed.
Each line carries the query's oracle wall time, and the ten slowest
oracle queries are listed at the end.
"""
import json
import math
import struct
import sys
import time

import duckdb


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return b"nan"
        return struct.pack("<d", v)
    return repr(v).encode()


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    queries = sys.argv[3:]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if not queries:
        # no explicit list -> compare EVERY dumped query (an empty loop
        # that exits 0 reads as "all green" — the same silent-pass shape
        # the round-8 harness bug had)
        import os
        queries = sorted(d for d in os.listdir(out_dir)
                         if os.path.isdir(f"{out_dir}/{d}"))
    # surface the dump pass's own failures first — a query that threw has
    # no parquet directory, and silently skipping it would repeat the
    # round-8 silent-loss bug in the local loop
    try:
        errs = json.load(open(f"{out_dir}/_verify_errors.json"))
        for q, msg in errs.items():
            print(f"{q}: VERIFY ERROR {msg[:160]}")
    except FileNotFoundError:
        errs = {}
    queries = [q for q in queries if q not in errs]
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        except Exception:
            pass
    fails = 0
    oracle_s = {}
    for q in queries:
        if q not in oracle:
            print(f"{q}: NO ORACLE (rows-only)")
            continue
        spark_df = con.execute(
            f"SELECT * FROM '{out_dir}/{q}/*.parquet'").df()
        # one query's oracle failure (q110_ivfpq runs DuckDB out of
        # memory on a 15 GB machine) must not leave every later query
        # unchecked: record it as a failure and go on
        t0 = time.monotonic()
        try:
            oracle_df = con.execute(oracle[q]).df()
        except duckdb.Error as e:
            oracle_s[q] = time.monotonic() - t0
            print(f"{q}: ORACLE ERROR {str(e).splitlines()[0][:160]} "
                  f"oracle_s={oracle_s[q]:.2f}")
            fails += 1
            continue
        oracle_s[q] = time.monotonic() - t0
        s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
        ok_schema = s_cols == o_cols
        ok_rows = len(spark_df) == len(oracle_df)
        ok_hash = False
        if ok_schema and ok_rows:
            s = sorted(tuple(canon(v) for v in row)
                       for row in spark_df[s_cols].itertuples(index=False))
            o = sorted(tuple(canon(v) for v in row)
                       for row in oracle_df[o_cols].itertuples(index=False))
            ok_hash = s == o
            if not ok_hash:
                bad = [i for i, (a, b) in enumerate(zip(s, o)) if a != b][:3]
                for i in bad:
                    print(f"  row {i}:\n    spark  {s[i]}\n    oracle {o[i]}")
        print(f"{q}: rows={ok_rows} ({len(spark_df)}/{len(oracle_df)}) "
              f"schema={ok_schema} hash={ok_hash} oracle_s={oracle_s[q]:.2f}")
        if not ok_schema:
            print(f"  spark cols : {s_cols}\n  oracle cols: {o_cols}")
        if not (ok_rows and ok_schema and ok_hash):
            fails += 1
    slowest = sorted(oracle_s.items(), key=lambda kv: -kv[1])[:10]
    if slowest:
        print(f"slowest oracle queries (of {len(oracle_s)}, "
              f"{sum(oracle_s.values()):.1f} s in all):")
        for q, secs in slowest:
            print(f"  {secs:9.2f} s  {q}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
