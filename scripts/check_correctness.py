#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify first
(`sbt "runMain graft.Verify <sfDir> <outDir>"`), then this script reads each
<outDir>/<name> parquet, runs the matching oracle SQL from oracle_sql.json in
DuckDB over the same sf tables, and compares two ways:

1. semantic: cell-by-cell on fetchall() values (exact; floats bitwise, then
   1e-12 tolerance reported separately) — catches real value divergence.
2. driver-mode: Spark side via pandas.read_parquet (pyarrow), oracle side via
   duckdb .df(); cells compared as str(). This emulates the round-1 driver
   hash, where DECIMAL comes back as Decimal('1.40') from parquet but float64
   1.4 from duckdb's pandas bridge — the mode that failed 9 queries in r01.

Usage: check_correctness.py <sfDir> <outDir>
"""
import glob
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t)), \
        [cols[i] for i in order]


def cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None, False
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False, False
        if fa == fb or (math.isnan(fa) and math.isnan(fb)):
            return True, False
        if math.isclose(fa, fb, rel_tol=1e-12, abs_tol=1e-12):
            return True, True  # equal only under tolerance
        return False, False
    # decimals/ints/strings/timestamps: string-normalized compare
    return str(a) == str(b), False


def df_cells(df):
    """Canonical sorted str-rows, columns sorted by name (driver emulation)."""
    df = df[sorted(df.columns)]
    rows = [tuple("NULL" if v is None or (isinstance(v, float) and math.isnan(v))
                  or v is pd.NaT else str(v) for v in row)
            for row in df.itertuples(index=False, name=None)]
    return sorted(rows)


def main():
    # one line at a time, also when piped: a long run shows where it is
    sys.stdout.reconfigure(line_buffering=True)
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    # optional sharding for big-SF runs: --shard i/N checks every Nth query
    # (by sorted position), so N parallel processes split the gate; each
    # process can cap its DuckDB threads with --threads T to share the box.
    shard_i, shard_n, threads, only = 0, 1, None, None
    rest = sys.argv[3:]
    if "--shard" in rest:
        i = rest.index("--shard")
        shard_i, shard_n = (int(x) for x in rest[i + 1].split("/"))
    if "--threads" in rest:
        threads = int(rest[rest.index("--threads") + 1])
    if "--only" in rest:
        only = set(rest[rest.index("--only") + 1].split(","))
    con = duckdb.connect()
    if threads:
        con.execute(f"SET threads={threads}")
    import os
    for t in TABLES:
        # driver testdata ships single-file tables; Spark-generated scale
        # dirs (GenScaleData) are directories of part files — glob those
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    mine = [n for qi, n in enumerate(sorted(oracles)) if qi % shard_n == shard_i
            and (only is None or n in only)]
    print(f"shard {shard_i}/{shard_n}: checking {len(mine)} of {len(oracles)} queries")
    failures = 0
    for name in mine:
        sql = oracles[name]
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            grows, gcols = got.fetchall(), [d[0] for d in got.description]
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            failures += 1
            continue
        try:
            exp = con.execute(sql)
            erows, ecols = exp.fetchall(), [d[0] for d in exp.description]
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {str(e)[:300]}")
            failures += 1
            continue
        grows, gcols = canon(grows, gcols)
        erows, ecols = canon(erows, ecols)
        if gcols != ecols:
            print(f"FAIL {name}: columns {gcols} vs oracle {ecols}")
            failures += 1
            continue
        if len(grows) != len(erows):
            print(f"FAIL {name}: rows {len(grows)} vs oracle {len(erows)}")
            failures += 1
            continue
        bad = tol = 0
        first_bad = None
        for gr, er in zip(grows, erows):
            for c, (gv, ev) in enumerate(zip(gr, er)):
                ok, used_tol = cells_equal(gv, ev)
                if not ok:
                    bad += 1
                    if first_bad is None:
                        first_bad = (gcols[c], gv, ev)
                elif used_tol:
                    tol += 1
        if bad:
            print(f"FAIL {name}: {bad} cell mismatches; first: "
                  f"col={first_bad[0]} got={first_bad[1]!r} exp={first_bad[2]!r}")
            failures += 1
            continue
        # driver-mode: pandas reads on both sides, stringified hash equality
        try:
            files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
            gdf = pd.concat([pd.read_parquet(f) for f in files],
                            ignore_index=True)
            edf = con.execute(sql).df()
            gs, es = df_cells(gdf), df_cells(edf)
            if gs != es:
                diff = next((i, a, b) for i, (a, b) in
                            enumerate(zip(gs, es)) if a != b)
                print(f"FAIL {name}: DRIVER-MODE str mismatch at sorted row "
                      f"{diff[0]}: {diff[1]!r} vs {diff[2]!r}")
                failures += 1
                continue
        except Exception as e:
            print(f"FAIL {name}: driver-mode compare error: {str(e)[:300]}")
            failures += 1
            continue
        note = f" ({tol} float cells matched only under tolerance)" if tol else ""
        print(f"PASS {name}: {len(grows)} rows{note}")
    checked = len(mine)
    print(f"\n{checked - failures}/{checked} queries pass"
          + (f" (shard {shard_i}/{shard_n})" if shard_n > 1 else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
