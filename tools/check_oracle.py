#!/usr/bin/env python3
"""Self-check harness mimicking the driver's correctness gate:
runs each oracle SQL in DuckDB over the sf parquet tables and compares
(rows, schema names, values) against the Verify parquet dumps."""
import sys, json, glob
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify1"
# optional 3rd arg: comma-list of query names, as Verify's
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = 0
for name in sorted((only or set()) - oracle.keys()):
    print(f"{name}: NO oracle SQL"); fails += 1
for name, sql in sorted(oracle.items()):
    if only is not None and name not in only:
        continue
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"{name}: MISSING spark result"); fails += 1; continue
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR {e}"); fails += 1; continue
    sdf = con.execute(f"SELECT * FROM '{files[0]}'").fetchdf()
    ocols = sorted(odf.columns); scols = sorted(sdf.columns)
    if ocols != scols:
        print(f"{name}: SCHEMA mismatch oracle={ocols} spark={scols}")
        fails += 1; continue
    o = odf[ocols].sort_values(ocols).reset_index(drop=True)
    s = sdf[scols].sort_values(scols).reset_index(drop=True)
    if len(o) != len(s):
        print(f"{name}: ROWCOUNT oracle={len(o)} spark={len(s)}")
        fails += 1; continue
    try:
        import pandas as pd
        pd.testing.assert_frame_equal(o, s, check_dtype=False,
                                      check_exact=True)
        print(f"{name}: OK ({len(o)} rows)")
    except AssertionError as e:
        print(f"{name}: VALUE mismatch: {str(e)[:300]}")
        fails += 1
print("FAILS:", fails)
sys.exit(1 if fails else 0)
