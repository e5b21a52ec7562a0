#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (Spark output), runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over views of the
sfDir tables, sorts columns by name and rows by all columns, and compares.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)]
    float_cols = {c for c in df.columns if str(df[c].dtype).startswith("float")}
    # Strict like the driver's hash: 1228.0 (float64 from a HUGEINT sum)
    # must NOT compare equal to 1228 (int64) — dtype drift is a real
    # failure mode the oracle SQL has to fix with explicit CASTs. But when
    # BOTH sides carry a float column, compare at %.10g so ulp-level
    # cross-engine double differences don't false-positive (the convention
    # is that emitted doubles are round()ed in both engines anyway).
    def cell(v, is_float):
        if is_float and isinstance(v, float):
            # 'f:' tag keeps float-vs-int drift a mismatch ("f:1228" != "1228")
            return f"f:{v:.10g}"
        return str(v)
    flags = [c in float_cols for c in df.columns]
    rows = sorted(
        tuple(cell(v, f) for v, f in zip(row, flags))
        for row in df.itertuples(index=False, name=None))
    return rows

fails = 0
for name in sorted(oracle):
    spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not spark_files:
        print(f"MISSING  {name}: no spark output")
        fails += 1
        continue
    sdf = pd.concat([pd.read_parquet(f) for f in spark_files], ignore_index=True)
    try:
        odf = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"ORACLE-ERR {name}: {e}")
        fails += 1
        continue
    a, b = canon(sdf), canon(odf)
    if sorted(sdf.columns.str.lower()) != sorted(odf.columns.str.lower()):
        print(f"SCHEMA   {name}: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        fails += 1
    elif a == b:
        print(f"OK       {name}: {len(a)} rows")
    else:
        print(f"MISMATCH {name}: spark {len(a)} rows vs oracle {len(b)} rows")
        diff_a = [r for r in a if r not in set(map(tuple, b))][:3]
        diff_b = [r for r in b if r not in set(map(tuple, a))][:3]
        print(f"  spark-only: {diff_a}")
        print(f"  oracle-only: {diff_b}")
        fails += 1

# queries without oracle: rows-only
no_oracle = [os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
             if os.path.isdir(p) and os.path.basename(p) not in oracle]
for name in sorted(no_oracle):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    n = sum(len(pd.read_parquet(f)) for f in files) if files else 0
    print(f"ROWSONLY {name}: {n} rows")

# Close before exiting rather than leave the connection to interpreter
# teardown, where a run once aborted natively ("terminate called without an
# active exception") after printing every result line.
con.close()
sys.exit(1 if fails else 0)
