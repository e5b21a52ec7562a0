"""Seeded input generator: the program's input directory for one seed.

The base tables under `graftbench/data` are the sf0.01 `customer`,
`documents` and `embeddings` tables of the TPC-H-style test set. A seed keeps
the rows whose seeded DuckDB hash of the key is not 0 mod 10 (about 90 %);
each seed's directory is built once under `.work/inputs` and reused.
"""
import hashlib
import json
import os
import shutil

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH, "data")
INPUTS = os.path.join(BENCH, ".work", "inputs")

KEYS = {"customer": "c_custkey", "documents": "doc_id", "embeddings": "vec_id"}


def build_input(seed):
    """Returns (input dir, {"rows": {table: count}, "content": sha256})."""
    seed = int(seed)
    d = os.path.join(INPUTS, f"seed-{seed}")
    meta = os.path.join(d, "input.json")
    if os.path.isfile(meta):
        with open(meta) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(BENCH, '.work', 'duckdb-tmp')}'")
    rows = {}
    h = hashlib.sha256()
    for table, key in sorted(KEYS.items()):
        src = os.path.join(DATA, f"{table}.parquet")
        dst = os.path.join(tmp, f"{table}.parquet")
        con.execute(f"COPY (SELECT * FROM read_parquet('{src}') "
                    f"WHERE hash({key}, {seed}) % 10 <> 0 ORDER BY {key}) "
                    f"TO '{dst}' (FORMAT PARQUET)")
        rows[table] = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
        with open(dst, "rb") as f:
            h.update(table.encode())
            h.update(hashlib.sha256(f.read()).digest())
    con.close()
    info = {"seed": seed, "rows": rows, "content": h.hexdigest()}
    with open(os.path.join(tmp, "input.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, info
