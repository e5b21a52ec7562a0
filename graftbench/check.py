"""Output check: every written result against DuckDB's answer to the
matching `SparkEntry.oracleSql` entry over the same input directory.

Canonical form (the one `tools/compare_oracle.py` uses): columns sorted by
name, rows sorted, float cells written `f:%.10g` so that a float never equals
an int. Oracle answers are cached under `.work/oracle-cache`, keyed by the
input content plus the SQL text.
"""
import glob
import hashlib
import json
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

BENCH = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(BENCH, ".work", "oracle-cache")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

CURATION = ["q41_minhash_lsh", "q42_simhash", "q43_ngram_jaccard_dedup",
            "q51_embedding_dedup", "q81_curation_pipeline", "q124_semdedup_keep",
            "q134_winnow_dedup", "q156_image_keep"]

# (ref file, pass) of every cascade pass; the first 13 are the non-household
# passes that q78_pair_counts counts.
PASSES = [("geobase", "p1_geokey"), ("geobase", "p2_geokey_switch"),
          ("geobase", "p3_street_sdx"), ("geobase", "p3b_street_sdx_switch"),
          ("geobase", "p4_name_yob"), ("namedob", "p5_dob_nysiis"),
          ("namedob", "p6_dob_initials"), ("namedob", "p6b_yob_name"),
          ("namedob", "p7_bday_name"), ("namedob", "p7b_initials_switch"),
          ("namedob", "p7c_name3"), ("namedob", "p8_rev_sdx"),
          ("namedob", "p8b_fn2_yob"), ("hhcomp", "p9_hh_initials"),
          ("hhcomp", "p10_hh_yob")]

# Pipeline table -> the query whose oracle it is checked against; None is
# a rows-only check. The per-pass splink_reports are added below.
PIPELINE = {
    "02_reference_files/alternate_names": "q71_alternate_names",
    "02_reference_files/name_dob_reference": "q72_name_dob_reference",
    "02_reference_files/ssn_to_pik": "q73_ssn_to_pik",
    "02_reference_files/geobase_reference": "q117_geobase_reference",
    "02_reference_files/addresses_by_ssn": "q121_addresses_by_ssn",
    "03_link_datasets/best_links": "q32_cascade_best_link",
    "03_link_datasets/confirmed_links": "q37_confirm_links",
    "03_link_datasets/pass_matrix": "q76_pass_matrix",
    "03_link_datasets/pik_rate": "q39_pik_rate",
    "03_link_datasets/em_report": None,
    "03_link_datasets/splink_reports/waterfall": "q87_waterfall",
    "03_link_datasets/splink_reports/comparison_patterns": "q88_comparison_patterns",
    "03_link_datasets/splink_reports/weight_histogram": "q93_weight_histogram",
    "03_link_datasets/splink_reports/em_history": "q105_em_history",
    "03_link_datasets/splink_reports/param_compare": "q107_param_compare",
    "04_accuracy/accuracy_eval": "q33_accuracy_eval",
    "04_accuracy/accuracy_by_module": "q112_accuracy_by_module",
    "04_accuracy/accuracy_definitions": "q120_accuracy_definitions",
}


def pass_report_sql(oracle_sql, pass_name):
    """Oracle of a per-pass splink_reports table: q75 joined with the pass's
    q76 rows, the join `graft.Pipeline` writes."""
    return (f"SELECT * FROM ({oracle_sql['q75_model_report']}) m JOIN ("
            "SELECT pass, ordinal, ref_file, block_keys, comparison, scored, "
            f"const_gamma, weight_offset FROM ({oracle_sql['q76_pass_matrix']}) "
            f"WHERE pass = '{pass_name}') r USING (comparison)")


def expected_outputs(workload, oracle_sql):
    """{output path under the workload's out dir: oracle SQL or None}."""
    if workload == "curation_dedup":
        return {q: oracle_sql[q] for q in CURATION}
    out = {t: (oracle_sql[q] if q else None) for t, q in PIPELINE.items()}
    for ref, p in PASSES:
        out[f"03_link_datasets/splink_reports/{ref}__{p}"] = pass_report_sql(oracle_sql, p)
    return out


def canon(df):
    """(sorted lower-case column names, sorted canonical rows)."""
    df = df[sorted(df.columns)]
    flags = [str(df[c].dtype).startswith("float") for c in df.columns]

    def cell(v, is_float):
        if is_float and isinstance(v, float):
            return f"f:{v:.10g}"
        return str(v)
    rows = sorted([cell(v, f) for v, f in zip(row, flags)]
                  for row in df.itertuples(index=False, name=None))
    return sorted(c.lower() for c in df.columns), rows


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def connect(input_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(BENCH, '.work', 'duckdb-tmp')}'")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_answers(input_dir, input_content, sqls, workers=4):
    """{sql: (columns, rows)} for each SQL text, from the cache when the same
    input and SQL were answered before."""
    os.makedirs(CACHE, exist_ok=True)
    con = connect(input_dir)

    def answer(sql):
        key = hashlib.sha256((input_content + "\0" + sql).encode()).hexdigest()
        path = os.path.join(CACHE, key + ".json")
        if os.path.isfile(path):
            with open(path) as f:
                cols, rows = json.load(f)
            return sql, (cols, rows)
        try:
            res = canon(con.cursor().sql(sql).df())
        except duckdb.Error as e:
            return sql, e
        with open(path + ".tmp", "w") as f:
            json.dump(res, f)
        os.replace(path + ".tmp", path)
        return sql, res
    # Slowest-first keeps the pool busy; order does not affect answers.
    with ThreadPoolExecutor(workers) as pool:
        out = dict(pool.map(answer, sorted(set(sqls), key=len, reverse=True)))
    con.close()
    return out


def compare(df, expected):
    """None when the written frame equals the oracle answer, else a reason."""
    if isinstance(expected, Exception):
        return f"oracle error: {expected}"
    cols, rows = canon(df)
    ocols, orows = expected
    if cols != ocols:
        return f"columns differ: {cols} vs oracle {ocols}"
    if rows != orows:
        return f"rows differ: {len(rows)} written vs {len(orows)} oracle"
    return None


def check_outputs(workload, out_dir, input_dir, input_content, oracle_sql):
    """[(output, reason or None)] for every expected output of a workload."""
    expected = expected_outputs(workload, oracle_sql)
    answers = oracle_answers(input_dir, input_content,
                             [s for s in expected.values() if s])
    results = []
    for name, sql in sorted(expected.items()):
        df = read_output(os.path.join(out_dir, name))
        if df is None:
            results.append((name, "missing output"))
        elif sql is None:
            results.append((name, None if len(df) > 0 else "no rows"))
        else:
            results.append((name, compare(df, answers[sql])))
    return results
