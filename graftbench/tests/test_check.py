#!/usr/bin/env python3
"""Self-tests of the benchmark's output check.

    python3 graftbench/tests/test_check.py
    python3 graftbench/tests/test_check.py --sf-dir <tpch dir> [--verify-dump <dir>]

The first form checks the canonical form, the manifest, and that a planted
one-row change in an output written by a real curation run fails the check.
The second also dumps every `SparkEntry` query with `graft.Verify` over
`--sf-dir` (unless `--verify-dump` already holds such a dump) and requires
the check and `tools/compare_oracle.py` to give the same verdict for every
query.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import pandas as pd  # noqa: E402

import build  # noqa: E402
import check  # noqa: E402
import run  # noqa: E402

ARGS = argparse.Namespace(sf_dir=None, verify_dump=None)


class CanonTest(unittest.TestCase):
    def test_float_never_equals_int(self):
        self.assertNotEqual(check.canon(pd.DataFrame({"a": [1228.0]})),
                            check.canon(pd.DataFrame({"a": [1228]})))

    def test_column_and_row_order_do_not_matter(self):
        a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
        b = pd.DataFrame({"y": ["q", "p"], "x": [2, 1]})
        self.assertEqual(check.canon(a), check.canon(b))

    def test_floats_compare_at_ten_digits(self):
        a = pd.DataFrame({"v": [0.1 + 0.2]})
        b = pd.DataFrame({"v": [0.3]})
        self.assertEqual(check.canon(a), check.canon(b))


class ManifestTest(unittest.TestCase):
    def test_manifest_names_the_reported_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            m = json.load(f)
        self.assertEqual([(x["name"], x["unit"]) for x in m["end_to_end"]],
                         run.end_to_end_metrics())
        self.assertEqual([(x["name"], x["unit"]) for x in m["per_layer"]],
                         run.layer_metrics())
        self.assertEqual([w["name"] for w in m["workloads"]], run.WORKLOADS)


class PlantedChangeTest(unittest.TestCase):
    """A real curation run's outputs pass; one changed or dropped row fails."""

    @classmethod
    def setUpClass(cls):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", "curation_dedup", "--seed", "7",
                            "--seconds", "1", "--trace", "0"],
                           capture_output=True, text=True)
        assert r.returncode == 0, r.stderr[-2000:]
        cls.run_dir = os.path.join(BENCH, ".work", "runs", "curation_dedup-seed7-trace0")
        cls.input_dir, cls.info = run.inputs.build_input(7)
        with open(os.path.join(cls.run_dir, "oracle_sql.json")) as f:
            cls.oracle_sql = json.load(f)

    def failures(self, out):
        res = check.check_outputs("curation_dedup", out, self.input_dir,
                                  self.info["content"], self.oracle_sql)
        self.assertEqual(len(res), len(check.CURATION))
        return [n for n, reason in res if reason]

    def planted(self, edit):
        out = os.path.join(self.run_dir, "planted")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(os.path.join(self.run_dir, "pass0"), out)
        target = os.path.join(out, "q81_curation_pipeline")
        files = glob.glob(os.path.join(target, "*.parquet"))
        df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        for f in files:
            os.remove(f)
        edit(df).to_parquet(os.path.join(target, "part-0.parquet"), index=False)
        return out

    def test_written_outputs_pass(self):
        self.assertEqual(self.failures(os.path.join(self.run_dir, "pass0")), [])

    def test_one_changed_cell_fails(self):
        def edit(df):
            c = df.columns[0]
            v = df.at[0, c]
            df.at[0, c] = (v + "x") if isinstance(v, str) else v + 1
            return df
        self.assertEqual(self.failures(self.planted(edit)), ["q81_curation_pipeline"])

    def test_one_dropped_row_fails(self):
        out = self.planted(lambda df: df.iloc[1:])
        self.assertEqual(self.failures(out), ["q81_curation_pipeline"])


def compare_oracle_verdicts(sf_dir, dump):
    """{query: "pass" | "rows" | "fail"} from tools/compare_oracle.py."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
                        sf_dir, dump], capture_output=True, text=True)
    out = {}
    for line in r.stdout.splitlines():
        tag, _, rest = line.partition(" ")
        name = rest.strip().split(":")[0]
        if tag in ("OK", "ROWSONLY", "MISMATCH", "SCHEMA", "MISSING", "ORACLE-ERR"):
            out[name] = {"OK": "pass", "ROWSONLY": "rows"}.get(tag, "fail")
    return out


def check_verdicts(sf_dir, dump):
    """The same verdicts from the benchmark's check."""
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(p, "rb") as f:
            h.update(f.read())
    answers = check.oracle_answers(sf_dir, h.hexdigest(), list(oracle_sql.values()))
    out = {}
    for d in sorted(glob.glob(os.path.join(dump, "*"))):
        name = os.path.basename(d)
        if not os.path.isdir(d):
            continue
        if name not in oracle_sql:
            out[name] = "rows"
            continue
        df = check.read_output(d)
        out[name] = "fail" if df is None or check.compare(df, answers[oracle_sql[name]]) \
            else "pass"
    for name in oracle_sql:
        out.setdefault(name, "fail")
    return out


class CompareOracleAgreementTest(unittest.TestCase):
    def test_same_verdict_as_compare_oracle(self):
        if not ARGS.sf_dir:
            self.skipTest("needs --sf-dir")
        dump = ARGS.verify_dump or os.path.join(BENCH, ".work", "verify-dump")
        if not os.path.isfile(os.path.join(dump, "oracle_sql.json")):
            cmd, env = run.java_cmd(build.build()[0], "graft.Verify", [ARGS.sf_dir, dump])
            subprocess.run(cmd, env=env, cwd=run.WORK, check=True, stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL)
        ours = check_verdicts(ARGS.sf_dir, dump)
        theirs = compare_oracle_verdicts(ARGS.sf_dir, dump)
        self.assertEqual(len(ours), len(theirs))
        self.assertEqual(ours, theirs)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir")
    ap.add_argument("--verify-dump")
    ARGS, rest = ap.parse_known_args(namespace=ARGS)
    unittest.main(argv=[sys.argv[0]] + rest)
