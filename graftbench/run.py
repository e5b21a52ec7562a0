#!/usr/bin/env python3
"""graft benchmark: seeded input, one cold workload, oracle-checked output.

    python3 graftbench/run.py --workload pvs_pipeline --seed 7 --seconds 10 --trace 0

Workloads:
  pvs_pipeline    a cold `graft.Pipeline.run` (02 -> 03 -> 04, 33 tables)
  curation_dedup  the 8 curation dedup queries, each result written

With --trace 0 the last stdout line holds the end-to-end metrics of the
workload; with --trace 1 it holds the per-layer metrics of the traced span
sweep (both workloads' spans, see README.md). The line before it is the run
record (machine, heap, Spark version, commit, seed, input row counts).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import check  # noqa: E402
import inputs  # noqa: E402

ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ["pvs_pipeline", "curation_dedup"]
HEAP = "4g"
DEADLINE_S = 170  # a run must finish within 180 s

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

SPAN_FIELDS = [("wall_s", "s"), ("busy_s", "s"), ("wait_s", "s"),
               ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("failed_tasks", "count")]


def end_to_end_metrics():
    return [("workload_s", "s"), ("setup_s", "s")]


def layer_metrics():
    """[(name, unit)] of every per-layer metric a traced run reports."""
    out = []
    for w, spans in [
            ("pvs_pipeline", ["queries.linkage_sides", "queries.linkage_reffiles",
                              "linkage.cascade", "queries.reffile_chain",
                              "Pipeline.stage02", "Pipeline.stage03", "Pipeline.stage04"]),
            ("curation_dedup", ["queries.curation_signatures",
                                "queries.curation_candidates", "queries.curation_verify"])]:
        out += [(f"{w}.sources.scan.wall_s", "s"), (f"{w}.sources.scan.rows_in", "rows")]
        out += [(f"{w}.{s}.{f}", u) for s in spans for f, u in SPAN_FIELDS]
        out.append((f"{w}.traced_wall_s", "s"))
    out += [("pvs_pipeline.queries.linkage_sides.rows_out", "rows"),
            ("pvs_pipeline.linkage.cascade.rows_out", "rows")]
    for _, p in check.PASSES[:13]:
        out += [(f"pvs_pipeline.linkage.pass.{p}.pairs", "count"),
                (f"pvs_pipeline.linkage.pass.{p}.links_per_pair", "ratio")]
    out += [("pvs_pipeline.linkage.em_iterations", "count"),
            ("trace.listener_s", "s"), ("trace.overhead_s", "s")]
    return out


def nproc():
    return len(os.sched_getaffinity(0))


def commit():
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = top.stdout.split()
    if top.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], ROOT):
        return lines[1]
    return None


def java_cmd(classes, main_class, args):
    """(command, environment) that runs `main_class` of a build the way the
    repo's build.sbt forks a run, with every scratch path inside `.work`."""
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    props = {"spark.ui.enabled": "false", "spark.sql.session.timeZone": "UTC",
             "spark.local.dir": os.path.join(WORK, "spark-local"),
             "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
             "java.io.tmpdir": os.path.join(WORK, "tmp")}
    for k in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, k), exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>.
    cmd = (["java", "-XX:-UsePerfData"] + opens + [f"-Xmx{HEAP}"] +
           [f"-D{k}={v}" for k, v in props.items()] + ["-cp", cp, main_class] + list(args))
    # SPARK_LOCAL_DIRS would override spark.local.dir.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    return cmd, env


class Jvm:
    """One harness process. Its setup time runs from launch until the
    session-ready line arrives on stdout."""

    def __init__(self, classes, args, log_path, deadline):
        cmd, env = java_cmd(classes, "graftbench.Harness", args)
        self.events, self.setup_s = [], None
        with open(log_path, "w") as log:
            t0 = time.monotonic()
            proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            try:
                for line in proc.stdout:
                    if not line.startswith("@@ "):
                        continue
                    ev = json.loads(line[3:])
                    if ev["event"] == "ready":
                        self.setup_s = time.monotonic() - t0
                    self.events.append(ev)
                    if time.monotonic() > deadline:
                        break
                proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                pass
            finally:
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
        self.returncode = proc.returncode
        if self.returncode != 0 or self.setup_s is None:
            raise RuntimeError(f"harness {args[0]} exited {self.returncode}; log: {log_path}")

    def of(self, kind):
        return [e for e in self.events if e["event"] == kind]


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    try:
        classes, source_hash = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    input_dir, info = inputs.build_input(a.seed)

    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(runs, tag)
    logs = os.path.join(WORK, "logs")
    os.makedirs(out)
    os.makedirs(logs, exist_ok=True)

    if a.trace:
        jvm = Jvm(classes, ["trace", input_dir, out],
                  os.path.join(logs, f"{tag}.log"), deadline)
    else:
        jvm = Jvm(classes, ["run", a.workload, input_dir, out, str(a.seconds)],
                  os.path.join(logs, f"{tag}.log"), deadline)
    ready = jvm.of("ready")[0]
    done = jvm.of("done")
    if not done:
        raise RuntimeError("harness did not finish")

    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    check_t0 = time.monotonic()
    if a.trace:
        outputs = [(w, os.path.join(out, w)) for w in WORKLOADS]
    else:
        outputs = [(a.workload, os.path.join(out, f"pass{e['index']}")) for e in jvm.of("pass")]
    failures, attempted = [], 0
    for workload, path in outputs:
        res = check.check_outputs(workload, path, input_dir, info["content"], oracle_sql)
        attempted += len(res)
        failures += [(path, n, r) for n, r in res if r]
    check_s = time.monotonic() - check_t0
    for where, name, reason in failures:
        print(f"CHECK FAILED {os.path.relpath(where, WORK)}/{name}: {reason}", file=sys.stderr)

    if a.trace:
        traced = jvm.of("trace")[0]["metrics"]
        declared = layer_metrics()
        missing = [n for n, _ in declared if n not in traced]
        if missing:
            raise RuntimeError(f"trace lacks metrics: {missing}")
        metrics = {n: metric(traced[n], u) for n, u in declared}
    else:
        passes = jvm.of("pass")
        values = {"workload_s": statistics.median(p["wall_s"] for p in passes),
                  "setup_s": jvm.setup_s}
        metrics = {n: metric(values[n], u) for n, u in end_to_end_metrics()}

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "nproc": nproc(), "SPARK_GRAFT_CPUS": nproc(), "heap": HEAP,
              "heap_max_mb": ready["heap_max_mb"], "spark_version": ready["spark_version"],
              "commit": commit(), "source_hash": source_hash, "input_rows": info["rows"],
              "check_s": check_s,
              "peak_rss_mb": done[0]["peak_rss_mb"],
              "passes": [{k: p[k] for k in ("wall_s", "cpu_s", "items")} for p in jvm.of("pass")]}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
