#!/usr/bin/env python3
"""The repository benchmark: the medallion pipeline and the query gates.

    python3 perfbench/run.py --workload <backfill_deep|daily_wide|gates>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and this
harness from source with sbt (perfbench/build.sbt) and caches the build under
perfbench/target; later runs reuse it while the sources are unchanged. One
JVM at local[<cores>] runs the workload as a single closed-loop client (see
BenchMain.scala); this script generates nothing itself, but checks every
operation's output against gen.py's expected counts (pipeline) or the DuckDB
oracle (gates), prints every metric by name with its unit, and ends with one
JSON line. Any wrong or failed operation makes the exit code 1; a run that
cannot start (no program sources, no toolchain) exits 2 without a result.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
sys.path.insert(0, HERE)

import stats  # noqa: E402

# A benchmark run must end within 180 s, its first build within 900 s.
JVM_DEADLINE_S = 165
BUILD_DEADLINE_S = 850
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
ANALYST = ["latest_snapshot", "top_moves", "volatility_scan", "liquidity_screen",
           "recent_window", "large_move_alert", "volatility_expansion",
           "cross_asset_on", "completeness", "dq_triage"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec():
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------------- build

def _fingerprint():
    h = hashlib.sha1()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die(f"Spark jars directory missing under {home}")
    return jars


def build():
    """Classpath of the compiled program + harness, building when stale."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft", "pipeline")):
        die("program sources not found: run from the repository root")
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    fp = _fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("fingerprint") == fp:
            return s["classpath"]
    if not shutil.which("sbt"):
        die("sbt not found on PATH")
    env = dict(os.environ, PERFBENCH_SPARK_JARS=_spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.monotonic()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_DEADLINE_S)
    if r.returncode != 0:
        print(r.stdout[-6000:], r.stderr[-2000:], file=sys.stderr)
        die("build failed")
    lines = [l for l in r.stdout.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        die("build printed no classpath")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, fh)
    print(f"perfbench: built in {time.monotonic() - t0:.0f} s", file=sys.stderr)
    return lines[-1]


# --------------------------------------------------------------------- run

def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, a, spec, work):
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # A fixed heap keeps collection timing, and so operation times, from
    # varying with how far the heap happened to grow.
    cmd = [java, *ADD_OPENS, f"-Xms{spec['heap']}", f"-Xmx{spec['heap']}",
           f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
           "-cp", classpath,
           "perfbench.BenchMain", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--cores", str(cores()),
           "--setups", str(spec["setups"]), "--python", sys.executable,
           "--gen", os.path.join(HERE, "gen.py"),
           "--gates", ",".join(spec["heavy_gates"] + spec["band_gates"])]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as fh:
            print(fh.read()[-6000:], file=sys.stderr)
        raise RuntimeError(f"benchmark JVM ended with {rc}")
    with open(os.path.join(work, "records.jsonl")) as fh:
        return [json.loads(l) for l in fh if l.strip()]


# ------------------------------------------------------------------ checks

class Checker:
    """Counts checked operations and collects every mismatch."""

    def __init__(self):
        self.attempted, self.failures = 0, []

    def check(self, label, pairs):
        self.attempted += 1
        bad = [f"{k}: got {got!r}, want {want!r}" for k, got, want in pairs
               if got != want]
        if bad:
            self.failures.append(f"{label}: " + "; ".join(bad))


def check_run(c, label, run, exp, dq_before):
    reasons = run["rejected_by_reason"]
    checks = run["dq_fail_by_check"]
    c.check(label, [(k, run[k], exp[k]) for k in ("bronze", "silver", "rejected", "gold")] +
            [(f"rejected[{r}]", reasons.get(r, 0), n)
             for r, n in exp["rejected_by_reason"].items()] +
            [(f"dq_fail[{k}]", checks.get(k, 0), n)
             for k, n in exp["dq_fail_by_check"].items()] +
            [("dq_run_rows", run["dq_run_rows"], exp["dq_rows_per_run"]),
             ("dq", run["dq"], dq_before + exp["dq_rows_per_run"])])
    return dq_before + exp["dq_rows_per_run"]


def check_queries(c, label, qs, exp):
    a = exp["analyst"]
    latest = [a["latest_date"]]
    want_dates = {"top_moves": latest, "volatility_scan": latest,
                  "liquidity_screen": latest, "cross_asset_on": latest,
                  "large_move_alert": latest if a["large_move_alert"] else []}
    want_rows = dict(a, dq_triage=sum(exp["dq_fail_by_check"].values()))
    for q in qs:
        n = q["name"]
        pairs = [("rows", q["rows"], want_rows[n])] if n != "volatility_expansion" else []
        if n in want_dates:
            pairs.append(("dates", q["dates"], want_dates[n]))
        if n == "completeness":
            pairs.append(("days", q["days"], a["completeness_days"]))
        if n == "volatility_expansion":
            pairs.append(("violations", q["violations"], 0))
        c.check(f"{label} {n}", pairs)


def check_pipeline(records, expected, workload):
    c = Checker()
    dq = 0
    for r in records:
        if r["kind"] == "history":
            dq = check_run(c, "history", r["run"], expected["history"], 0)
    for r in records:
        if r["kind"] not in ("warmup", "op"):
            continue
        op = r["op"] if r["kind"] == "warmup" else r
        k = op["k"]
        if k == 0:
            check_queries(c, "history", op["queries"], expected["history"])
        elif workload == "backfill_deep":
            check_run(c, f"load {k}", op["runs"][0], expected["load"], 0)
        else:
            exp = expected["days"][k - 1]
            for run in op["runs"]:
                dq = check_run(c, f"day {k} {run['what']}", run, exp, dq)
            check_queries(c, f"day {k}", op["queries"], exp)
    return c


def check_gates(records, spec, work):
    """Warm-up results against the DuckDB oracle, compared the way
    tools/check_parity.py does (columns by name, rows sorted, values equal)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_parity
    import duckdb
    import pandas as pd
    import glob
    warm = next(r for r in records if r["kind"] == "warmup")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in os.listdir(warm["tables"]):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(warm['tables'], t)}')")
    c = Checker()
    for name in spec["heavy_gates"] + spec["band_gates"]:
        files = sorted(glob.glob(os.path.join(warm["results"], name, "*.parquet")))
        spark_df = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
        if name not in oracles:
            err = "no oracle SQL"
        else:
            duck_df = con.execute(oracles[name]).fetchdf()
            err = check_parity.compare(name, spark_df, duck_df) or "; ".join(
                check_parity.wide_magnitude_flags(name, files, spark_df, duck_df)) or None
        c.check(f"gate {name}", [("oracle", err, None)])
    # every timed execution finished (an exception would have ended the JVM)
    for r in records:
        if r["kind"] == "op":
            c.attempted += len(r["gates"])
    return c


# ----------------------------------------------------------------- metrics

def setup_s(records):
    """Median of the repeated session starts + data generations, plus the
    one starting warehouse (daily_wide) and the one warm-up operation."""
    reps = [r["total_s"] for r in records if r["kind"] == "setup"]
    once = sum(r["wall_s"] for r in records if r["kind"] in ("prepare", "warmup"))
    return stats.median(reps) + once


def _ops(records, traced):
    return [r for r in records if r["kind"] == "op" and r["traced"] == traced]


def _med(xs):
    return stats.median(xs) if xs else 0.0


def _ingest_ratio(ops, key):
    """Σ key over the ops' pipeline runs ÷ Σ CSV bytes those runs ingested."""
    return stats.ratio(sum(r[key] for o in ops for r in o["runs"]),
                       sum(o["csv_bytes"] * len(o["runs"]) for o in ops))


def amplification(op, expected, workload):
    """(write_amp, space_amp) of one operation: bytes its pipeline runs wrote
    ÷ CSV bytes they ingested, and warehouse bytes on disk after it ÷ the
    distinct CSV bytes the warehouse holds. Taken from the first timed
    operation, so that the figures do not depend on how many operations
    fit in the run."""
    write = _ingest_ratio([op], "bytes_written")
    if workload == "backfill_deep":
        base = expected["csv_bytes"]
    else:
        base = expected["history_bytes"] + sum(
            d["csv_bytes"] for d in expected["days"][:op["k"]])
    return write, stats.ratio(op["warehouse_bytes"], base)


def calls(ops):
    """{call: [latency per operation]} of the operations' entry-point calls:
    the pipeline runs by kind (load; append, rerun), each analyst query and
    each gate."""
    per = {}
    for o in ops:
        for c in o.get("runs", []) + o.get("queries", []) + o.get("gates", []):
            per.setdefault(c.get("what") or c["name"], []).append(c["wall_s"])
    return per


def end_to_end(records, expected, workload, traced=False):
    """The run's end-to-end readings: the three every workload has (the
    ones BENCHMARK.json declares) and the workload's own, printed beside
    them."""
    ops = _ops(records, traced)
    per = calls(ops)
    m = {
        "setup_s": (setup_s(records), "s"),
        "op_p50_s": (_med([o["wall_s"] for o in ops]), "s"),
        "call_geomean_s": (stats.geomean([_med(v) for v in per.values()]), "s"),
        "live_heap_mb": (next(r for r in records if r["kind"] == "end")["live_heap_mb"], "MB"),
    }
    if workload == "gates":
        m["gate_pass_s"], m["gate_geomean_s"] = m["op_p50_s"], m["call_geomean_s"]
        return m
    runs = [r for o in ops for r in o["runs"]]
    write_amp, space_amp = amplification(ops[0], expected, workload)
    m["pipeline_run_s"] = (_med([r["wall_s"] for r in runs]), "s")
    m["write_amp"], m["space_amp"] = (write_amp, "ratio"), (space_amp, "ratio")
    if workload == "daily_wide":
        m["append_s"] = (_med(per["append"]), "s")
        m["rerun_s"] = (_med(per["rerun"]), "s")
        lat = [q["wall_s"] for o in ops for q in o["queries"]]
        m["analyst_p50_s"] = (_med(lat), "s")
        t = stats.tail(lat)
        m["analyst_tail_s"], m["analyst_tail_pct"] = \
            ((t[0], "s"), (t[1], "%")) if t else ((max(lat), "s"), (100.0, "%"))
    return m


def gate_metric(name):
    """`q146_prefix_jaccard` -> `gates.q146`."""
    return "gates." + name.split("_")[0]


def layer_metrics(records, spec, expected, workload):
    """Per-layer readings of the traced operations, as {name: (value, unit)}."""
    traced, plain = _ops(records, True), _ops(records, False)
    v = {"session.start_s": (_med([s["session_s"] for s in records
                                   if s["kind"] == "setup"]), "s"),
         "trace.overhead": (stats.ratio(_med([o["wall_s"] for o in traced]),
                                        _med([o["wall_s"] for o in plain])) - 1, "ratio")}
    e2e = end_to_end(records, expected, workload, traced=True)
    if workload == "gates":
        for g, xs in calls(traced).items():
            v[gate_metric(g) + "_s"] = (_med(xs), "s")
        for g in spec["heavy_gates"]:
            v[gate_metric(g) + "_jobs"] = (_med([x["jobs"] for o in traced for x in o["gates"]
                                                 if x["name"] == g]), "count")
        for k in ("build_s", "exec_s"):
            v[f"gates.{k}"] = (_med([sum(g[k] for g in o["gates"]) for o in traced]), "s")
        v["gates.pass_s"] = e2e["gate_pass_s"]
        v["gates.geomean_s"] = e2e["gate_geomean_s"]
    else:
        runs = [r for o in traced for r in o["runs"]]
        v["pipeline.run_s"] = e2e.get("append_s", e2e["pipeline_run_s"])
        v["pipeline.rerun_s"] = e2e.get("rerun_s", (0.0, "s"))
        for layer, keys in (("bronze", ("wall_s", "jobs", "cpu_s")),
                            ("silver", ("wall_s", "jobs", "shuffle_write_bytes",
                                        "files_written")),
                            ("gold", ("wall_s", "jobs", "shuffle_write_bytes", "spill_bytes")),
                            ("dq", ("wall_s", "jobs"))):
            for k in keys:
                v[f"{layer}.{k}"] = (_med([r["layers"][layer][k] for r in runs]), "")
        v["bronze.csv_read_ratio"] = (_ingest_ratio(
            [dict(o, runs=[r["layers"]["bronze"] for r in o["runs"]]) for o in traced],
            "input_bytes"), "ratio")
        v["silver.rejected_rows"] = (_med([r["rejected"] for r in runs]), "count")
        v["dq.rows"] = (_med([r["dq_run_rows"] for r in runs]), "count")
        for k in ("upsert_partitions", "files_written", "bytes_written"):
            v[f"catalog.{k}"] = (_med([r[k] for r in runs]), "")
        v["catalog.files_per_partition"] = (_med(
            [stats.ratio(o["data_files"], o["partition_dirs"]) for o in traced]), "ratio")
        v["catalog.archive_bytes"] = (_med([o["archive_bytes"] for o in traced]), "bytes")
        v["catalog.read_s"] = (_med([o["read_s"] for o in traced]), "s")
        v["catalog.write_amp"], v["catalog.space_amp"] = e2e["write_amp"], e2e["space_amp"]
        if workload == "daily_wide":
            per = calls(traced)
            for n in ANALYST:
                v[f"analyst.{n}_s"] = (_med(per[n]), "s")
            v["analyst.p50_s"] = e2e["analyst_p50_s"]
            v["analyst.tail_s"] = e2e["analyst_tail_s"]
            v["analyst.tail_pct"] = e2e["analyst_tail_pct"]
            v["analyst.jobs"] = (_med([o["analyst"]["jobs"] for o in traced]), "count")
            v["analyst.bytes_read"] = (_med([o["analyst"]["input_bytes"] for o in traced]), "bytes")
    # the program's calls only: every layer of the traced half, none of the
    # harness's own checks
    sp = next(r for r in records if r["kind"] == "spark")
    per_op = max(1, len(traced))
    for k in ("analysis_s", "optimization_s", "planning_s", "jobs", "tasks",
              "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "gc_s"):
        v[f"spark.{k}"] = (sp[k] / per_op, "")
    v["spark.core_idle_share"] = (stats.core_idle_share(
        sp["executor_run_s"], sp["wall_s"], sp["cores"]), "ratio")
    return v


def select(values, declared):
    """The declared metrics, in declared order and units. A declared metric
    the workload does not reach reads 0; an undeclared reading is an error."""
    extra = set(values) - {m["name"] for m in declared}
    if extra:
        raise RuntimeError(f"readings not declared in BENCHMARK.json: {sorted(extra)}")
    return {m["name"]: {"value": values.get(m["name"], (0.0,))[0], "unit": m["unit"]}
            for m in declared}


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -------------------------------------------------------------------- main

def keep_records_only(work):
    """Remove what the run generated (inputs, warehouses, Spark scratch),
    keeping its records and logs for reading."""
    for f in os.listdir(work):
        p = os.path.join(work, f)
        if f not in ("records.jsonl", "jvm.log", "gen.log"):
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["backfill_deep", "daily_wide", "gates"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = load_spec()
    classpath = build()
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    expected = {}
    try:
        records = run_jvm(classpath, a, spec, work)
        if a.workload == "gates":
            checker = check_gates(records, spec, work)
        else:
            with open(os.path.join(work, f"setup{spec['setups']}", "expected.json")) as fh:
                expected = json.load(fh)
            checker = check_pipeline(records, expected, a.workload)
    finally:
        keep_records_only(work)
    if a.trace:
        readings = layer_metrics(records, spec, expected, a.workload)
        declared, extra = load_benchmark()["per_layer"], {}
    else:
        readings = end_to_end(records, expected, a.workload)
        declared = load_benchmark()["end_to_end"]
        extra = {k: v for k, v in readings.items()
                 if k not in {m["name"] for m in declared}}
    metrics = select({k: v for k, v in readings.items() if k not in extra}, declared)
    for f in checker.failures:
        print(f"FAILED {f}", file=sys.stderr)
    failed = len(checker.failures)
    print(f"error_rate {stats.ratio(failed, checker.attempted):.6g} ratio "
          f"({failed} of {checker.attempted} operations)")
    for k, (val, unit) in extra.items():
        print(f"{k} {val:.6g} {unit}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": checker.attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
