#!/usr/bin/env python3
"""Benchmark runner for the graft engine: one workload, one run.

    python3 perfbench/run.py --workload <crawl-deep|query-mix> --seed <n>
                             --seconds <s> --trace <0|1> [--size full|smoke]
                             [--expect <file>] [--record]

Builds the engine and the JVM-side runner from source when they are out
of date (sbt, `perfbench/build.sbt`), runs the measurement in one fresh
JVM at `local[nproc]`, checks the outputs, and prints one JSON result as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json, with `--trace 1` its per-layer metrics. A layer the
workload does not exercise reports 0. The exit code is 0 only for a
correct run. Everything the run writes stays under `perfbench/`; the
work directory (stores, shuffle files, results) is deleted at the end,
and a record of the run (metrics, checks, host-noise probes) is kept in
`perfbench/runs/`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
# the engine's test tables (sf0.01 and sf0.001, copied unchanged) that
# query-mix reads; its seed only permutes the query order
TABLES = {"full": os.path.join(HERE, "data", "sf0.01"), "smoke": os.path.join(HERE, "data", "sf0.001")}
WORKLOADS = ("crawl-deep", "query-mix")
DEFAULT_SEED = 42
RUN_LIMIT_S = 170  # the JVM part of one run; the build is not counted

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ----------------------------------------------------------------------
# build
# ----------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classes match the current sources;
    returns (classpath, source stamp)."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, os.getcwd())}: "
             "run from the root of a full checkout")
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return read_classpath(cp_file), stamp
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log("building engine + runner with sbt ...")
    # no JVM of the build may write its perf-data file outside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    t0 = time.time()
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "clean", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(os.path.join(TARGET, "build.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"sbt build failed (exit {rc})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return read_classpath(cp_file), stamp


def read_classpath(cp_file):
    with open(cp_file) as f:
        deps = f.read().strip()
    return os.pathsep.join([os.path.join(TARGET, "scala-2.13", "classes"), deps])


# ----------------------------------------------------------------------
# run environment
# ----------------------------------------------------------------------

def heap_gb():
    """Half of MemTotal, clamped to [2, 8] GB: the sizing the engine's
    own test command uses."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ----------------------------------------------------------------------
# checks done on this side of the JVM
# ----------------------------------------------------------------------

def norm_frame(df):
    """Column order by name, values as comparable python objects, rows
    sorted: the normalisation of the repo's oracle replay script."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_digest(df):
    rows = sorted("\x1f".join(repr(v) for v in r) for r in df.itertuples(index=False))
    h = hashlib.sha256()
    h.update("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:32]


def frames_equal(s, d):
    import pandas as pd
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            return f"dtype of {c}: {s[c].dtype} vs {d[c].dtype}"
        sv, dv = s[c].values, d[c].values
        if s[c].dtype.kind == "f":
            ok = all((math.isnan(a) and math.isnan(b)) or a == b for a, b in zip(sv, dv))
        elif s[c].dtype.kind == "M":
            ok = bool(((sv == dv) | (pd.isna(sv) & pd.isna(dv))).all())
        else:
            ok = bool((sv == dv).all())
        if not ok:
            return f"values of {c} differ"
    return None


def check_queries(work, inputs, replay_twins):
    """Row count and order-free digest of every result of the mix; with
    `replay_twins`, each result is also compared with its DuckDB twin
    (`SparkEntry.oracleSql`) on the same tables, normalised the way the
    repo's oracle replay script does it. Returns (errors, {query: {rows,
    digest}})."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    res_dir = os.path.join(work, "results")
    with open(os.path.join(res_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(inputs, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    errors, seen = [], {}
    for q in sorted(oracle):
        try:
            files = sorted(glob.glob(os.path.join(res_dir, q, "*.parquet")))
            if not files:
                errors.append(f"{q}: no result files")
                continue
            spark_df = norm_frame(pd.concat([pq.read_table(f).to_pandas() for f in files]))
            seen[q] = {"rows": len(spark_df), "digest": frame_digest(spark_df)}
            if replay_twins:
                diff = frames_equal(spark_df, norm_frame(con.execute(oracle[q]).fetchdf()))
                if diff:
                    errors.append(f"{q}: differs from its DuckDB twin: {diff}")
        except Exception as e:  # a broken result is a failed check, not a crash
            errors.append(f"{q}: oracle check raised {type(e).__name__}: {e}")
    return errors, seen


def check_recorded(workload, size, seed, observed, expect_path):
    """Compare with the recorded values: the crawl's for the default seed
    only, the query results' for every seed (the tables are fixed)."""
    if workload == "crawl-deep" and seed != DEFAULT_SEED:
        return []
    rec = None
    if os.path.exists(expect_path):
        with open(expect_path) as f:
            rec = json.load(f).get(workload, {}).get(size)
    if not rec:
        return [] if workload == "crawl-deep" else [f"no recorded query results for size {size}"]
    errs = []
    if workload == "crawl-deep":
        for got, want in zip(observed["round_stats"], rec["round_stats"]):
            if got != want:
                errs.append(f"round {want['round']}: RoundStats {got} != recorded {want}")
        want = rec["seen_digest_by_rounds"].get(str(len(observed["round_stats"])))
        if want and observed["seen_digest"] != want:
            errs.append(f"seen digest {observed['seen_digest']} != recorded {want}")
    else:
        for q, want in rec["queries"].items():
            got = observed.get("queries", {}).get(q)
            if got != want:
                errs.append(f"{q}: rows/digest {got} != recorded {want}")
    return errs


def record(workload, size, observed, expect_path):
    data = {}
    if os.path.exists(expect_path):
        with open(expect_path) as f:
            data = json.load(f)
    if workload == "crawl-deep":
        slot = data.setdefault(workload, {}).setdefault(size, {"seed": DEFAULT_SEED})
        old = slot.get("round_stats", [])
        slot["round_stats"] = observed["round_stats"] if len(observed["round_stats"]) > len(old) else old
        slot.setdefault("seen_digest_by_rounds", {})[str(len(observed["round_stats"]))] = \
            observed["seen_digest"]
    else:
        data.setdefault(workload, {})[size] = {"tables": os.path.relpath(TABLES[size], HERE),
                                               "queries": observed["queries"]}
    with open(expect_path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


# ----------------------------------------------------------------------
# main
# ----------------------------------------------------------------------

def load_metric_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--expect", default=os.path.join(HERE, "expected.json"),
                    help="recorded values: the crawl's for the default seed, the query results'")
    ap.add_argument("--record", action="store_true",
                    help="store this run's checked outputs as the recorded values; query "
                         "results are recorded only if every one equals its DuckDB twin")
    a = ap.parse_args()

    e2e_spec, layer_spec = load_metric_spec()
    classpath, stamp = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_file = os.path.join(work, "result.json")
    jvm_log = os.path.join(work, "jvm.log")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores()), "--work", work,
                "--out", out_file, "--size", a.size,
                # cached reference results are only valid for the sources they came from
                "--cache", os.path.join(HERE, ".cache", stamp[:16])]
        inputs = TABLES[a.size]
        if a.workload == "query-mix":
            if not os.path.isdir(inputs):
                fail(f"query tables not found at {os.path.relpath(inputs, os.getcwd())}")
            args += ["--inputs", inputs]
        heap = f"{heap_gb()}g"
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
                  f"-Djava.io.tmpdir={work}", "-cp", classpath, "perfbench.Main"] + args)
        t0 = time.time()
        with open(jvm_log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, cwd=work)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_LIMIT_S} s; killed", 4)
        if rc != 0 or not os.path.exists(out_file):
            with open(jvm_log) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            fail(f"JVM exited with {rc} and no result", 5)
        with open(out_file) as f:
            res = json.load(f)
        log(f"JVM run took {time.time() - t0:.1f} s")

        errors = list(res["errors"])
        attempted, failed = res["attempted"], res["failed"]
        observed = {}
        if a.workload == "crawl-deep":
            observed = {"round_stats": res["info"]["round_stats"],
                        "seen_digest": res["info"]["seen_digest"]}
        elif os.path.isdir(os.path.join(work, "results")):
            q_errors, observed["queries"] = check_queries(work, inputs, replay_twins=a.record)
            errors += q_errors
            failed += len(q_errors)
        rec_errors = [] if a.record else check_recorded(a.workload, a.size, a.seed, observed, a.expect)
        errors += rec_errors
        failed += len(rec_errors)

        if a.trace:
            values = dict(res["per_layer"])
            values["trace.op_s"] = res["end_to_end"].get("op_s", 0.0)
            wanted = layer_spec
        else:
            values = res["end_to_end"]
            wanted = e2e_spec
        metrics = {}
        for m in wanted:
            v = values.get(m["name"])
            if v is None:
                if not a.trace:
                    errors.append(f"end-to-end metric {m['name']} was not measured")
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        if errors and failed == 0:
            failed = 1
        failed = min(failed, attempted)
        correct = not errors

        if correct and a.record:
            record(a.workload, a.size, observed, a.expect)
        runs = os.path.join(HERE, "runs")
        os.makedirs(runs, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        with open(os.path.join(runs, f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}-{a.size}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace, "size": a.size,
                       "correct": correct, "errors": errors, "end_to_end": res["end_to_end"],
                       "per_layer": res["per_layer"], "info": res["info"],
                       "host_probe": res["host_probe"], "checked": observed}, f, indent=1)
        if a.trace:
            report_trace_overhead(runs, a, values["trace.op_s"])
        for e in errors[:20]:
            log(f"CHECK FAILED: {e}")
        print(json.dumps({"host_probe": res["host_probe"]}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report_trace_overhead(runs, a, traced_op_s):
    """Tracing overhead against the untraced runs recorded in this
    checkout, when there are any."""
    base = []
    for p in glob.glob(os.path.join(runs, f"*-{a.workload}-s*-t0-{a.size}.json")):
        with open(p) as f:
            r = json.load(f)
        if r.get("correct") and "op_s" in r["end_to_end"]:
            base.append(r["end_to_end"]["op_s"])
    if base and traced_op_s:
        med = statistics.median(base)
        log(f"tracing overhead: op_s {traced_op_s:.3f} traced vs {med:.3f} untraced "
            f"(median of {len(base)} runs): {100 * (traced_op_s / med - 1):+.1f}%")


if __name__ == "__main__":
    sys.exit(main())
