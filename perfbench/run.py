#!/usr/bin/env python3
"""Benchmark for graft, run from the repository root:

  python3 perfbench/run.py --workload <corpus|pipeline> --seed <n> \
      --seconds <s> --trace <0|1>

One run builds perfbench/harness (the program's sources plus the harness)
with sbt if the sources changed, generates the inputs once, and runs the
workload in one JVM on local[N] (N = CPUs available): set-up (session start
and a cold pass), then warm passes in a closed loop, one operation at a time,
for --seconds. The seed sets the order of queries in each pass. The outputs
of the set-up pass and of the warm path (the last timed pass of the pipeline,
or one more untimed warm pass of the queries) are checked against the digests
pinned in pins.json. The last stdout line is one JSON object; with --trace 0
it holds the end-to-end metrics, with --trace 1 the per-layer ones (from a
SparkListener and a QueryExecutionListener attached by the harness).

  python3 perfbench/run.py --pin   re-pins every digest and cross-checks the
                                   pins against the program's DuckDB twins
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import zipfile
from concurrent.futures import ProcessPoolExecutor

import duckdb
import numpy as np
import pandas as pd

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
PINS = os.path.join(HERE, "pins.json")
CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"

# Four rows of the LLM-data tier whose cost is driver-side construction and
# per-query overhead, not data volume: MMR re-ranking (35 of its 36 jobs fire
# while the query is built), salted top-k similarity, the staged BM25 index,
# and near-dup clustering.
CORPUS = ["q_mmr_rerank", "q_topk_similarity", "q_bm25_served", "q_dedup_clusters"]
WORKLOADS = {"corpus": CORPUS, "pipeline": ["pipeline"]}
# Generator scale factor of each workload's inputs. The LLM-tier rows' cost
# does not depend on data volume; the pipeline runs at sf0.1, where E1 reads
# 600,000 line items and writes a master layer of the same size.
SF = {"corpus": 0.001, "pipeline": 0.1}
# The class-data-sharing archive is dumped from a cold pass of every
# workload on the smallest inputs: it records classes, not data.
CDS_SF = 0.001
# E1's layers and the query whose DuckDB twin computes the same rows.
E1_LAYERS = {
    "master_layer/m_data_model": "q_master_model",
    "business_layer/b_performance_metrics": "q_performance_metrics",
    "business_layer/b_product_performance": "q_product_performance",
    "business_layer/b_profitability_kpi": "q_profitability_kpi",
    "business_layer/b_sales_kpi": "q_sales_kpi",
    "business_layer/b_customer_retention": "q_customer_retention",
}
E1_STAGES = ["generate_stage", "sense", "load_raw", "archive", "master",
             "business_b_performance_metrics", "business_b_product_performance",
             "business_b_profitability_kpi", "business_b_sales_kpi",
             "business_b_customer_retention", "dq_gate", "curation",
             "assembly", "layer_counts"]
E2_STAGES = ["stage", "drain", "redrain"]
PER_LAYER = (
    ["SparkEntry.construct_s", "SparkEntry.construct_jobs",
     "SparkEntry.cold_construct_s", "SparkEntry.staged_mb"]
    + [f"plans.{k}" for k in ["analysis_s", "optimization_s", "planning_s",
                              "exchanges", "broadcasts", "reused_exchanges"]]
    + [f"operators.{k}" for k in [
        "exec_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
        "scheduler_delay_s", "slot_busy_frac", "shuffle_write_bytes",
        "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes", "scan_rows",
        "input_bytes", "peak_exec_mem_bytes", "failed_tasks"]]
    + ["sources.input_bytes", "sources.input_records", "sinks.output_bytes",
       "sinks.output_records", "sinks.output_files"]
    + ["Pipeline.e1_s", "Pipeline.jobs"] + [f"Pipeline.{s}_s" for s in E1_STAGES]
    + ["streaming.e2_s"] + [f"streaming.{s}_s" for s in E2_STAGES]
    + ["listener.overhead_s"])
MB = 1 << 20
# DuckDB twins that run longer than this are recorded as "timeout" in pins.json.
ORACLE_TIMEOUT_S = 120


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def files_under(d):
    for base, _, names in os.walk(d):
        for n in sorted(names):
            yield os.path.join(base, n)


def build():
    """Compiles the harness with the program's sources, packs it as a jar and
    dumps a class-data-sharing archive of the classes one cold pass of every
    workload loads (so each run's JVM maps them instead of loading them).
    Returns the classpath and the archive; redone only when a source or build
    file changed."""
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
            os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, "project", "build.properties")]
    h = hashlib.sha256()
    for s in srcs:
        for f in ([s] if os.path.isfile(s) else sorted(files_under(s))):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    stamp, cp_file = h.hexdigest(), os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp:
            return cached["classpath"], cached["archive"]
        os.remove(cp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("perfbench: building the harness with sbt")
    out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                   timeout=600, capture=True)
    classes = os.path.join(HARNESS, "target", "scala-2.13", "classes")
    lines = [l.strip() for l in out.splitlines() if l.startswith(classes + os.pathsep)]
    if not lines:
        die("sbt printed no classpath:\n" + out[-4000:])
    jar = os.path.join(WORK, "harness.jar")
    with zipfile.ZipFile(jar, "w") as z:
        for f in files_under(classes):
            z.write(f, os.path.relpath(f, classes))
    cp = os.pathsep.join(jar if c == classes else c for c in lines[-1].split(os.pathsep))
    archive = os.path.join(WORK, "classes.jsa")
    log("perfbench: dumping the class-data-sharing archive")
    data = inputs(CDS_SF)
    work = os.path.join(WORK, "run", "cds")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm(cp, None, ["mode=run", "workload=cds",
                   "queries=" + ",".join(q for w in WORKLOADS.values() for q in w),
                   f"data={data}", "seed=0", "seconds=0", "trace=0", f"cpus={CPUS}",
                   f"work={work}", f"out={work}/result.json"],
        os.path.join(WORK, "tmp"), timeout=400, flags=[f"-XX:ArchiveClassesAtExit={archive}"])
    shutil.rmtree(work, ignore_errors=True)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp, "archive": archive}, fh)
    return cp, archive


def run_proc(cmd, cwd=ROOT, env=None, timeout=170, capture=False):
    """Runs a child in its own process group; kills the group on timeout and
    waits for it. Returns captured stdout+stderr (or "") and dies on failure."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
                         stderr=subprocess.STDOUT if capture else subprocess.DEVNULL,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} timed out after {timeout} s")
    if p.returncode != 0:
        die(f"{' '.join(cmd[:3])} ... exited with {p.returncode}\n{(out or '')[-4000:]}")
    return out or ""


def inputs(sf):
    """The generated tables at scale factor `sf` (fixed generator seed: the
    workload seed only orders queries). Made once per checkout, row counts
    checked every run."""
    d = os.path.join(WORK, "data", f"sf{sf}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, sf)
        os.rename(tmp, d)
    con = duckdb.connect()
    for t, n in gen.row_counts(sf).items():
        got = con.execute(f"SELECT count(*) FROM '{d}/{t}.parquet'").fetchone()[0]
        if got != n:
            die(f"input {t} has {got} rows, expected {n}")
    return d


def jvm(cp, archive, args, tmp, timeout=170, flags=()):
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"] + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    cmd += list(flags) + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                          "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args
    try:
        run_proc(cmd, timeout=timeout)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---- output digests (the normalization of tools/compare.py) ---------------

def norm_col(s):
    """One column as strings (None for null), normalized as tools/compare.py
    does element by element: floats as repr, ints as decimal, midnight
    timestamps as ISO dates and others as ISO timestamps, date objects as ISO,
    anything else as str. Vectorized where the dtype allows."""
    null = s.isna().to_numpy()
    v = s.to_numpy()
    if s.dtype.kind == "f":
        out = v.astype(np.float64).astype(str).astype(object)  # numpy's str of a float64 is its repr
    elif s.dtype.kind in "iu":
        out = v.astype(str).astype(object)
    elif s.dtype.kind == "M" and getattr(s.dtype, "tz", None) is None:
        t = v.astype("datetime64[ns]")
        ns = (t - t.astype("datetime64[s]")).astype(np.int64)
        midnight = t == t.astype("datetime64[D]")
        out = np.datetime_as_string(t, "s").astype(object)
        out[midnight] = np.datetime_as_string(t[midnight], "D")
        out[ns != 0] = np.datetime_as_string(t[ns != 0], "us")  # Spark and DuckDB keep µs
    elif s.dtype.kind == "M":
        out = np.array([None if pd.isna(x) else (
            d.date().isoformat() if (d := pd.Timestamp(x)) == d.normalize()
            else d.isoformat()) for x in v], dtype=object)
    elif pd.api.types.infer_dtype(s, skipna=True) in ("string", "empty"):
        out = v.astype(object).copy()
    else:
        out = np.array([None if x is None else (
            x.isoformat() if hasattr(x, "isoformat") else str(x)) for x in v], dtype=object)
    out[null] = None
    return out


def digest_df(df):
    """(row count, order-insensitive sha256) of a frame: every row's
    normalized values (columns sorted by name) joined into one line, the lines
    sorted."""
    cols = [norm_col(df[c]) for c in sorted(df.columns)]
    lines = ["\x01".join("" if v is None else v for v in row) for row in zip(*cols)]
    lines.sort()
    h = hashlib.sha256()
    for l in lines:
        h.update((l + "\n").encode())
    return len(df), h.hexdigest()


def digest_dir(path):
    """Digest of a Parquet directory the program wrote (hive partitions read
    back as string columns, as Spark reads them)."""
    files = [f for f in files_under(path) if f.endswith(".parquet")]
    if not files:
        raise ValueError(f"no Parquet files under {path}")
    frames = []
    for f in files:
        df = pd.read_parquet(f)
        for part in os.path.relpath(os.path.dirname(f), path).split(os.sep):
            if "=" in part:
                k, v = part.split("=", 1)
                df[k] = v
        frames.append(df)
    return digest_df(pd.concat(frames, ignore_index=True))


# A run's checked outputs: the cold set-up pass's under check/, and the warm
# path's under warm/ (the last timed pipeline pass, or an untimed warm re-run
# of the queries), so a wrong reuse of warm state fails the check too.
CHECKED = ["check", "warm"]


def outputs(workload, out_dir):
    """name -> Parquet directory of every checked output of one pass."""
    if workload == "pipeline":
        out = {f"e1/{k}": os.path.join(out_dir, "e1", k) for k in E1_LAYERS}
        out["e2/layer"] = os.path.join(out_dir, "e2", "layer")
        return out
    return {q: os.path.join(out_dir, q) for q in WORKLOADS[workload]}


def digest_or_error(path):
    try:
        return digest_dir(path)
    except Exception as e:  # missing or unreadable output
        return e


def check(workload, work, pins):
    """Compares every checked output with its pin; returns the names
    (`<pass>/<output>`) that differ. Digests are taken in parallel."""
    todo = {f"{sub}/{name}": (name, path) for sub in CHECKED
            for name, path in outputs(workload, os.path.join(work, sub)).items()}
    with ProcessPoolExecutor(min(CPUS, 4)) as pool:
        got = dict(zip(todo, pool.map(digest_or_error, [p for _, p in todo.values()])))
    bad = []
    for key, (name, _) in todo.items():
        pin = pins.get(workload, {}).get(name)
        if isinstance(got[key], Exception):
            log(f"check FAIL {workload}/{key}: {got[key]}")
            bad.append(key)
            continue
        rows, dig = got[key]
        if pin is None or pin["rows"] != rows or pin["digest"] != dig:
            log(f"check FAIL {workload}/{key}: {rows} rows {dig[:12]}, pinned "
                f"{pin and pin['rows']} rows {pin and pin['digest'][:12]}")
            bad.append(key)
    return bad


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(d):
    return {
        "setup_s": (d["setup_s"], "s"),
        "pass_s": (median([p["seconds"] for p in d["passes"]]), "s"),
        "retained_heap_mb": (d["retained_heap_bytes"] / MB, "MB"),
    }


OPERATOR_SUMS = ["jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                 "scheduler_delay_s", "shuffle_write_bytes", "shuffle_read_bytes",
                 "shuffle_fetch_wait_s", "spill_bytes", "failed_tasks"]
UNITS = {"_s": "s", "_bytes": "B", "_mb": "MB", "_frac": "ratio"}


def unit(name):
    return next((u for sfx, u in UNITS.items() if name.endswith(sfx)), "count")


def per_layer(d, work):
    """Per-layer sums of each traced pass, as medians over traced passes.
    `operators.*`, `sources.*` and `sinks.*` sum the execute phases only;
    `plans.*` sums every query planned, construction included."""
    def one(p):
        m = {}

        def add(k, x):
            m[k] = m.get(k, 0.0) + x
        for o in p["ops"]:
            add("SparkEntry.construct_s", o["construct_s"])
            add("operators.exec_s", o["seconds"] - o["construct_s"])
            for phase, c in o["layers"].items():
                g = c.get
                if phase == "construct":
                    add("SparkEntry.construct_jobs", g("jobs", 0))
                else:
                    for k in OPERATOR_SUMS:
                        add(f"operators.{k}", g(k, 0))
                    add("operators.scan_rows", g("input_records", 0))
                    add("operators.input_bytes", g("input_bytes", 0))
                    m["operators.peak_exec_mem_bytes"] = max(
                        m.get("operators.peak_exec_mem_bytes", 0.0), g("peak_exec_mem_bytes", 0))
                    add("operators.slot_busy_frac",
                        g("task_run_s", 0) / (p["seconds"] * d["cpus"]))
                    add("sources.input_bytes", g("input_bytes", 0))
                    add("sources.input_records", g("input_records", 0))
                    add("sinks.output_bytes", g("output_bytes", 0))
                    add("sinks.output_records", g("output_records", 0))
                for k in ["analysis_s", "optimization_s", "planning_s", "exchanges",
                          "broadcasts", "reused_exchanges"]:
                    add(f"plans.{k}", g(k, 0))
            if o["name"] == "e1":
                add("Pipeline.e1_s", o["seconds"])
                add("Pipeline.jobs", o["layers"].get("execute", {}).get("jobs", 0))
                for s in E1_STAGES:
                    add(f"Pipeline.{s}_s", o["stages"].get(s, 0))
            if o["name"] == "e2":
                add("streaming.e2_s", o["seconds"])
                for s in E2_STAGES:
                    add(f"streaming.{s}_s", o["stages"].get(s, 0))
        return m

    traced = [one(p) for p in d["passes"] if p["traced"]]
    out = {k: median([m.get(k, 0.0) for m in traced]) for k in PER_LAYER}
    out["SparkEntry.cold_construct_s"] = sum(o["construct_s"] for o in d["setup_ops"])
    out["SparkEntry.staged_mb"] = d["staged_bytes"] / MB
    out["sinks.output_files"] = float(sum(
        1 for f in files_under(os.path.join(work, "check")) if os.path.basename(f).startswith("part-")
        and os.sep + "ckpt" + os.sep not in f)) if d["workload"] == "pipeline" else 0.0
    out["listener.overhead_s"] = (
        median([p["seconds"] for p in d["passes"] if p["traced"]]) -
        median([p["seconds"] for p in d["passes"] if not p["traced"]]))
    return {k: (out[k], unit(k)) for k in PER_LAYER}


def run(args):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a graft checkout (no src/main/scala/graft here)")
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    os.makedirs(WORK, exist_ok=True)
    data = inputs(SF[args.workload])
    cp, archive = build()
    with open(PINS) as fh:
        pins = json.load(fh)
    work = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    res = os.path.join(work, "result.json")
    os.makedirs(work)
    jvm(cp, archive, ["mode=run", f"workload={args.workload}",
             "queries=" + ",".join(WORKLOADS[args.workload]), f"data={data}",
             f"seed={args.seed}", f"seconds={args.seconds}", f"trace={args.trace}",
             f"cpus={CPUS}", f"work={work}", f"out={res}"], os.path.join(WORK, "tmp"))
    with open(res) as fh:
        d = json.load(fh)
    bad = check(args.workload, work, pins)
    result, info = summarize(d, work, bad, args.trace)
    if args.trace:
        rows = os.path.join(WORK, f"trace_{args.workload}.jsonl")
        with open(rows, "w") as fh:
            for i, p in enumerate(d["passes"]):
                for o in p["ops"]:
                    fh.write(json.dumps(dict(o, pass_index=i, traced=p["traced"])) + "\n")
        log(f"perfbench: per-query trace rows in {rows}")
    print(json.dumps(info))
    print(json.dumps(result))


def summarize(d, work, bad, trace):
    """The result line and an informational line. A failed operation keeps
    its attempt time in its pass, so a failure never reads as a fast pass;
    failed timed operations and checked outputs that differ from their pins
    (an untimed operation that fails leaves its output missing) count as
    failed."""
    ops = [o for p in d["passes"] for o in p["ops"]]
    for o in d["setup_ops"] + ops + d["verify_ops"]:
        if not o["ok"]:
            log(f"FAIL {o['name']}: {o['error']}")
    attempted = len(ops) + len(CHECKED) * len(outputs(d["workload"], work))
    failed = sum(not o["ok"] for o in ops) + len(bad)
    metrics = per_layer(d, work) if trace else end_to_end(d)
    info = {"workload": d["workload"], "seed": d["seed"], "cpus": d["cpus"],
            "passes": len(d["passes"]), "ops": len(ops),
            "failed_frac": failed / attempted, "check_failed": bad}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return result, info


# ---- pins ------------------------------------------------------------------

def oracle_digest(con, sql, timeout):
    """Digest of a DuckDB twin's result, or None if it runs past `timeout`."""
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return digest_df(con.execute(sql).fetchdf())
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def pin():
    """Runs every workload once and pins each output's digest. The warm
    path's outputs must equal the cold pass's. Each pin is cross-checked
    against the program's DuckDB twin (SparkEntry.oracleSql) where one exists
    and finishes within ORACLE_TIMEOUT_S."""
    os.makedirs(WORK, exist_ok=True)
    cp, archive = build()
    names = sorted(set(CORPUS) | set(E1_LAYERS.values()))
    sql_file = os.path.join(WORK, "oracle_sql.json")
    jvm(cp, archive, ["mode=oracle", "names=" + ",".join(names), f"out={sql_file}"],
        os.path.join(WORK, "tmp"))
    with open(sql_file) as fh:
        twins = json.load(fh)
    pins = {}
    for w in WORKLOADS:
        data = inputs(SF[w])
        con = duckdb.connect()
        for t in gen.row_counts(SF[w]):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        work = os.path.join(WORK, "run", w)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        jvm(cp, archive, ["mode=run", f"workload={w}", "queries=" + ",".join(WORKLOADS[w]),
                 f"data={data}", "seed=0", "seconds=0", "trace=0", f"cpus={CPUS}",
                 f"work={work}", f"out={work}/result.json"], os.path.join(WORK, "tmp"))
        pins[w] = {}
        warm = outputs(w, os.path.join(work, "warm"))
        for name, path in outputs(w, os.path.join(work, "check")).items():
            rows, dig = digest_dir(path)
            if digest_dir(warm[name]) != (rows, dig):
                die(f"{w}/{name}: the warm pass's output differs from the cold pass's")
            twin = E1_LAYERS.get(name[3:]) if w == "pipeline" else name
            if twin not in twins:  # E2's rows: every pass checks it landed 50,000
                oracle = "no twin"
            else:
                t0 = time.time()
                o = oracle_digest(con, twins[twin], ORACLE_TIMEOUT_S)
                oracle = ("timeout" if o is None else
                          f"match ({twin})" if o == (rows, dig) else
                          f"MISMATCH ({twin}: {o[0]} rows {o[1][:12]})")
                log(f"{w}/{name}: {rows} rows, oracle {oracle} in {time.time() - t0:.1f} s")
            pins[w][name] = {"rows": rows, "digest": dig, "oracle": oracle}
        shutil.rmtree(work, ignore_errors=True)
    with open(PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    if args.pin:
        pin()
    elif args.workload:
        run(args)
    else:
        die("--workload or --pin is required")


if __name__ == "__main__":
    main()
