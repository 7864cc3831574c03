#!/usr/bin/env python3
"""Layered benchmark of the map-reduce core, SparkEntry queries and doors.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads:
  mr_wordcount   word count through the three MapReduceJob lowerings over a
                 Zipf and a near-unique corpus made from the seed
  queries_sf001  15 SparkEntry queries over a seed-permuted copy of the
                 sf0.01 fixture tables
  doors          2 streaming doors over the same permuted copy

The script builds the harness (perfbench/build.sbt, which compiles the
program's sources with it) when a source changed, makes the inputs, runs
the JVM side (perfbench.Main), checks every output (an exact tally for
mr_wordcount, the program's DuckDB oracles for the others) and prints one
JSON object as its last line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. It exits 1 if an op fails or an output differs
from its reference, and 2 if it cannot run at all.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
FIXTURE = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, "work")
REFS = os.path.join(HERE, "refs")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["mr_wordcount", "queries_sf001", "doors"]
SETUP_REPS = 3
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# --------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return stamp
    log("building the harness and the program with sbt")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


# -------------------------------------------------------------- inputs

def permuted_copy(seed, dst):
    """Writes every fixture table with its rows in a seed-given order. The
    copy keeps each column's physical parquet type and the single row group
    of the source files."""
    import numpy as np
    import pyarrow.parquet as pq
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for i, t in enumerate(TABLES):
        src = os.path.join(FIXTURE, f"{t}.parquet")
        out = os.path.join(dst, f"{t}.parquet")
        pf = pq.ParquetFile(src)
        tbl = pf.read()
        perm = np.random.default_rng([seed, i]).permutation(tbl.num_rows)
        codec = pf.metadata.row_group(0).column(0).compression.lower()
        pq.write_table(tbl.take(perm), out, compression=codec,
                       row_group_size=max(1, tbl.num_rows))
        if not pq.ParquetFile(out).schema.equals(pf.schema):
            fail(f"permuted {t} changed its parquet schema", 1)


# ------------------------------------------------------------- oracles

def canon(df):
    """Order-insensitive canonical form, as tools/check_oracle.py builds it:
    columns sorted by name, timestamps as naive ns, rows sorted."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            s = s.astype("datetime64[ns]")
        out[c] = s.map(lambda v: repr(v) if isinstance(v, (list, tuple)) or
                       hasattr(v, "__len__") and not isinstance(v, str) else v)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare(path, ref):
    """None if the Spark output at `path` equals the DuckDB reference, else
    the first difference."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pq.read_table(path)
    nested = [f.name for f in tbl.schema if pa.types.is_nested(f.type)]
    if nested:
        return f"nested columns {nested}"
    mine = tbl.to_pandas()
    if sorted(mine.columns) != sorted(ref.columns):
        return f"columns {sorted(mine.columns)} != {sorted(ref.columns)}"
    if len(mine) != len(ref):
        return f"{len(mine)} rows != {len(ref)}"
    cm, cr = canon(mine), canon(ref)
    for c in cm.columns:
        for i, (x, y) in enumerate(zip(cm[c].tolist(), cr[c].tolist())):
            if not cell_eq(x, y):
                return f"col={c} row={i} mine={x!r} ref={y!r}"
    return None


def references(workload, stamp, java_cmd):
    """DuckDB answers of the oracles (SparkEntry.oracleSql) of the
    workload's ops over the fixture tables. They are computed once per
    program version and kept under REFS: the permuted copy a run reads holds
    the same rows as the fixture, so the same answers hold for it, and the
    oracles cost more CPU than a run may spend."""
    import pandas as pd
    d = os.path.join(REFS, workload)
    key_file, pkl = os.path.join(d, "key"), os.path.join(d, "refs.pkl")
    if os.path.exists(key_file) and open(key_file).read() == stamp:
        return pd.read_pickle(pkl)
    log(f"computing the DuckDB references of {workload}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    sql_file = os.path.join(d, "oracle_sql.json")
    r = subprocess.run(java_cmd(d) + ["--workload", workload, "--oracles", sql_file],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("could not read the oracle SQL", 1)
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count()}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(FIXTURE, t)}.parquet')")
    refs = {}
    for name, sql in sorted(json.load(open(sql_file)).items()):
        try:
            refs[name] = con.sql(sql).df()
        except Exception as e:  # reported as a failed check
            refs[name] = f"oracle error: {e}"
    con.close()
    pd.to_pickle(refs, pkl)
    with open(key_file, "w") as fh:
        fh.write(stamp)
    return refs


def scanned_rows(workload):
    """Input rows one pass of the workload's ops reads: for each op, the
    rows of every fixture table its DuckDB oracle names. The oracles specify
    the ops, so this count does not move with the program."""
    import pyarrow.parquet as pq
    sql = json.load(open(os.path.join(REFS, workload, "oracle_sql.json")))
    rows = {t: pq.ParquetFile(os.path.join(FIXTURE, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}
    return sum(rows[t] for q in sql.values() for t in TABLES
               if re.search(rf"\b{t}\b", q))


# ------------------------------------------------------------- metrics

def quantile(xs, p):
    s = sorted(xs)
    k = p * (len(s) - 1)
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """The highest percentile with at least 10 samples beyond it, never
    below the median: (value, percentile, samples beyond)."""
    p = max(0.5, math.floor(100 * (1 - 10 / len(xs))) / 100)
    v = quantile(xs, p)
    return v, p * 100, sum(1 for x in xs if x > v)


def unit_of(name):
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_mb", "mb_written")):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("_frac", "parallelism", "overhead", "outputs_ok", "_per_pair")):
        return "ratio"
    return "count"


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    stamp = build()
    t_start = time.time()

    def java(tmp):
        return ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*"),
            "perfbench.Main"]
    refs = references(a.workload, stamp, java) if a.workload != "mr_wordcount" else {}

    # isolation: inputs, stores keyed to them, outputs and temp dirs are
    # all under WORK, which starts empty every run
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    data = os.path.join(WORK, "data")
    gen_s = 0.0
    if a.workload != "mr_wordcount":
        times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            permuted_copy(a.seed, data)
            times.append(time.perf_counter() - t0)
        gen_s = statistics.median(times)

    log(f"inputs ready at {time.time() - t_start:.1f} s")
    result_file = os.path.join(WORK, "result.json")
    cmd = java(tmp) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
        "--work", WORK, "--result", result_file]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(os.path.join(WORK, "jvm.log"), "w") as jvm_log:
        t_launch = time.time()
        jvm = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=jvm_log,
                               stderr=subprocess.STDOUT)
        try:
            code = jvm.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
            code = None
    if code != 0 or not os.path.exists(result_file):
        with open(os.path.join(WORK, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}", 1)
    r = json.load(open(result_file))
    log(f"JVM done at {time.time() - t_start:.1f} s")

    # output checks
    failures = list(r["check_failures"])
    if a.workload == "mr_wordcount":
        checked, ok = r["checked"], r["checked"] - len(failures)
    else:
        checked, ok = 0, 0
        for name in sorted(set(refs) | set(failures)):
            checked += 1
            ref = refs.get(name, "no reference")
            if isinstance(ref, str):
                why = ref
            elif name in r["written"]:
                why = compare(os.path.join(WORK, "out", name), ref)
            else:
                why = "no output"
            if why is None:
                ok += 1
            else:
                log(f"check {name}: {why}")
                if name not in failures:
                    failures.append(name)
    outputs_ok = ok / checked if checked else 0.0
    lat = r["latencies_s"]
    attempted, failed = r["ops"], len(r["failed_ops"])
    correct = failed == 0 and checked > 0 and ok == checked

    rows = r["rows_per_pass"] if a.workload != "queries_sf001" else scanned_rows(a.workload)
    # the timed phase runs whole passes until --seconds have gone; its
    # figures are medians over the passes, so that they scale with the
    # program's speed whatever the number of passes, and one slow pass does
    # not move them
    wall, cpu = statistics.median(r["pass_wall_s"]), statistics.median(r["pass_cpu_s"])
    tail_v, tail_p, tail_n = tail(lat)
    setup_s = (gen_s + (r["session_ready"] - t_launch)
               + statistics.median(r["setup_reps_s"]) + r["warmup_s"])
    if a.trace:
        metrics = dict(r["layers"])
        metrics.update({
            "ops.failed_frac": failed / attempted,
            "checks.outputs_ok": outputs_ok,
            "ops.tail_pct": tail_p,
            "ops.tail_beyond": float(tail_n),
            "setup.input_s": gen_s,
            "setup.warmup_s": r["warmup_s"],
        })
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_tail_s": {"value": tail_v, "unit": "s"},
            "rows_per_s": {"value": rows / wall, "unit": "1/s"},
            "cpu_s": {"value": cpu, "unit": "s"},
            "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
        }
    print(f"# {a.workload} seed={a.seed} trace={a.trace}: run={time.time() - t_start:.1f}s "
          f"setup_reps={[round(x, 2) for x in r['setup_reps_s']]} warmup={r['warmup_s']:.1f}s "
          f"ops={attempted} "
          f"passes={r['passes']} failed_frac={failed / attempted:g} "
          f"outputs_ok={outputs_ok:g} ({ok}/{checked}) "
          f"tmp_dirs_left={r['tmp_dirs_left']:g} op_tail=p{tail_p:g} "
          f"({tail_n} beyond) failures={failures + r['failed_ops']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
