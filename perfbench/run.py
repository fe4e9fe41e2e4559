#!/usr/bin/env python3
"""graft end-to-end benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--input-dir <dir>]

Builds graft (src/main/scala) and the benchmark program (perfbench/src)
with the Scala compiler that ships in Spark's jars, together with a
class-data-sharing archive of the classes a Spark session loads, runs the
workload in
one JVM at local[nproc], checks the outputs of the last pass against
graft's DuckDB oracles (SparkEntry.oracleSql), writes a record under
<build>/perfbench/records/ and prints one JSON result as its last line.
<build> is $CARGO_TARGET_DIR, or .bench_build at the repository root.

--input-dir points the workload at an existing table directory (for
example a ScaleGen sf1 directory) instead of the generated inputs.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import statistics
import time
import zipfile
from datetime import datetime, timezone

sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
import inputs  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["retail_warehouse", "curation_build", "daily_ticks", "stream_ingest"]
END_TO_END = {"setup_s": "s", "run_s": "s", "run_cpu_s": "s", "op_p50_s": "s",
              "op_tail_s": "s", "stored_mb": "MB", "peak_heap_mb": "MB"}
REFERENCE_QUERIES = ["r1_monthly_sales_trend", "r2_category_performance",
                     "r3_customer_segmentation", "r4_segment_sales", "r5_weekend_weekday",
                     "r6_top_customers", "r7_product_catalog", "r8_quarterly_yoy"]
RETAIL_STAGES = ["stg_lineitem_clean", "dim_date", "dim_customer", "dim_category",
                 "dim_product", "fact_sales", "mart_sales_performance",
                 "mart_category_analysis"]
# the CurationRun stages curation_build replays (PerfBench.curationSubset)
CURATION_STAGES = ["corpus_quality", "dedup_removals", "boilerplate_census", "pii_scrub",
                   "corpus_splits", "dsir_weights"]
MODULES = ["Cleaning", "Dimensions", "Facts", "Marts", "Dedup", "TextAnalysis", "Similarity"]
PER_LAYER = (
    [f"spark.{m}" for m in ["jobs", "stages", "tasks", "task_failures", "task_s",
                            "task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
                            "spill_mb", "input_mb", "output_mb", "driver_idle_s",
                            "slot_busy_frac"]]
    + ["GraftSession.start_s", "GraftSession.releaseQueryCaches_s",
       "Pipeline.healthCheck_s", "Pipeline.gates_s", "Pipeline.validateLoad_s",
       "Pipeline.registerWarehouse_s"]
    + [f"stage.{t}_s" for t in RETAIL_STAGES + CURATION_STAGES]
    + ["Sinks.stagePublish_s", "Sinks.files_written", "Sinks.mb_written",
       "Sinks.artifacts_built", "Sinks.artifact_mb"]
    + [f"{m}{k}" for m in MODULES for k in ["_s", ".jobs", ".shuffle_mb"]]
    + ["sql.plan_s", "sql.exec_s"]
    + [f"sql.{q}_s" for q in REFERENCE_QUERIES]
    + [f"streaming.{m}" for m in ["batches", "batch_p50_s", "addBatch_s", "overhead_s",
                                  "input_rows", "state_rows", "FactStream_s",
                                  "CurationStream_s", "CurationStream.vectors_s"]]
    + ["trace.run_s"])
# files a Spark session leaves in its working directory when misconfigured
STRAYS = ["spark-warehouse", "metastore_db", "derby.log", "BENCH_FULL.json"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "2g"
# C1 only: on four cores the C2 compiler threads compete with a cold
# run's own work
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1"]
RUN_LIMIT_S = 170
STAGE_REPS = 3
SF = 0.01  # scale factor of the generated inputs


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb_written"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in cands:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    fail("no Spark jars found (set SPARK_HOME)")


def java_cmd(build_dir, jars, work, cds):
    """The JVM command line of the benchmark program. cds: the class-data-sharing
    flag (read or write the archive), or None."""
    return (["java"] + JVM_FLAGS + ([cds] if cds else [])
            + [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"]
            + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.path.join(build_dir, "graft.jar") + os.pathsep + os.path.join(jars, "*")])


def train_archive(build_dir, jars):
    """Write build_dir/app.jsa: the classes graftbench.Train loads, dumped at its
    exit. A benchmark JVM maps them instead of loading them from the jars;
    in a probe this cut session start from about 7 to 3.3 s."""
    work = os.path.join(build_dir, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs.stage(inputs.generate(SF), os.path.join(work, "input"), 0)
    archive = os.path.join(build_dir, "app.jsa")
    for f in (archive, archive + ".tmp"):
        if os.path.exists(f):
            os.remove(f)
    r = subprocess.run(java_cmd(build_dir, jars, work, f"-XX:ArchiveClassesAtExit={archive}.tmp")
                       + ["graftbench.Train", work, os.path.join(work, "input")],
                       cwd=work, env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp")),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive + ".tmp"):
        sys.stderr.write(r.stdout[-4000:])
        fail("class-data-sharing training run failed")
    os.rename(archive + ".tmp", archive)


def build(build_dir, jars):
    """Compile graft and the benchmark program into build_dir/graft.jar and train
    the class-data-sharing archive, unless the sources are unchanged since the
    last build. Returns the source digest and the build time."""
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail(f"graft sources not found under {ROOT}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    # the input generator is in the digest: records compare runs of one
    # program on one set of inputs
    for f in main + bench + [os.path.join(BENCH, "inputs.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    outputs = [stamp, os.path.join(build_dir, "graft.jar"), os.path.join(build_dir, "app.jsa")]
    if all(os.path.exists(f) for f in outputs) and open(stamp).read() == digest:
        return digest, 0.0
    if os.path.exists(stamp):
        os.remove(stamp)
    t0 = time.time()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(main + bench) + "\n")
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    # class-data sharing archives classes from jars only
    with zipfile.ZipFile(os.path.join(build_dir, "graft.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    train_archive(build_dir, jars)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest, time.time() - t0


def multiset(rows):
    """Rows as a multiset; NaN made comparable to itself."""
    return collections.Counter(
        tuple("NaN" if isinstance(v, float) and v != v else v for v in r) for r in rows)


def run_checks(res, work, in_dir, threads):
    """Compare the last pass's outputs with graft's DuckDB oracles.
    Returns a list of (name, ok, detail)."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        p = os.path.join(in_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = []
    for c in res["checks"]:
        t0 = time.time()
        try:
            cur = con.execute(c["oracle"])
            exp_cols = [d[0] for d in cur.description]
            exp = cur.fetchall()
            cur = con.execute(f"SELECT * FROM read_parquet('{os.path.join(work, c['glob'])}', "
                              "hive_partitioning = true)")
            got_cols = [d[0] for d in cur.description]
            got = cur.fetchall()
        except Exception as e:  # a missing output or a broken oracle is a failed check
            out.append((c["name"], False, f"error: {e}"))
            continue
        keep = c["select"] or [k for k in got_cols if k not in c["drop"]]
        exp_keep = c["select"] or [k for k in exp_cols if k not in c["drop"]]
        if sorted(keep) != sorted(exp_keep):
            out.append((c["name"], False, f"columns differ: {sorted(exp_keep)} vs {sorted(keep)}"))
            continue
        order = sorted(keep)
        gi = [got_cols.index(k) for k in order]
        ei = [exp_cols.index(k) for k in order]
        g = multiset(tuple(r[i] for i in gi) for r in got)
        e = multiset(tuple(r[i] for i in ei) for r in exp)
        if c["select"]:  # a set comparison
            g, e = set(g), set(e)
        ok = g == e
        out.append((c["name"], ok, (f"{len(got)} rows" if ok else
                    f"{len(exp)} oracle rows vs {len(got)} spark rows")
                    + f", {time.time() - t0:.2f} s"))
    if res["sql_rows"]:
        from_oracle = {}
        try:
            from_oracle = {q: n for q, n, _ in con.execute(res["sql_oracle"]).fetchall()}
        except Exception as e:
            out.append(("sql_row_counts", False, f"error: {e}"))
        else:
            bad = {q: (n, from_oracle.get(q)) for q, n in res["sql_rows"].items()
                   if from_oracle.get(q) != n}
            out.append(("sql_row_counts", not bad, f"mismatch {bad}" if bad else "8 queries"))
    return out


def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def write_record(records, rec):
    os.makedirs(records, exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    name = f"{stamp}_{rec['workload']}_seed{rec['seed']}_trace{int(rec['trace'])}_{os.getpid()}"
    # 'x': a record never replaces another one
    with open(os.path.join(records, name + ".json"), "x") as fh:
        json.dump(rec, fh, indent=1)


def untraced_run_s(records, workload, seed, digest):
    """run_s of the latest untraced record of the same code, workload and seed."""
    best = None
    for f in sorted(glob.glob(os.path.join(records, f"*_{workload}_seed{seed}_trace0_*.json"))):
        try:
            r = json.load(open(f))
        except (OSError, ValueError):
            continue
        if r.get("source_digest") == digest and r.get("correct"):
            best = r["end_to_end"]["run_s"]
    return best


def previous_trace(records, workload, seed, digest):
    """(file, per-layer metrics) of the latest traced record of the same
    code, workload and seed, or None."""
    for f in sorted(glob.glob(os.path.join(records, f"*_{workload}_seed{seed}_trace1_*.json")),
                    reverse=True):
        try:
            r = json.load(open(f))
        except (OSError, ValueError):
            continue
        if r.get("source_digest") == digest and r.get("correct"):
            return os.path.basename(f), r["per_layer"]
    return None


def previous_answers(records, digest):
    """SQL answer digests of the latest correct retail record of the same
    code (any seed: the outputs are seed-invariant), or None."""
    for f in sorted(glob.glob(os.path.join(records, "*_retail_warehouse_*.json")),
                    reverse=True):
        try:
            r = json.load(open(f))
        except (OSError, ValueError):
            continue
        if r.get("source_digest") == digest and r.get("correct") and r.get("sql_digests"):
            return os.path.basename(f), r["sql_digests"]
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--input-dir")
    a = ap.parse_args()
    t_start = time.time()

    build_root = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir = os.path.join(ROOT if not os.path.isabs(build_root) else "", build_root,
                             "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    digest, build_s = build(build_dir, jars)

    before = {n: os.path.getmtime(os.path.join(ROOT, n))
              for n in STRAYS if os.path.exists(os.path.join(ROOT, n))}
    top_before = set(os.listdir(ROOT))
    load_before = loadavg()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build_dir, "work", f"{a.workload}_{a.seed}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")

    # inputs: generated once (or read from --input-dir), staged
    # STAGE_REPS times; setup reports the median staging time
    feeds = a.workload == "stream_ingest"
    t0 = time.time()
    if a.input_dir:
        tables = inputs.read(a.input_dir) if feeds else None
    else:
        tables = inputs.generate(SF)
    gen_s = time.time() - t0
    in_dir = os.path.abspath(a.input_dir) if a.input_dir else os.path.join(work, "input")
    stage_s = []
    for _ in range(STAGE_REPS):
        t0 = time.time()
        if not a.input_dir:
            inputs.stage(tables, in_dir, a.seed)
        if feeds:
            inputs.stage_feeds(tables, os.path.join(work, "feeds"), a.seed)
        stage_s.append(time.time() - t0)
    del tables
    cmd = (java_cmd(build_dir, jars, work,
                    "-XX:SharedArchiveFile=" + os.path.join(build_dir, "app.jsa"))
           + ["graftbench.PerfBench", a.workload, str(a.seed), str(a.seconds), str(a.trace),
              work, result_file, str(cores), in_dir])
    env = dict(os.environ, GRAFT_WAREHOUSE_DIR=os.path.join(work, "artifacts"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(build_dir, "last_run.log")
    t_jvm = time.time()
    ticks_before = cpu_ticks()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        # the limit holds for the generated inputs; --input-dir runs are ad hoc
        limit = None if a.input_dir else max(30, RUN_LIMIT_S - (time.time() - t_start))
        try:
            rc = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded its time limit; log: {log_path}")
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(log_path).read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    res = json.load(open(result_file))
    ticks_after = cpu_ticks()
    # the share of CPU time the hypervisor took from this VM while the JVM
    # ran: a shared host slows every time metric during such spells
    steal = None
    if ticks_before and ticks_after and ticks_after[1] > ticks_before[1]:
        steal = (ticks_after[0] - ticks_before[0]) / (ticks_after[1] - ticks_before[1])
    t_checks = time.time()
    checks = run_checks(res, work, in_dir, cores)
    t_end = time.time()
    load_after = loadavg()
    records = os.path.join(build_dir, "records")
    if res["sql_digests"]:
        prev = previous_answers(records, digest)
        if prev is not None:
            differ = sorted(q for q, d in res["sql_digests"].items() if prev[1].get(q) != d)
            checks.append(("sql_answers_repeat", not differ,
                           f"differ from {prev[0]}: {differ}" if differ else
                           f"equal to {prev[0]}"))

    problems = list(res["problems"])
    problems += [f"output check {n} failed: {d}" for n, ok, d in checks if not ok]
    strays = [n for n in STRAYS if os.path.exists(os.path.join(ROOT, n))
              and before.get(n) != os.path.getmtime(os.path.join(ROOT, n))]
    new_top = sorted(set(os.listdir(ROOT)) - top_before - {build_root.split("/")[0]})
    if strays or new_top:
        problems.append(f"wrote outside its directories: {strays + new_top}")
    overhead = None
    repeat = None
    if a.trace:
        base = untraced_run_s(records, a.workload, a.seed, digest)
        if base is not None:
            overhead = res["per_layer"]["trace.run_s"] - base
        # engine work counts must repeat exactly across traced runs of one seed
        prev = previous_trace(records, a.workload, a.seed, digest)
        if prev is not None:
            keys = ["spark.jobs", "spark.stages", "spark.tasks"]
            repeat = {"compared_with": prev[0],
                      "this": [res["per_layer"][k] for k in keys],
                      "previous": [prev[1].get(k) for k in keys]}
            repeat["equal"] = repeat["this"] == repeat["previous"]
            if not repeat["equal"]:
                problems.append(f"trace self-check: spark jobs/stages/tasks {repeat['this']} "
                                f"differ from {repeat['previous']} in {prev[0]}")
    attempted = res["ops"]
    failed = min(attempted, res["failed_ops"] + sum(1 for _, ok, _ in checks if not ok))
    correct = not problems and failed == 0
    e2e = dict(res["end_to_end"])
    e2e["setup_s"] = gen_s + statistics.median(stage_s) + e2e.pop("setup_jvm_s")
    e2e["ops_failed_frac"] = failed / attempted

    rec = {
        "workload": a.workload, "seed": a.seed, "trace": bool(a.trace),
        "seconds": a.seconds, "sf": None if a.input_dir else SF, "input_dir": a.input_dir,
        "nproc": cores, "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_frac": steal,
        "jvm_xmx_mb": res["xmx_mb"], "spark_version": res["spark_version"],
        "git_commit": git_commit(), "source_digest": digest, "build_s": build_s,
        "samples": {"passes": res["passes"], "ops": res["ops"],
                    "op_tail_percentile": res["op_tail_percentile"]},
        "correct": correct, "attempted": attempted, "failed": failed,
        "problems": problems, "checks": [{"name": n, "ok": ok, "detail": d}
                                         for n, ok, d in checks],
        "end_to_end": e2e, "per_layer": res["per_layer"],
        "trace_overhead_run_s": overhead, "trace_counts_repeat": repeat,
        "wall": {"build_s": build_s, "jvm_s": t_checks - t_jvm, "jvm_main_s": res["main_s"],
                 "jvm_checks_s": res["finish_s"], "checks_s": t_end - t_checks,
                 "total_s": t_end - t_start},
        "setup": {"generate_s": gen_s, "stage_inputs_s": stage_s,
                  "session_s": res["session_s"]},
        "pass_s": res["pass_s"], "op_s": res["op_s"],
        "stored_files_bytes": res["stored_files_bytes"], "sql_digests": res["sql_digests"],
        "spans": res["spans"],
    }
    write_record(records, rec)
    shutil.rmtree(work, ignore_errors=True)

    for n, ok, d in checks:
        print(f"check {n}: {'ok' if ok else 'FAILED'} ({d})")
    for msg in problems:
        print(f"problem: {msg}")
    print(f"{a.workload} seed={a.seed}: {res['passes']} passes, {attempted} ops, "
          f"op_tail at p{res['op_tail_percentile']:.1f} of n={attempted}, "
          f"ops_failed_frac={e2e['ops_failed_frac']:.4f} ratio")
    if overhead is not None:
        print(f"tracing overhead on run_s: {overhead:+.3f} s")
    if repeat is not None:
        print(f"trace self-check: jobs/stages/tasks {repeat['this']} "
              f"{'repeat' if repeat['equal'] else 'DIFFER from ' + str(repeat['previous'])} "
              f"({repeat['compared_with']})")
    if a.trace:
        metrics = {k: {"value": res["per_layer"].get(k, 0.0), "unit": unit(k)}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
