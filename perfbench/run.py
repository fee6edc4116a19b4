#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the
program and the benchmark's JVM runner from source (`perfbench/build.sbt`,
sbt offline) into `perfbench/target`; later runs reuse that build while
the sources are unchanged. Each run then

  1. generates its inputs from `--seed` (perfbench/gen.py) under
     `.bench_build/`,
  2. runs the JVM runner (graft.perfbench.PerfBench) with `local[4]`:
     set-up, one cold pass, warm passes for `--seconds`, untimed gates,
  3. for the query workloads, compares every query's result with the
     DuckDB oracle from `SparkEntry.oracleSql`, canonicalised as
     `tools/check_oracle.py` does,
  4. prints one JSON line: `correct`, `attempted`, `failed` and the
     end-to-end metrics (`--trace 0`) or the per-layer metrics
     (`--trace 1`).

Workloads: etl_bulk, etl_batches, read_side (see BENCHMARK.json for
why each exists). `--tamper` is the gates'
self-test: it corrupts one loaded row or one oracle cell, and the run
must then report `correct: false`. `--smoke` shrinks the inputs
(perfbench/smoke.py uses both).
"""
import argparse
import glob
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
STATE = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(HERE, "target", "perfbench.jar")
CDS_ARCHIVE = os.path.join(STATE, "classes.jsa")
SF = 0.1
BATCH_FILES = (32, 4096)  # files, rows per file
SMOKE_SF = 0.001
SMOKE_BATCH_FILES = (4, 256)
CPUS = 4
RUN_DEADLINE_S = 170

WORKLOADS = ["etl_bulk", "etl_batches", "read_side"]

E2E = {"setup_s": "s", "pass_s": "s", "cpu_s_per_pass": "s", "peak_rss_mb": "MB"}

# read_side's pass: analytics queries (`queries` layer) then LLM-data
# operators (`operators` layer), trimmed so one run stays short
QUERIES = ["q4_semi_join", "q10_window", "sql_q1_agg"]
OPERATORS = ["embed_kmeans", "ann_bruteforce"]

SPARK_LAYER = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
               "spark.task_run_s", "spark.gc_s", "spark.input_bytes",
               "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
               "spark.spill_bytes", "spark.no_job_s"]
ETL_LAYER = ["etl.worklist_s", "etl.batches", "etl.batch_p50_s", "etl.batch_p90_s",
             "etl.cast_build_s", "etl.cast_floor_s", "etl.load_rows_per_s",
             "etl.load_mb_per_s", "etl.pipeline_pg_ok",
             "sources.read_s", "sources.scan_floor_s",
             "sinks.write_s", "sinks.encode_floor_s", "sinks.copy_bytes",
             "sinks.pgwire_floor_s", "sinks.ntz_ok",
             "server.copy_floor_s", "server.cpu_s", "server.sessions",
             "server.xact_commit", "server.rows"]
QUERY_LAYER = [f"{m}.{k}" for m in ("queries", "operators")
               for k in ("build_s", "build_jobs", "plan_s", "exec_s")]
FUNCTIONS_LAYER = [f"functions.{k}_s" for k in
                   ("dot_product", "centroid_argmin", "hyperplane_sigs", "simhash64", "fnv64")]
PER_QUERY = [f"query.{q}_s" for q in QUERIES + OPERATORS]
PER_LAYER = (ETL_LAYER + SPARK_LAYER + QUERY_LAYER + FUNCTIONS_LAYER + PER_QUERY +
             ["cold_pass_s", "trace.overhead_share", "host.canary_s", "failed_share"])


def per_layer_unit(name):
    special = {"etl.load_rows_per_s": "rows/s", "etl.load_mb_per_s": "MB/s",
               "etl.pipeline_pg_ok": "bool", "sinks.ntz_ok": "bool",
               "trace.overhead_share": "ratio", "failed_share": "ratio"}
    if name in special:
        return special[name]
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("_bytes") else "count"


def spark_home():
    """The Spark installation whose jars the program compiles and runs
    against: $SPARK_HOME, else the one `spark-submit` belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_files():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return files


def build():
    """Compile once per source state; the stamp is a hash of every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala: run from a graft checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(STATE, "build.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark runner (sbt package)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=850, start_new_session=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    # archive the classes a Spark session loads (AppCDS): every run then
    # starts its JVM from the same archive
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    warm = os.path.join(STATE, "warmup")
    shutil.rmtree(warm, ignore_errors=True)
    os.makedirs(warm)
    r = subprocess.run(java_cmd(["graft.perfbench.Warmup", warm], None,
                                [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"]),
                       cwd=warm, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=300)
    shutil.rmtree(warm, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("class archive warm-up failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f}s")


def server_reachable(path):
    """Whether an unprivileged server user can traverse every parent of
    `path` (the Postgres data directory must live below it)."""
    if os.geteuid() != 0:
        return True
    p = os.path.abspath(path)
    while True:
        if not os.stat(p).st_mode & 0o001:
            return False
        parent = os.path.dirname(p)
        if parent == p:
            return True
        p = parent


def make_inputs(workload, seed, trace, smoke, tables, inputs):
    sys.path.insert(0, HERE)
    import gen
    sf = SMOKE_SF if smoke else SF
    if workload == "read_side":
        gen.make_tables(seed, sf, tables)
        return
    if trace:  # the kernel probes read documents and embeddings
        gen.make_tables(seed, sf, tables, only=["documents", "embeddings"])
    if workload == "etl_bulk":
        gen.make_tables(seed, sf, inputs, only=["lineitem"])
        items = ["lineitem.parquet"]
    else:
        files, rows = SMOKE_BATCH_FILES if smoke else BATCH_FILES
        items = gen.etl_batch_files(seed, files, rows, inputs)
    with open(os.path.join(inputs, "items.txt"), "w") as fh:
        fh.write("\n".join(items) + "\n")


def java_cmd(args, tmpdir, jvm_opts=()):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + list(jvm_opts)
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    if tmpdir:
        cmd.append(f"-Djava.io.tmpdir={tmpdir}")
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{JAR}:{spark_home()}/jars/*"] + args
    return cmd


def stop_server(work):
    """Stops and removes a Postgres server the runner left behind (it
    normally does both itself on exit), waiting for the server to end."""
    marker = os.path.join(work, "pgdata.txt")
    if not os.path.exists(marker):
        return
    data = open(marker).read().strip()
    pidfile = os.path.join(data, "postmaster.pid")
    if os.path.exists(pidfile):
        pid = int(open(pidfile).readline().strip())
        try:
            os.kill(pid, signal.SIGQUIT)
            for _ in range(200):
                os.kill(pid, 0)
                time.sleep(0.05)
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    base = os.path.dirname(data)
    if os.path.basename(base).startswith("graft_pglive"):  # PgServer's temp dir
        shutil.rmtree(base, ignore_errors=True)


def run_jvm(cmd, work, deadline):
    with open(os.path.join(work, "jvm.log"), "wb") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    stop_server(work)
    with open(os.path.join(work, "jvm.log"), "rb") as fh:
        for line in fh.read().decode(errors="replace").splitlines():
            if line.startswith("[perfbench]"):
                log(line[len("[perfbench] "):])
    if code != 0:
        with open(os.path.join(work, "jvm.log"), "rb") as fh:
            sys.stderr.write(fh.read().decode(errors="replace")[-4000:])
        fail("runner timed out" if code is None else f"runner exited with {code}")


def oracle_gate(tables, results, names, tamper):
    """Compares each query result with its DuckDB oracle. Returns the
    number of queries that differ."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check_oracle import TABLES, canon, eq, read_oracle, read_spark
    con = duckdb.connect()
    con.execute(f"SET threads TO {CPUS}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = 0
    for i, name in enumerate(names):
        if name not in oracle:
            log(f"{name}: no oracle")
            bad += 1
            continue
        try:
            gcols, grows = read_spark(results, name)
            ocols, orows = read_oracle(con, oracle[name])
        except Exception as e:  # a missing or unreadable result is a failure
            log(f"{name}: {e}")
            bad += 1
            continue
        if tamper and i == 0 and grows:
            first = list(grows[0])
            first[0] = "tampered"
            grows = [tuple(first)] + grows[1:]
        gc, gr = canon(gcols, grows)
        oc, orr = canon(ocols, orows)
        same = gc == oc and len(gr) == len(orr) and all(
            eq(x, y)[0] for a, b in zip(gr, orr) for x, y in zip(a, b))
        if not same:
            log(f"{name}: result differs from the DuckDB oracle")
            bad += 1
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tamper", action="store_true", help="gate self-test")
    ap.add_argument("--smoke", action="store_true", help="minimal inputs (smoke test)")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "tools", "check_oracle.py")):
        fail("tools/check_oracle.py missing: run from a graft checkout")
    build()

    launch_ms = int(time.time() * 1000)
    deadline = time.time() + RUN_DEADLINE_S
    work = os.path.join(STATE, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tables, inputs, results = (os.path.join(work, d) for d in ("tables", "input", "results"))
    for d in (tables, inputs, results):
        os.makedirs(d)
    try:
        make_inputs(a.workload, a.seed, a.trace, a.smoke, tables, inputs)
        etl = a.workload.startswith("etl_")
        # Postgres data lives under java.io.tmpdir; keep it in the
        # checkout unless the server user could not reach it there
        tmpdir = os.path.join(work, "tmp")
        os.makedirs(tmpdir)
        if etl and not server_reachable(tmpdir):
            tmpdir = None
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--tables", tables, "--input", inputs,
                "--work", work, "--out", out, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--launch-ms", str(launch_ms), "--cpus", str(CPUS),
                "--queries", ",".join(QUERIES), "--operators", ",".join(OPERATORS)]
        if a.tamper:
            args.append("--tamper")
        run_jvm(java_cmd(["graft.perfbench.PerfBench"] + args, tmpdir,
                            [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]), work, deadline)
        with open(out) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "read_side":
            names = QUERIES + OPERATORS
            attempted += len(names)
            failed += oracle_gate(tables, results, names, a.tamper)
        log(f"host.canary_s {res['host_canary_s']:.4f} over {res['passes']} warm passes")
        if a.trace:
            layer = res["layer"]
            layer["failed_share"] = failed / attempted
            layer["cold_pass_s"] = res["e2e"]["cold_pass_s"]
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": per_layer_unit(k)}
                       for k in PER_LAYER}
        else:
            metrics = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in E2E.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
