#!/usr/bin/env python3
"""Benchmark of the repository: the paper's pipeline and registry query mixes.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the program from source with sbt (the harness in
perfbench/src is compiled against it) into the checkout; later runs reuse the
build while the sources are unchanged. Each run generates its inputs from the
seed, starts one benchmark JVM at local[nproc] with one closed-loop client,
checks every output, and prints one JSON object as its last line. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer
ones. See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
JVM_TIMEOUT_S = 165

sys.path.insert(0, HERE)
import landing  # noqa: E402
import tables  # noqa: E402

TABLES_SF = 0.05
LANDING_SCALE = 2000
# the pipeline's warm-up runs on a smaller landing set of the same shape
WARMUP_SCALE = 100

# The registry workload: one mix of the three families the registry's time
# splits into (perfbench/README.md has the per-query figures behind it).
REGISTRY = [
    # q01-q40, framework-overhead bound: the middle query of each eighth of
    # the family ranked by per-query time at scale factor 0.1
    "q09_surrogate_keys", "q39_pivot", "q34_salted_agg", "q22_ann_brute_force",
    "q15_upsert", "q29_ann_lsh", "q40_dedup_components", "q32_approx_distinct",
    # a hand-rolled fixpoint loop: eager localCheckpoint work inside fn
    "q89_pagerank",
    # structured streaming with a windowed aggregation: state-store and
    # checkpoint file writes
    "q63_stream_hourly"]
WORKLOADS = ["pipeline", "registry"]

END_TO_END = {"setup_s": "s", "total_s": "s", "op_geomean_s": "s", "peak_rss_mb": "MB"}

# Reported by --trace 1 runs, each a mean per traced pass; 0 where a
# workload does not use the layer. perfbench/README.md defines each one.
PER_LAYER = {
    "sessions.build_s": "s", "warmup_s": "s",
    "tables.load_s": "s", "tables.load_jobs": "count", "tables.infer_jobs": "count",
    "tables.infer_s": "s",
    "fn.s": "s", "fn.self_s": "s", "fn.jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.actions": "count",
    "action.s": "s", "action.self_s": "s", "action.jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.single_task_jobs": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.task_gc_s": "s", "spark.sched_delay_s": "s", "spark.fetch_wait_s": "s",
    "spark.core_busy_frac": "ratio", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.input_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.resident_rdds": "count",
    "streaming.triggers": "count", "streaming.trigger_s": "s",
    "streaming.state_commit_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "raw.s": "s", "raw.self_s": "s", "raw.jobs": "count", "raw.rows": "count",
    "raw.bytes_in": "bytes",
    "staging.s": "s", "staging.self_s": "s", "staging.jobs": "count",
    "staging.rows_out": "count", "staging.max_task_share": "ratio",
    "core.s": "s", "core.self_s": "s", "core.jobs": "count", "core.upsert_s": "s",
    "core.rows_rewritten_per_row_changed": "ratio",
    "snapshots.s": "s", "snapshots.self_s": "s", "snapshots.jobs": "count",
    "snapshots.rows_opened": "count", "snapshots.rows_closed": "count",
    "star.s": "s", "star.self_s": "s", "star.jobs": "count", "star.rows": "count",
    "checks.s": "s", "checks.self_s": "s", "checks.jobs": "count",
    "parquetio.s": "s", "parquetio.self_s": "s", "parquetio.jobs": "count",
    "parquetio.commits": "count", "parquetio.write_s": "s",
    "parquetio.bytes_written": "bytes", "parquetio.files_written": "count",
    "parquetio.read_infer_jobs": "count",
    "pipeline.first_run_s": "s", "pipeline.incremental_run_s": "s",
    "pipeline.full_refresh_s": "s", "pipeline.stored_bytes_per_input_byte": "ratio",
    "pipeline.replay_tables_matching": "count",
    "trace.op_wall_s": "s", "trace.layer_sum_s": "s", "trace.gap_s": "s",
    "trace.gap_frac": "ratio", "trace_overhead_frac": "ratio", "failed_frac": "ratio",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def digest(paths) -> str:
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            f for f in glob.glob(os.path.join(top, "**", "*"), recursive=True)
            if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build() -> dict:
    """Compile the program and the harness; return the runtime classpath and
    the JVM options of the program's build."""
    needed = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main/scala")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        fail(f"run from the root of a checkout of the repository (missing {missing})")
    key = digest(needed[:1] + [os.path.join(ROOT, "project", "build.properties"),
                               os.path.join(ROOT, "src", "main"),
                               os.path.join(HERE, "build.sbt"),
                               os.path.join(HERE, "project", "build.properties"),
                               os.path.join(HERE, "src")])
    stamp = os.path.join(BUILD, "build-" + key[:16] + ".json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return json.load(f)
    os.makedirs(BUILD, exist_ok=True)
    # the program's build reads these to change its JVM options; the
    # benchmark measures the defaults
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_EXTRA_JAVA_OPTS")}
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "bench/compile",
                            "bench/programJavaOptions", "export bench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().splitlines()
    java_opts = [ln.split("\t")[1:] for ln in lines if ln.startswith("java-options\t")]
    if r.returncode != 0 or not lines or not java_opts:
        fail(f"build failed, see {log}")
    b = {"classpath": lines[-1].strip(), "java_options": java_opts[-1]}
    with open(stamp + ".tmp", "w") as f:
        json.dump(b, f)
    os.replace(stamp + ".tmp", stamp)
    return b


# ---------------------------------------------------------------- inputs

def table_dir() -> str:
    """The registry tables are fixed (the seed only orders the queries), so
    they are generated once per checkout."""
    key = hashlib.sha256(open(os.path.join(HERE, "tables.py"), "rb").read()).hexdigest()[:12]
    d = os.path.join(BUILD, f"tables-sf{TABLES_SF}-{key}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tables.generate(tmp, TABLES_SF)
        os.replace(tmp, d)
    return d


# ---------------------------------------------------------------- JVM

# The benchmark's own JVM options, after the program's (later ones win): a
# 4 GB heap instead of the build's 8 GB, since the benchmark shares its box;
# no hsperfdata file in /tmp; its log configuration. java.io.tmpdir and
# spark.local.dir are set per run below.
BENCH_JVM_FLAGS = ["-Xmx4g", "-XX:-UsePerfData",
                   f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]


def run_jvm(b: dict, run_dir: str, argv: list) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "index", "out", "scratch"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # All run state stays in the checkout: the program would put its
    # shuffle/spill files (Sessions.localDir) and java.io.tmpdir (where the
    # streaming queries keep checkpoints and state stores) on /dev/shm when
    # writable, but the benchmark may write only inside its checkout, so
    # those files pay this filesystem's latency instead of tmpfs's.
    env = dict(os.environ,
               SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_INDEX_DIR=os.path.join(run_dir, "index"))
    cmd = (["java", "-cp", b["classpath"]] + b["java_options"] + BENCH_JVM_FLAGS +
           [f"-Djava.io.tmpdir={tmp}",
            "perfbench.Main", "--launched-ms", str(int(time.time() * 1000))] + argv)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    res = os.path.join(run_dir, "out", "jvm.json")
    if code != 0 or not os.path.exists(res):
        kept = os.path.join(RUNS, "failed-jvm.log")
        shutil.copy(log, kept)
        fail(f"benchmark JVM exited with {code}; its log is {kept}")
    with open(res) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def load_compare():
    spec = importlib.util.spec_from_file_location("compare", os.path.join(ROOT, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_registry(names, data, out_dir) -> int:
    """Compare each query's warm-up result with its DuckDB oracle over the
    same tables, canonicalized as tools/compare.py does. Returns the number
    of queries that differ (a query without an oracle counts as differing)."""
    import duckdb
    import pandas as pd
    cmp = load_compare()
    con = duckdb.connect()
    for t in cmp.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = 0
    for name in names:
        files = glob.glob(os.path.join(out_dir, "results", name, "*.parquet"))
        if not files or name not in oracles:
            err = "no result" if not files else "no oracle"
        else:
            df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            err = cmp.compare(name, df, con.execute(oracles[name]).fetchdf())
        if err:
            print(f"perfbench: {name}: {err}", file=sys.stderr)
            bad += 1
    return bad


# ---------------------------------------------------------------- main

def main() -> None:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    b = build()
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cpus = str(os.cpu_count())
        argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", cpus,
                "--out", os.path.join(run_dir, "out"),
                "--scratch", os.path.join(run_dir, "scratch")]
        if a.workload == "pipeline":
            land = os.path.join(run_dir, "landing")
            landing.generate(land, LANDING_SCALE, a.seed)
            warm = os.path.join(run_dir, "landing-warmup")
            landing.generate(warm, WARMUP_SCALE, a.seed)
            argv += ["--landing", land, "--warmup-landing", warm]
        else:
            data = table_dir()
            argv += ["--data", data, "--queries", ",".join(REGISTRY)]
        m = run_jvm(b, run_dir, argv)
        if a.trace:  # keep the spans of the last traced run for reading
            shutil.copy(os.path.join(run_dir, "out", "spans.jsonl"),
                        os.path.join(RUNS, f"spans-{a.workload}.jsonl"))
        failed = int(m.pop("failed"))
        attempted = int(m.pop("attempted"))
        if a.workload != "pipeline":
            failed += check_registry(REGISTRY, data, os.path.join(run_dir, "out"))
        else:
            m["pipeline.stored_bytes_per_input_byte"] = \
                m.pop("pipeline.stored_bytes") / landing.input_bytes(land)
        m["failed_frac"] = failed / attempted
        # everything measured, for reading; the last line is the result
        print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": m}))
        chosen = PER_LAYER if a.trace else END_TO_END
        metrics = {k: {"value": m.get(k) or 0.0, "unit": u} for k, u in chosen.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
