#!/usr/bin/env python3
"""Benchmark command: build the program, generate seeded inputs, run one
workload, check its outputs, print its metrics.

  python3 perfbench/run.py --workload analytics|lake_oltp|lake_etl \
      --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark code with sbt (offline, from the local dependency cache) into
the build's own target directories; later runs reuse the build while the
sources are unchanged. Everything a run writes goes under .bench_build/.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics`, the end-to-end metrics with
--trace 0 and the per-layer metrics with --trace 1. The line before it,
starting with FULL, carries every metric the run measured; a traced run
also writes its spans to .bench_build/traces/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("analytics", "lake_oltp", "lake_etl")
# Input scale: sf0.01 of the TPC-H-ish fixtures (60k lineitem rows).
SCALE = 0.01
RUN_LIMIT_S = 170
# A fixed, pre-touched heap: the JVM's resident set is then the heap plus
# what the program holds outside it, not an accident of when G1 grew.
HEAP = "2g"
# DuckDB needs seconds to minutes for the oracles of these queries at this
# scale (measured on 4 cores: 1.7, 3.1 and 5.9 s for the first three; 8.1,
# 9.4 and 84 s for the last three). A run checks one of the first three
# against its oracle, picked by the seed, and only that the others return
# rows. Every other query is checked against its oracle on every run.
SLOW_ORACLES = ["q_dedup_simhash", "q_dedup_incremental",
                "q_dedup_ngram_capped", "q_dedup_minhash", "q_sim_lsh",
                "q_dedup_embedding_lsh_wide"]
ROTATED = 3

END_TO_END = ["setup_s", "total_s", "geomean_ms", "ops_per_s", "read_p50_ms",
              "peak_rss_mb"]
PER_LAYER = [
    "setup.spark_start_s", "setup.warmup_s", "setup.load_s",
    "plans.build_ms", "plans.build_share",
    "spark.task_cpu_s", "spark.task_run_s", "spark.cpu_util", "spark.gc_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.input_bytes", "trace.overhead_pct",
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*"),
                           recursive=True)
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program and benchmark; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as g:
                        return g.read().strip()
        log("building program and benchmark with sbt")
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = " ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" +
            os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Xmx2g"])
        out = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, timeout=850,
                       log_path=os.path.join(BUILD, "build.log"))
        if out is None:
            sys.exit("build failed; see .bench_build/build.log")
        with open(os.path.join(BUILD, "build.log")) as f:
            lines = [ln.strip() for ln in f if ln.strip()]
        cp = next((ln for ln in reversed(lines)
                   if "perfbench" in ln and ".jar" in ln and " " not in ln),
                  None)
        if cp is None:
            sys.exit("build printed no classpath; see .bench_build/build.log")
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def run_proc(cmd, cwd, env, timeout, log_path):
    """Runs cmd in its own process group, output to log_path; returns the
    exit code 0 as True-ish, None on failure or timeout. The group is
    killed and waited for on every path out.
    """
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            log(f"{cmd[0]} timed out after {timeout:.0f} s")
            code = None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    return True if code == 0 else None


def norm_row(row):
    return tuple(round(v, 6) if isinstance(v, float) and math.isfinite(v)
                 else v for v in row)


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(same_value, a, b))
    return a == b


def oracle_check(data_dir, check_dir, seed):
    """Compares each query's saved rows with DuckDB running its oracle SQL
    over the same inputs; a query without an oracle must return rows.
    Rows are compared as multisets (floats to 1e-9 relative), since the
    generated data can tie on ORDER BY keys. Returns failure messages.
    """
    import duckdb
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={min(4, os.cpu_count() or 1)}")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(check_dir, "oracle.json")) as f:
        oracle = json.load(f)
    picked = SLOW_ORACLES[seed % ROTATED]
    for name in SLOW_ORACLES:
        if name != picked and name in oracle:
            oracle[name] = None
    failures = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            failures.append(f"{name}: no output")
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        got_cols = sorted(got.columns)
        got_rows = [tuple(r[got.columns.index(c)] for c in got_cols)
                    for r in got.fetchall()]
        if sql is None:
            if not got_rows:
                failures.append(f"{name}: no rows")
            continue
        exp = con.sql(sql)
        exp_cols = sorted(exp.columns)
        if exp_cols != got_cols:
            failures.append(f"{name}: columns {got_cols} != {exp_cols}")
            continue
        exp_rows = [tuple(r[exp.columns.index(c)] for c in exp_cols)
                    for r in exp.fetchall()]
        key = lambda r: repr(norm_row(r))
        g, e = sorted(got_rows, key=key), sorted(exp_rows, key=key)
        if len(g) != len(e):
            failures.append(f"{name}: {len(g)} rows, oracle {len(e)}")
        elif not all(len(a) == len(b) and all(map(same_value, a, b))
                     for a, b in zip(g, e)):
            failures.append(f"{name}: rows differ from the oracle")
    con.close()
    return failures


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    # a terminated run still kills and reaps the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "LakeEngine.scala")):
        sys.exit("no program sources next to the benchmark; run it from a "
                 "checkout of the repository")
    cp = build()
    started = time.monotonic()

    run_dir = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, work_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work_dir, "tmp"))
    try:
        gen.generate(data_dir, a.seed, SCALE)
        out = os.path.join(run_dir, "result.json")
        cmd = (["java"] +
               [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
               [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
                "-Duser.timezone=UTC",
                f"-Djava.io.tmpdir={work_dir}/tmp",
                "-cp", cp, "perfbench.Main", a.workload, str(a.seed),
                str(a.seconds), str(a.trace), data_dir, work_dir, out])
        budget = RUN_LIMIT_S - (time.monotonic() - started)
        jvm_log = os.path.join(BUILD, f"jvm-{a.workload}-{a.seed}.log")
        if run_proc(cmd, cwd=run_dir, env=dict(os.environ), timeout=budget,
                    log_path=jvm_log) is None or not os.path.exists(out):
            with open(jvm_log, errors="replace") as f:
                tail = f.read()[-3000:]
            sys.exit(f"benchmark JVM failed:\n{tail}")
        with open(jvm_log, errors="replace") as f:
            for line in f:
                if line.startswith("[perfbench]"):
                    print(line.rstrip(), file=sys.stderr)
        os.remove(jvm_log)
        with open(out) as f:
            res = json.load(f)
        failures = list(res["failures"])
        if "check_dir" in res:
            t0 = time.monotonic()
            failures += oracle_check(data_dir, res["check_dir"], a.seed)
            log(f"oracle check {time.monotonic() - t0:.1f} s")
        attempted, failed = res["attempted"], res["failed"] + (
            len(failures) - len(res["failures"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, layers = res["end_to_end"], res["per_layer"]
    e2e["failed_ratio"] = {"value": failed / max(attempted, 1), "unit": "ratio"}
    if a.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces",
                               f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(res, f)
    for msg in failures[:20]:
        log(f"check failed: {msg}")
    shown = layers if a.trace else e2e
    for k, m in shown.items():
        print(f"{a.workload:10s} {k:34s} {fmt(m['value']):>14s} {m['unit']}")
    wanted = PER_LAYER if a.trace else END_TO_END
    missing = [k for k in wanted if k not in shown]
    if missing:
        sys.exit(f"run did not measure {missing}")
    print("FULL " + json.dumps({"workload": a.workload, "seed": a.seed,
                                "trace": a.trace, "end_to_end": e2e,
                                "per_layer": layers}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: shown[k] for k in wanted}}))


if __name__ == "__main__":
    main()
