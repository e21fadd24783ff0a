#!/usr/bin/env python3
"""Run the moraspark benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (offline) into `.bench_build/` and
`target/` directories; later runs reuse the build while the sources are
unchanged. Each workload runs in its own JVM with Spark at local[nproc]
and one closed-loop client.

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. `--workload all` runs every workload
and ends with one compact line carrying every workload's metrics.
Per-run summaries and span files go to `.bench_build/traces/`.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["candle_serve", "candle_stream", "doc_curate"]
JVM_HEAP = "1g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 needs these outside spark-submit (the library's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
                       + " -Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "--no-server",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=BUILD_TIMEOUT_S)
        log.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


def duckdb_end_state(work):
    """Independent end-state check of candle_serve: the store's files on
    disk must equal last-writer-wins over the generated inputs (committed
    WAL only; later phase, then later sequence, wins)."""
    import duckdb
    inputs = os.path.join(work, "inputs.csv")
    files = os.path.join(work, "cat", "db", "serve",
                         "market=*", "candle_length=*", "code=*", "year=*", "*.parquet")
    con = duckdb.connect()
    cols = ("{'market':'VARCHAR','code':'VARCHAR','candle_length':'INTEGER','ts':'BIGINT',"
            "'open':'DOUBLE','high':'DOUBLE','low':'DOUBLE','close':'DOUBLE','volume':'DOUBLE',"
            "'bit_fields':'BIGINT','phase':'INTEGER','seq':'BIGINT','committed':'BOOLEAN'}")
    expected = f"""
        SELECT market, code, candle_length, ts, open, high, low, close, volume, bit_fields
        FROM read_csv('{inputs}', header = true, columns = {cols})
        WHERE committed
        QUALIFY row_number() OVER (PARTITION BY market, code, candle_length, ts
                                   ORDER BY phase DESC, seq DESC) = 1"""
    got = f"""
        SELECT market, code, candle_length, epoch_ms(ts) // 1000 AS ts,
               open, high, low, close, volume, bit_fields
        FROM read_parquet('{files}', hive_partitioning = true,
             hive_types = {{'market': VARCHAR, 'code': VARCHAR,
                           'candle_length': INTEGER, 'year': INTEGER}})"""
    missing = con.execute(f"SELECT count(*) FROM (({expected}) EXCEPT ALL ({got}))").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({expected}))").fetchone()[0]
    rows = con.execute(f"SELECT count(*) FROM ({expected})").fetchone()[0]
    return missing == 0 and extra == 0, f"{rows} expected rows, {missing} missing, {extra} extra"


def remove_tree(path):
    """Delete a run's work directory. Directory removal is slow on some
    filesystems, so the subtrees are removed from several threads."""
    subs = []
    for top in os.scandir(path):
        subs += list(os.scandir(top.path)) if top.is_dir(follow_symlinks=False) else [top]
    with ThreadPoolExecutor(8) as ex:
        list(ex.map(lambda e: shutil.rmtree(e.path, ignore_errors=True)
                    if e.is_dir(follow_symlinks=False) else os.unlink(e.path), subs))
    shutil.rmtree(path, ignore_errors=True)


def run_workload(workload, seed, seconds, trace):
    cp = build()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    traces = os.path.join(BUILD, "traces")
    logs = os.path.join(BUILD, "logs")
    for d in (work, traces, logs):
        os.makedirs(d, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    cmd = ([java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--work", work, "--trace-out", traces])
    log_path = os.path.join(logs, f"{workload}-seed{seed}-trace{1 if trace else 0}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                                 text=True)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s; see {log_path}")
        results = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if p.returncode != 0 or not results:
            fail(f"{workload} exited {p.returncode} without a result; see {log_path}")
        result = json.loads(results[-1][len("PERFBENCH_RESULT "):])
        if workload == "candle_serve":
            ok, detail = duckdb_end_state(work)
            print(f"perfbench: DuckDB end-state check: {'ok' if ok else 'MISMATCH'} ({detail})",
                  file=sys.stderr)
            if not ok:
                result["correct"] = False
                result["failed"] += 1
                if "failed_frac" in result["metrics"]:
                    result["metrics"]["failed_frac"]["value"] = result["failed"] / result["attempted"]
        return result
    finally:
        remove_tree(work)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no moraspark sources next to the benchmark (looked in {ROOT})")
    if a.workload != "all":
        print(json.dumps(run_workload(a.workload, a.seed, a.seconds, a.trace == 1),
                         separators=(",", ":")))
        return
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}, "units": {}}
    for w in WORKLOADS:
        t0 = time.time()
        r = run_workload(w, a.seed, a.seconds, a.trace == 1)
        print(f"{w} ({time.time() - t0:.0f} s): " + json.dumps(r, separators=(",", ":")))
        combined["correct"] = combined["correct"] and r["correct"]
        combined["attempted"] += r["attempted"]
        combined["failed"] += r["failed"]
        combined["metrics"][w] = {k: v["value"] for k, v in r["metrics"].items()}
        combined["units"].update({k: v["unit"] for k, v in r["metrics"].items()})
    print(json.dumps(combined, separators=(",", ":")))


if __name__ == "__main__":
    main()
