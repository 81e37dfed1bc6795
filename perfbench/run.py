#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <serve|analytics|write>
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. It builds the engine and the harness
from source (once per source digest), generates the input tables (once
per scale), computes the DuckDB answers the outputs are checked against
(once per oracle SQL), runs the workload in one JVM and prints, as the
last line of standard output, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics. `--smoke` runs everything on the tiny tables for a quick check.

Everything it writes goes under `.perfbench/` in the checkout.
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
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("serve", "analytics", "write")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no JVM perf data in /tmp, no JNA scratch in ~/.cache
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + harness; returns (source stamp, runtime classpath)."""
    sources = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    sources += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    stamp = digest(sources)
    cp_file = os.path.join(STATE, f"classpath-{stamp}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return stamp, f.read().strip()
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export runtime:fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    os.makedirs(STATE, exist_ok=True)
    for old in os.listdir(STATE):
        if old.startswith(("classpath-", "oracle-sql-")):
            os.remove(os.path.join(STATE, old))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return stamp, lines[-1].strip()


def replace_stale(parent, name):
    """Removes the other versions of `parent/<scale>-<digest>`."""
    scale = name.split("-")[0]
    for old in os.listdir(parent):
        if old.split("-")[0] == scale and old != name:
            shutil.rmtree(os.path.join(parent, old), ignore_errors=True)


def tables(scale):
    """The generated input tables of a scale; made once."""
    name = f"{scale}-{digest([os.path.join(HERE, 'gen_data.py')])}"
    out = os.path.join(STATE, "data", name)
    if not os.path.isdir(out):
        sys.path.insert(0, HERE)
        import gen_data
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(tmp, scale)
        os.replace(tmp, out)
        replace_stale(os.path.dirname(out), name)
    return out


def jvm_env(cpus, local_dir):
    """The environment the engine reads, pinned: no inherited Spark or
    engine settings, a benchmark-owned spill dir, a fixed core count."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "PYSPARK_", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS"))}
    env.update({"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_LOCAL_DIR": local_dir,
                "SPARK_LOCAL_DIRS": local_dir, "TZ": "UTC"})
    return env


def java(cp, args, cpus, work):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # a fixed heap: a heap that resizes makes the peak RSS wander
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    p = subprocess.Popen(cmd, env=jvm_env(cpus, local), stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("the harness timed out")
    finally:
        if p.poll() is None:
            p.kill()
            p.communicate()
    if p.returncode != 0:
        sys.stderr.write(out[-6000:])
        die(f"the harness exited with {p.returncode}")
    return out


def oracle_answers(stamp, cp, data, cpus):
    """DuckDB answers of the checked rows' oracle SQL over `data`, and
    the recorded curation report; made once per (SQL, data)."""
    sql_file = os.path.join(STATE, f"oracle-sql-{stamp}.json")
    if not os.path.isfile(sql_file):
        scratch = os.path.join(STATE, "work", f"oracle-{os.getpid()}")
        os.makedirs(scratch, exist_ok=True)
        java(cp, ["--oracle-sql", sql_file + ".tmp"], cpus, scratch)
        os.replace(sql_file + ".tmp", sql_file)
        shutil.rmtree(scratch, ignore_errors=True)
    with open(sql_file) as f:
        sql = json.load(f)
    scale = os.path.basename(data).split("-")[0]
    report = os.path.join(HERE, "expected", "curate_report.tsv")
    key = hashlib.sha256(json.dumps(sql, sort_keys=True).encode() + data.encode())
    with open(report, "rb") as f:
        key.update(f.read())
    name = f"{scale}-{key.hexdigest()[:16]}"
    out = os.path.join(STATE, "oracle", name)
    if not os.path.isdir(out):
        import duckdb
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for row, q in sorted(sql.items()):
            try:
                con.execute(f"COPY ({q}) TO '{tmp}/{row}.parquet' (FORMAT PARQUET)")
            except duckdb.Error as e:
                print(f"perfbench: no oracle answer for {row}: {str(e)[:200]}", file=sys.stderr)
        shutil.copy(report, os.path.join(tmp, "curate_report.tsv"))
        os.replace(tmp, out)
        replace_stale(os.path.dirname(out), name)
    return out


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found; run from the root of the checkout")
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny tables, one set-up: a check that every workload runs")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = spec()
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no engine sources here ({need} missing); run from a full checkout")
    names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]

    cpus = len(os.sched_getaffinity(0))
    stamp, cp = build()
    warm = tables("tiny")
    data = warm if a.smoke else tables("main")
    answers = oracle_answers(stamp, cp, data, cpus)
    work = os.path.join(STATE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result_file = os.path.join(work, "result.json")
        java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--data", data, "--warm-data", warm, "--oracle", answers,
                  "--work", work, "--out", result_file, "--cpus", str(cpus)], cpus, work)
        with open(result_file) as f:
            r = json.load(f)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(STATE, f"spans-{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [n for n in names if n not in r["metrics"]]
    if missing:
        die(f"the harness did not report {missing}")
    detail = dict(r["detail"], workload=a.workload, seed=a.seed, trace=a.trace, cpus=cpus, heap=HEAP,
                  data=os.path.relpath(data, ROOT),
                  env={k: v for k, v in jvm_env(cpus, "<work>/spark-local").items()
                       if k.startswith("SPARK_")})
    print("perfbench detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": r["failed"] == 0 and r["attempted"] > 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": {n: r["metrics"][n] for n in names}}))


if __name__ == "__main__":
    main()
