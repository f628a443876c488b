#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles `src/main/scala` together with
`perfbench/src` (scalac from the Spark distribution's jars) into
`.bench_build/`, runs one workload in a fresh JVM, checks oracle-backed
results against DuckDB, and prints one JSON result line last on stdout.
The full stamped run artifact (and, for traced runs, the span tree) goes
to `.bench_out/`. See perfbench/README.md.
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
WORKLOADS = ("stream_table_sink", "stream_wordcount", "batch_relational")
JVM_TIMEOUT_S = 165
# A fixed, pre-touched heap: GC sizing then cannot move peak RSS from run
# to run, so peak_rss_mb moves only with memory outside the Java heap.
# The parallel collector does no concurrent marking, which on 4 cores
# competed with task threads and widened the run-to-run spread.
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    submit = shutil.which("spark-submit")
    for home in (os.environ.get("SPARK_HOME"),
                 submit and os.path.dirname(os.path.dirname(os.path.realpath(submit)))):
        if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    die("no Spark distribution found (set SPARK_HOME or put spark-submit on PATH)")


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        die("no program sources under src/main/scala; run from a graft checkout")
    return files + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build(jars):
    """Compile once per source content; returns the classes directory."""
    files = sources()
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:12]
    out = os.path.join(ROOT, ".bench_build", f"classes-{stamp}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out, stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(ROOT, ".bench_build", f"build-{stamp}.log")
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files,
            stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        die(f"build failed (exit {rc}); see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".ok"), "w").close()
    return out, stamp


def revision(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip() + "+src:" + stamp
    except (OSError, subprocess.SubprocessError):
        pass
    return "src:" + stamp


def run_jvm(cmd, log_path):
    """Run the workload JVM in its own process group; returns (exit code,
    peak RSS in MB of that process). The group is killed on timeout and
    when this runner is terminated."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            sys.exit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, usage.ru_maxrss / 1024.0
            if time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                os.wait4(p.pid, 0)
                return -9, 0.0
            time.sleep(0.1)


def oracle_checks(doc):
    """Compare each oracle-backed result with DuckDB on the same inputs,
    with tools/check.py's canonicalisation. Returns a list of failures."""
    if not doc.get("oracle"):
        return []
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    import duckdb
    import pandas as pd
    from check import canon

    con = duckdb.connect()
    data = doc["info"]["data_dir"]
    for d in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(d)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    bad = []
    for o in doc["oracle"]:
        q = o["query"]
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in glob.glob(o["result"] + "/*.parquet")]))
            want = canon(con.sql(o["sql"]).df())
            if list(got.columns) != list(want.columns):
                bad.append((q, f"columns {list(got.columns)} vs oracle {list(want.columns)}"))
            elif len(got) != len(want):
                bad.append((q, f"{len(got)} rows vs oracle {len(want)}"))
            elif not got.equals(want):
                diff = ((got != want) & ~(got.isna() & want.isna())).any(axis=1)
                bad.append((q, f"{int(diff.sum())}/{len(got)} rows differ from oracle"))
        except Exception as e:  # recorded, never swallowed
            bad.append((q, f"{type(e).__name__}: {e}"))
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=int, default=20,
                    help="open-loop publish rate of stream_table_sink (messages/s)")
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        die("BENCHMARK.json not found at the repository root")
    with open(bench_file) as fh:
        bench = json.load(fh)
    jars = spark_jars()
    classes, stamp = build(jars)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".bench_run", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    outdir = os.path.join(ROOT, ".bench_out")
    os.makedirs(outdir, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--rate", str(a.rate), "--work", work, "--out", out,
            "--schemas", os.path.join(HERE, "expected_schemas.json"), "--rev", revision(stamp)])
    try:
        rc, rss_mb = run_jvm(cmd, os.path.join(outdir, tag + ".log"))
        if rc != 0 or not os.path.isfile(out):
            die(f"workload JVM exited with {rc}; see .bench_out/{tag}.log")
        with open(out) as fh:
            doc = json.load(fh)
        bad = oracle_checks(doc)
        for q, msg in bad:
            print(f"perfbench: WRONG {q}: {msg}", file=sys.stderr)
        doc["failures"] += [{"what": q, "class": "oracle", "message": m} for q, m in bad]
        doc["failed"] += len(bad)
        doc["e2e"]["peak_rss_mb"] = rss_mb
        if os.path.isfile(out + ".spans.json"):
            shutil.copy(out + ".spans.json", os.path.join(outdir, tag + ".spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    doc["stamp"]["peak_rss_mb"] = rss_mb
    with open(os.path.join(outdir, tag + ".json"), "w") as fh:
        json.dump(doc, fh, indent=1)
    if doc["stamp"].get("steal_flag"):
        print(f"perfbench: host CPU steal {doc['stamp']['steal_share']:.1%} exceeds the "
              "benchmark's smallest bound; treat this run's times with care", file=sys.stderr)

    source = doc["layer"] if a.trace else doc["e2e"]
    specs = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in specs:
        v = source.get(m["name"])
        if v is None:
            die(f"metric {m['name']} missing from the {a.workload} run; see .bench_out/{tag}.json")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": doc["failed"] == 0, "attempted": doc["attempted"],
                      "failed": doc["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
