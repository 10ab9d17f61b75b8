"""Lakehouse benchmark for graft: one seeded workload per run.

    python3 perfbench/run.py --workload sql_read --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (perfbench/build.py), runs the
workload in one JVM with a local[1] Spark session and the serial GC,
checks every output, and prints the metrics as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ("sql_read", "lake_write", "cdc_stream", "dedup_corpus")
# A run must end within 180 s; the JVM gets what the build left of this.
BUDGET_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def run_jvm(classes, a, work, deadline):
    # One task slot and a one-thread GC: on a shared host, a run that needs
    # fewer cores than it is given slows down less when neighbours load it.
    cores = 1
    out = os.path.join(work, "result.json")
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java", "-Xmx2g", "-Xss8m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--cores", str(cores), "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: run exceeded its time budget")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        kept = work + ".log"
        shutil.copy(log_path, kept)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        sys.stderr.write("full JVM log: %s\n" % kept)
        raise SystemExit("perfbench: JVM exited with code %d" % proc.returncode)
    with open(out) as f:
        return json.load(f)


def rows_of(con, sql):
    def norm(v):
        return round(v, 4) if isinstance(v, float) else v
    return sorted(tuple(norm(v) for v in r) for r in con.execute(sql).fetchall())


def external_checks(result, work):
    """DuckDB oracle checks the JVM cannot run: the query's oracle SQL over
    the generated documents must give the rows the engine wrote."""
    checks = result.get("external_checks", [])
    if not checks:
        return 0, 0
    import duckdb
    failed = 0
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET temp_directory = '%s'" % os.path.join(work, "duckdb").replace("'", "''"))
    def files(path):
        path = path.replace("'", "''")
        return path + "/*.parquet" if os.path.isdir(path) else path
    for c in checks:
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('%s')"
                    % files(c["docs"]))
        want = rows_of(con, c["sql"])
        got = rows_of(con, "SELECT * FROM read_parquet('%s')" % files(c["result"]))
        ok = got == want
        print("check %s: %s (%d rows)" % (c["id"], "ok" if ok else "MISMATCH", len(want)))
        if not ok:
            failed += c["ops"] + 1
    return len(checks), failed


def main():
    a = parse()
    try:
        classes = build.build()
    except SystemExit as e:
        sys.stderr.write(str(e) + "\n")
        sys.exit(2)
    work = os.path.join(build.ROOT, ".bench_work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(classes, a, work, time.time() + BUDGET_S)
        n_ext, failed_ext = external_checks(result, work)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            kept = os.path.join(os.path.dirname(work), "%s-%d.spans.jsonl" % (a.workload, a.seed))
            shutil.copy(spans, kept)
            print("spans: %s" % kept)
    except SystemExit as e:
        sys.stderr.write(str(e) + "\n")
        sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = int(result["attempted"]) + n_ext
    failed = int(result["failed"]) + failed_ext
    for k, v in result["info"].items():
        print("%s: %s" % (k, v))
    print("failed_frac: %s" % (failed / attempted if attempted else 0.0))
    for k, m in result["metrics"].items():
        print("%s = %s %s" % (k, m["value"], m["unit"]))
    print(json.dumps({"correct": bool(result["correct"]) and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
