"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (see
build.py), runs the workload in a fresh JVM whose every file lives in a
per-run directory under .bench_build/, checks the outputs, deletes the
run directory and prints one JSON record as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Workloads and metrics are declared in BENCHMARK.json; perfbench/layers.json
maps each per-layer metric to the end-to-end metric it should move.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import build

BENCH = Path(__file__).resolve().parent
WORKLOADS = ("ingest_stream", "query_surface")
# the benchmark's own server-backed checks (test_perfbench.py)
SELFTEST = "selftest"
# Spark on JDK 17 outside spark-submit needs these opened
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
HEAP = "4g"
JVM_TIMEOUT_S = 170


def oracle_failures(root, results, data):
    """Names of landed query results that differ from their oracle under
    the repository's own compare rule (scripts/check.py)."""
    import duckdb
    sys.path.insert(0, str(root / "scripts"))
    from check import TABLES, compare
    oracle = json.loads((results / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            msg = compare(name, con.sql(f"SELECT * FROM '{results / name}/*.parquet'").df(),
                          con.sql(sql).df())
        except Exception as e:  # an unreadable result is a mismatch
            msg = str(e)
        if msg:
            print(f"[perfbench] oracle mismatch {name}: {msg}", file=sys.stderr)
            bad.append(name)
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + (SELFTEST,))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    try:
        classes = build.build(root)
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[perfbench] cannot build the program: {e}", file=sys.stderr)
        return 2

    run_dir = root / ".bench_build" / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={run_dir / 'tmp'}",
               f"-Dderby.system.home={run_dir / 'derby-home'}",
               f"-Dperfbench.data={BENCH / 'data'}",
               "-cp", f"{classes}:{root / 'src/main/resources'}:{jars}/*",
               "graft.perfbench.Main", a.workload, str(a.seed), str(a.seconds),
               str(a.trace), str(run_dir)]
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("[perfbench] run timed out", file=sys.stderr)
            return 1
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode != 0 or not lines:
            print(f"[perfbench] run failed (exit {p.returncode})", file=sys.stderr)
            return 1
        rec = json.loads(lines[-1])
        if a.workload == "query_surface":
            bad = oracle_failures(root, run_dir / "results", BENCH / "data")
            rec["failed"] += len(bad)
            rec["correct"] = rec["correct"] and not bad
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
