#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 10 --trace 0

The first run builds the engine's sources together with the harness in
perfbench/ (sbt, offline) into .bench_build/. Each run then starts one JVM
with a local[N] Spark session, N = the CPUs this process may use, runs the
workload's set-up, a warm-up and a closed loop of timed operations, checks
the outputs and prints one JSON line as the last line of standard output.
With --trace 1 the JVM also records spans and per-span Spark counters and
writes them to .bench_build/traces/. Every directory a run creates lives
under .bench_build/ and is removed when the run ends.
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
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main"
# Read-only TPC-H-style tables the query_mix gates and their DuckDB oracles
# read: the engine's sf0.01 test data (TESTDATA.md).
QUERY_DATA = str(Path.home() / "testdata" / "sf0.01")
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]
JVM_HEAP = "3g"
ARCHIVE = BUILD / "classes.jsa"
# A run must end within 180 s; the JVM gets what is left of this.
RUN_DEADLINE_S = 170
# What spark-submit adds for Spark on JDK 17 (the engine's build.sbt sets
# the same list for its own forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files() -> list:
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ENGINE_SRC, BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def build() -> str:
    """Compile engine + harness unless the sources are unchanged since the
    last build; return the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    BUILD.mkdir(exist_ok=True)
    # sbt's own caches go under .bench_build too; resolution is offline.
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
           f"-Dsbt.global.base={BUILD / 'sbt-global'}",
           f"-Dsbt.boot.directory={BUILD / 'sbt-boot'}",
           f"-Dsbt.ivy.home={BUILD / 'ivy'}",
           f"-Djava.io.tmpdir={BUILD / 'sbt-tmp'}",
           "compile", "export Runtime/fullClasspath"]
    (BUILD / "sbt-tmp").mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS="-Xmx2g")
    res = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                         stdin=subprocess.DEVNULL)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    # Class-data-sharing archive of the classes a short run loads: it
    # halves JVM-to-session start. Every run then maps it read-only.
    ARCHIVE.unlink(missing_ok=True)
    train = argparse.Namespace(workload="cdc_stream", seed=0, seconds=1, trace=0)
    run_jvm(train, cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], time.time() + 600)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def oracle_counts(gates: dict) -> dict:
    """Row count of each gate's oracle SQL, run in DuckDB over the same
    parquet files the engine read."""
    import duckdb
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{QUERY_DATA}/{t}.parquet')")
    return {g: con.execute(f"SELECT count(*) FROM ({v['oracle'].strip().rstrip(';')})").fetchone()[0]
            for g, v in gates.items()}


def run_jvm(args, cp: str, jvm_flags: list, deadline: float) -> dict:
    """Run one workload in a fresh JVM inside its own work directory under
    .bench_build/, which is removed afterwards whatever happens."""
    cores = len(os.sched_getaffinity(0))
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out, log = work / "result.json", work / "jvm.log"
    trace_file = BUILD / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
    cmd = ["java", *ADD_OPENS, *jvm_flags, "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--work", str(work), "--out", str(out),
           "--trace-file", str(trace_file), "--data", QUERY_DATA,
           "--launched-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    try:
        with open(log, "w") as logf:
            proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write(log.read_text()[-4000:])
                fail("the workload did not finish before the run deadline")
            except BaseException:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise
        if proc.returncode != 0 or not out.exists():
            sys.stderr.write(log.read_text()[-6000:])
            fail(f"the JVM exited with {proc.returncode}")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    # Turn a termination request into an exit, so the JVM is stopped and
    # the run directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("run from the root of the checkout (BENCHMARK.json not found)")
    spec = json.loads(spec_path.read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ENGINE_SRC / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}")
    if args.workload == "query_mix" and not Path(QUERY_DATA).is_dir():
        fail(f"test data not found at {QUERY_DATA}")

    tmp_before = set(os.listdir("/tmp"))
    cp = build()
    res = run_jvm(args, cp, [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:cds=off"],
                  time.time() + RUN_DEADLINE_S)
    problems = list(res["problems"])
    if args.workload == "query_mix":
        for gate, n in oracle_counts(res["gates"]).items():
            if res["gates"][gate]["count"] != n:
                problems.append(f"{gate}: engine counted {res['gates'][gate]['count']} rows, oracle {n}")
    leaked = sorted(set(os.listdir("/tmp")) - tmp_before)
    if leaked:
        problems.append(f"new /tmp entries: {leaked}")
    print(f"perfbench: operation seconds {res['op_seconds']}", file=sys.stderr)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    for what, n in res["failures"].items():
        print(f"perfbench: {n} failed operations: {what}", file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    # A layer the workload does not run reads 0.
    metrics = {m["name"]: {"value": res["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
