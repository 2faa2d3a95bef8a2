#!/usr/bin/env python3
"""Benchmark of the graft pipeline engine: three closed-loop workloads.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload reference|curation|stream_serve \
        --seed N --seconds S --trace 0|1

The program under test is built from the checkout's own sources (the
harness in perfbench/src compiles together with src/main/scala) and run
in one JVM with one local[nproc] Spark session. The inputs are the sf0.1
fixture tables in perfbench/data/sf0.1; the seed fixes each pass's query
order, the lookup keys, and nothing else.

Every run checks its outputs: batch queries against their DuckDB oracles
through scripts/check.py's compare (non-empty output for queries without
an oracle), streams against their batch twins. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced pass. Any failed operation makes the exit code
non-zero. Run details (per-pass walls, per-operation medians, failures,
spans) stay in .bench_work/<workload>/.

Test-only flag: --inject throw|wrong plants a failure.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("reference", "curation", "stream_serve")
DATA = BENCH / "data" / "sf0.1"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
JVM_TIMEOUT_S = 160
# Spark on JDK 17 needs these outside spark-submit (as build.sbt sets them)
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


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: no Spark install found (set SPARK_HOME)")
    return home


def source_stamp():
    """Hash of everything the build compiles, so a rebuild happens only
    when a source changed."""
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(work):
    stamp = source_stamp()
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    log("building the harness and the program with sbt")
    t0 = time.monotonic()
    with open(work / "build.log", "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        raise SystemExit(f"perfbench: build failed, see {work / 'build.log'}")
    STAMP.write_text(stamp)
    log(f"built in {time.monotonic() - t0:.1f}s")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, work):
    cp = os.pathsep.join([str(CLASSES), str(Path(spark_home()) / "jars" / "*")])
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    java = Path(os.environ.get("JAVA_HOME", "")) / "bin" / "java"
    # a fixed heap and young generation keep the resident set comparable
    # between runs (a growing heap makes peak_rss_mb move with GC timing)
    cmd = [str(java) if java.is_file() else "java", "-Xms4g", "-Xmx4g", "-Xmn1g",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(DATA), "--work", str(work), "--cores", str(cores())]
    if args.inject:
        cmd += ["--inject", args.inject]
    # every file the program writes stays in the work directory
    env = dict(os.environ, GRAFT_ORACLE_AUX_ROOT=str(work / "aux"),
               SPARK_LOCAL_DIRS=str(work / "local"), TMPDIR=str(tmp))
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: JVM timed out after {JVM_TIMEOUT_S}s")
    result_file = work / "result.json"
    if rc != 0 or not result_file.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        log("JVM failed (exit %d); last log lines:\n%s" % (rc, "\n".join(tail)))
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    return json.loads(result_file.read_text())


def oracle_compare(check):
    """Compares each written query output with its DuckDB oracle through
    scripts/check.py; a query without an oracle must be non-empty, and
    every count a timed pass made must equal the checked output's rows.
    Returns the failures, one line per query."""
    sys.path.insert(0, str(ROOT / "scripts"))
    import check as oracle  # scripts/check.py
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        oracle.main(str(DATA), check["dir"])
    verdict, rows = {}, {}
    for line in buf.getvalue().splitlines():
        if line.startswith("PASS "):
            name = line.split()[1]
            verdict[name] = None
            rows[name] = int(line.split("(", 1)[1].split()[0])
        elif line.startswith("FAIL "):
            verdict[line.split()[1].rstrip(":")] = line[:300]
        elif line.startswith("[rows-only] "):
            name, rest = line[len("[rows-only] "):].split(": ", 1)
            rows[name] = int(rest.split()[0])
            verdict[name] = None if rows[name] > 0 else "empty output"
    failures = []
    for q in check["queries"]:
        if verdict.get(q, "no compare verdict") is not None:
            failures.append(f"check {q}: {verdict.get(q, 'no compare verdict')}")
            continue
        for n in check["counts"].get(q, []):
            if n != rows[q]:
                failures.append(f"check {q}: a timed pass counted {n} rows, "
                                f"the checked output has {rows[q]}")
    return failures


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("throw", "wrong"))
    args = ap.parse_args(argv)

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log("the program's sources (build.sbt, src/main/scala/graft) are not in this checkout")
        return 2
    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    build(work)
    res = run_jvm(args, work)

    failures = list(res["failures"])
    check = res.get("check") or {}
    t0 = time.monotonic()
    if check.get("queries"):
        failures += oracle_compare(check)
    oracle_s = time.monotonic() - t0
    attempted = res["attempted"]
    failed = min(attempted, len(failures))
    detail = dict(res["detail"], oracle_s=oracle_s, failed_ratio=failed / attempted,
                  failures=failures)
    (work / "detail.json").write_text(json.dumps(detail, indent=1))
    for f in failures[:20]:
        log(f"FAILED {f}")
    print(json.dumps({"workload": args.workload, "detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": res["metrics"]}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
