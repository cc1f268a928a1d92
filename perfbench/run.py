#!/usr/bin/env python3
"""Run one perfbench workload and print its result as one JSON line.

    python3 perfbench/run.py --workload pipeline_bulk --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The program (src/main/scala) and the
benchmark sources (perfbench/src) are compiled once per source tree with the
Scala compiler that ships in the Spark jars directory, into
.bench_build/perfbench/<hash>/; each workload then runs in a fresh `java`
process with a fixed heap. The last line of stdout is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("pipeline_bulk", "pipeline_trickle", "queries_mix")
HEAP = "2g"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when a SparkSession starts outside
# spark-submit (the same list the program's build passes to forked runs).
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    build = ROOT / "build.sbt"
    if build.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    fail("no Spark jars directory (set SPARK_HOME)")


def sources():
    prog = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not prog:
        fail("no program sources under src/main/scala; run from the root of a checkout")
    bench = sorted((BENCH / "src").rglob("*.scala"))
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return prog + bench


def build():
    """Compile program + benchmark once per source tree; return the classes dir."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(sorted(p.name for p in jars.glob("scala-*.jar"))).encode())
    target = OUT / h.hexdigest()[:16]
    classes = target / "classes"
    if classes.is_dir():
        return classes, jars
    OUT.mkdir(parents=True, exist_ok=True)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if classes.is_dir():
            return classes, jars
        tmp = target / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        argfile = target / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cp = f"{jars}/*"
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            fail("compilation failed")
        tmp.rename(classes)
        print(f"perfbench: compiled {len(files)} files in {time.time() - t0:.1f} s",
              file=sys.stderr)
    return classes, jars


def java_cmd(classes, jars, main, args):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xss4m",
             f"-Djava.io.tmpdir={OUT / 'tmp'}",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{classes}{os.pathsep}{jars}/*", main] + args)


def run_java(cmd, log_path):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out


def on_term(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the checkers' own tests and exit")
    ap.add_argument("--dump-oracle-sql", metavar="FILE",
                    help="write the sampled queries' oracle SQL as JSON and exit")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.dump_oracle_sql):
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be positive")

    classes, jars = build()
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    logs = OUT / "logs"
    logs.mkdir(parents=True, exist_ok=True)

    if a.self_test:
        code, out = run_java(java_cmd(classes, jars, "perfbench.SelfTest", []),
                             logs / "selftest.log")
        sys.stdout.write(out)
        sys.exit(code)
    if a.dump_oracle_sql:
        code, out = run_java(
            java_cmd(classes, jars, "perfbench.Main",
                     ["--dump-oracle-sql", a.dump_oracle_sql, "--root", str(ROOT)]),
            logs / "dump.log")
        sys.exit(code)

    run_dir = OUT / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    log = logs / f"{a.workload}-s{a.seed}-t{a.trace}.log"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", str(ROOT), "--run-dir", str(run_dir),
            "--start-ns", str(time.time_ns())]
    try:
        code, out = run_java(java_cmd(classes, jars, "perfbench.Main", args), log)
    finally:
        # keep the trace file, drop checkpoints and Spark scratch
        for p in run_dir.iterdir() if run_dir.is_dir() else []:
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not lines:
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"{a.workload} exited with {code}; see {log}")
    result = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    for l in out.splitlines():
        if not l.startswith("PERFBENCH_RESULT "):
            print(l, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
