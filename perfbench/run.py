#!/usr/bin/env python3
"""Connector benchmark: builds the connector and the benchmark driver from
source (once per checkout), then runs one workload in a fresh JVM.

    python3 perfbench/run.py --workload bars_bulk --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last stdout line is the JSON result
({"correct", "attempted", "failed", "metrics"}); the lines before it name
every metric with its unit, plus error_rate. Build output and run files
stay under perfbench/ (target/, work/); a traced run writes its spans to
perfbench/work/traces/.

The benchmark's own tests run with sbt from perfbench/ (`sbt test`), under
the same offline sbt settings build() uses.
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
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(TARGET, "bench.stamp")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
WORKLOADS = ("bars_bulk", "trades_grid", "stream_bars")
RESULT_PREFIX = "PERFBENCH_RESULT "

# Spark on JDK 17 outside spark-submit needs these (the same list as
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from this checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find Spark: set SPARK_HOME")
    return home


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"timed out after {timeout:.0f} s: {cmd[0]}", 1)
    return proc.returncode, out, err


def build(env, timeout):
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}",
            f"-Dsbt.boot.directory={os.path.join(TARGET, 'sbt-global', 'boot')}",
            f"-Djava.io.tmpdir={tmp}", "-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(env, SBT_OPTS=" ".join(opts), COURSIER_MODE="offline", TMPDIR=tmp)
    code, out, err = run_group(
        [sbt, "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        timeout, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed", 1)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())


def check_metrics(result, trace):
    """The printed metric set must be exactly the one BENCHMARK.json names."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return
    with open(path) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metric set {sorted(got.items())} differs from BENCHMARK.json "
             f"{sorted(want.items())}", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no connector sources under {os.path.join(ROOT, 'src', 'main')}; "
             "run from a full checkout of the repository")
    env = dict(os.environ, SPARK_HOME=spark_home())
    os.makedirs(TARGET, exist_ok=True)

    digest = source_hash()
    built = False
    if not (os.path.isfile(CLASSPATH) and os.path.isfile(STAMP)
            and open(STAMP).read().strip() == digest):
        build(env, timeout=780)
        with open(STAMP, "w") as f:
            f.write(digest + "\n")
        built = True
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        # the fixture stub (used only while capturing pages in set-up)
        # writes headers and body separately; without NODELAY each of
        # its responses waits out a delayed ACK
        "-Dsun.net.httpserver.nodelay=true",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", WORK,
    ]
    deadline = (890 if built else 175) - (time.monotonic() - started)
    log_path = os.path.join(WORK, f"jvm_{args.workload}.log")
    with open(log_path, "w") as log:
        code, out, _ = run_group(cmd, max(30, deadline), cwd=ROOT, env=env,
                                 stdout=subprocess.PIPE, stderr=log, text=True)
    result = None
    for line in out.splitlines():
        if line.startswith(RESULT_PREFIX):
            result = json.loads(line[len(RESULT_PREFIX):])
        else:
            print(line)
    if code != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {code} and no result", 1)
    check_metrics(result, args.trace == 1)
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
