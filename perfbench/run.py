#!/usr/bin/env python3
"""Search-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload <build|search|batch|ingest|all>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt (into target directories, which
git ignores) and records a class-data archive so later JVMs start
faster; later runs reuse both until a source file changes. A run that
cannot record or use the archive fails rather than run without it, so
set-up times never silently include the class loading it saves. The last
line of stdout is the run's JSON result; the full record of the run
(samples, spans, task metrics) is written under perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
ARCHIVE = os.path.join(TARGET, "bench.jsa")
STAMP = os.path.join(TARGET, "bench.stamp")

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of every input of the build, to know when to rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                 os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def jvm_args(classpath, archive_flag):
    args = ["java"]
    for p in ADD_OPENS:
        args += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-Dspark.ui.enabled=false"]
    args += archive_flag
    args += ["-cp", classpath, "perfbench.Main"]
    return args


def child_env():
    env = dict(os.environ)
    # keep Spark's scratch space inside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    env["SPARK_LOCAL_IP"] = env.get("SPARK_LOCAL_IP", "127.0.0.1")
    return env


def run_logged(cmd, cwd, log_path, timeout, capture):
    """Run `cmd` in its own process group with stderr (and stdout unless
    captured) to `log_path`; on timeout kill the whole group and wait.
    Returns (captured stdout, exit code or "timeout")."""
    with open(log_path, "w") as log_file:
        p = subprocess.Popen(cmd, cwd=cwd, env=child_env(), text=True,
                             stdout=subprocess.PIPE if capture else log_file,
                             stderr=log_file, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.communicate()
            return None, "timeout"
    return out, p.returncode


def build():
    digest = sources_digest()
    if all(os.path.isfile(p) for p in (CLASSPATH, ARCHIVE, STAMP)):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(OUT, exist_ok=True)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    for p in (CLASSPATH, ARCHIVE, STAMP):
        if os.path.exists(p):
            os.remove(p)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    _, rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false",
                        f"-Djava.io.tmpdir={tmp}", "writeClasspath"],
                       HERE, os.path.join(OUT, "build.log"),
                       BUILD_TIMEOUT_S, capture=False)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        log(f"sbt build failed; see {os.path.join(OUT, 'build.log')}")
        sys.exit(3)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # a short search run (its set-up builds a store) records the
    # class-data archive
    log("recording the class-data archive")
    archive_log = os.path.join(OUT, "archive.log")
    _, rc = run_logged(
        jvm_args(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) +
        ["--workload", "search", "--seed", "1", "--seconds", "0",
         "--trace", "0", "--out", OUT],
        ROOT, archive_log, BUILD_TIMEOUT_S, capture=False)
    if rc != 0 or not os.path.isfile(ARCHIVE):
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        log(f"recording the class-data archive failed ({rc}); see {archive_log}")
        sys.exit(3)
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"build done in {time.time() - t0:.0f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("build", "search", "batch", "ingest", "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources under {ROOT} (expected build.sbt and "
            "src/main/scala/graft); run from a full checkout")
        sys.exit(2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        log("java and sbt must be on PATH")
        sys.exit(2)

    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # -Xshare:on: a missing or mismatched archive fails the run
    archive = [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:on"]
    os.makedirs(OUT, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log_path = os.path.join(OUT, name + ".log")
    # `all` runs the four workloads in one JVM, one result line each
    count = 4 if a.workload == "all" else 1
    out, rc = run_logged(
        jvm_args(cp, archive) +
        ["--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", OUT],
        ROOT, log_path, RUN_TIMEOUT_S * count, capture=True)
    # one result line per workload run; anything else on stdout is noise
    results = []
    for line in (out or "").splitlines():
        try:
            results.append(json.loads(line))
        except ValueError:
            pass
    results = [r for r in results if isinstance(r, dict) and "metrics" in r]
    if rc != 0 or len(results) != count:
        log(f"run failed ({rc}); see {log_path}")
        sys.exit(1)
    for r in results:
        print(json.dumps(r, separators=(",", ":")))


if __name__ == "__main__":
    main()
