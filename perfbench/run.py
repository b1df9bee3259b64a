#!/usr/bin/env python3
"""The repo benchmark: socket-to-sink EPIC ingest and light-curve reads on
every run; the traced run adds the per-layer probes and the s11 graph.

    python3 perfbench/run.py --workload ingest_ref --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the product and the
harness from source (sbt, offline) and caches the classpath under
perfbench/.work; later runs start the harness JVM directly. The last stdout
line is the result object; perfbench/out/ holds each run's detail artifact.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(WORK, "classpath.txt")

# Spark on JDK 17 outside spark-submit (same list as the product build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SUT_HEAP = "3g"
SUT_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            paths += [os.path.join(d, f) for f in files]
    return max(os.path.getmtime(p) for p in paths if os.path.exists(p))


def build():
    """Compile product + harness; return the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building product and harness (sbt)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def run_sut(cp, args):
    work = os.path.relpath(os.path.join(WORK, f"run-{os.getpid()}"), ROOT)
    shutil.rmtree(os.path.join(ROOT, work), ignore_errors=True)
    os.makedirs(os.path.join(ROOT, work))
    java_opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{SUT_HEAP}", f"-Xmx{SUT_HEAP}", f"-Djava.io.tmpdir={os.path.join(ROOT, work)}"]
    cmd = ["java", *java_opts, "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", OUT]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=SUT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"harness exceeded {SUT_TIMEOUT_S} s; killing it")
        out = ""
    finally:
        # the harness and the generator it started share this group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(os.path.join(ROOT, work), ignore_errors=True)
    result = None
    for line in out.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and "metrics" in obj:
                result = obj
        elif line:
            log(line)
    if proc.returncode != 0 or result is None:
        raise SystemExit(f"harness failed (exit {proc.returncode})")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("not a checkout of the product: build.sbt or src/main/scala missing")
    cp = build()
    result = run_sut(cp, args)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
