#!/usr/bin/env python3
"""Reference-workload benchmark of the engine: backfill, serve and live.

Usage, from the root of a checkout:

    python3 refbench/run.py --workload backfill|serve|live --seed N \
        --seconds S --trace 0|1 [--size full|smoke] [--perturb none|drop-row]

The engine and the benchmark program are compiled from the tree this script
sits in, once per source state (sbt, offline), into refbench/.build/. Each
run then starts a plain JVM. All scratch (inputs, state, checkpoints, Spark
warehouse and metastore) lives in a temporary directory under
refbench/.work/ that is removed when the run ends. A traced run writes its
spans to refbench/.out/. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(HERE, ".build")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[refbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every file the build reads: engine sources and resources, the
    benchmark's sources and its build definition."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile once per source state; returns the runtime classpath."""
    key = source_hash()
    out = os.path.join(BUILD, key)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log(f"building engine + benchmark ({key}) with sbt, offline")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    # sbt's global settings, server socket and native-library temp files go
    # under .build/ too, so a build writes nothing outside the checkout
    tmp_dir = os.path.join(BUILD, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Djava.io.tmpdir={tmp_dir}", f"-Djna.tmpdir={tmp_dir}",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("refbench: build failed")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        raise SystemExit("refbench: sbt printed no classpath")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    kept = os.path.join(out, "classes")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(classes, os.path.join(tmp, "classes"))
    cp = os.pathsep.join(kept if e == classes else e for e in lines[-1].strip().split(os.pathsep))
    with open(os.path.join(tmp, "classpath.txt"), "w") as fh:
        fh.write(cp)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "serve", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    ap.add_argument("--perturb", choices=["none", "drop-row"], default="none")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
            "run from a full checkout")
        return 2
    if not os.environ.get("SPARK_HOME"):
        log("SPARK_HOME is not set")
        return 2
    cp = build()

    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=work_root)
    spans = None
    if a.trace:
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx8g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "refbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--size", a.size,
            "--perturb", a.perturb, "--work", work]
    if spans:
        cmd += ["--spans", spans]

    proc = None

    def stop(signum, frame):
        if proc and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"run exceeded {RUN_TIMEOUT_S} s")
            return 4
        lines = [l for l in out.splitlines() if l.strip()]
        result = lines[-1] if lines and lines[-1].startswith("{") else None
        for l in lines[:-1] if result else lines:
            sys.stderr.write(l + "\n")
        if result is None:
            log(f"no result line (exit {proc.returncode})")
            return proc.returncode or 5
        print(result, flush=True)
        return proc.returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
