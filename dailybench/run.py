#!/usr/bin/env python3
"""Daily-loop benchmark of graft: build, then run one workload.

    python3 dailybench/run.py --workload <procurement_days|curation_days> \
        --seed <n> --seconds <s> --trace <0|1> [Main's extra flags...]

Run from the root of a graft checkout. The first run in a checkout
compiles graft and the benchmark program with sbt (offline) and caches the
classpath under dailybench/.build; later runs start the JVM directly.
Every file a run makes lives under .dailybench_work/ in the checkout and
is deleted when the run ends. The last line on stdout is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CACHE = os.path.join(BENCH, ".build")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175
RECORD_TIMEOUT_S = 900  # --record-pins runs every day set-up made inputs for

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def classpath():
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(CACHE, "classpath.txt"), os.path.join(CACHE, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    log("building graft and the benchmark program with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(CACHE, "tmp")  # sbt's socket directories stay in the checkout
    os.makedirs(tmp, exist_ok=True)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         f"-Djava.io.tmpdir={tmp}", "export dailybench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "dailybench" not in lines[-1]:
        sys.stderr.write(out)
        raise SystemExit(f"sbt build failed (exit {code})")
    os.makedirs(CACHE, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["procurement_days", "curation_days"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--pins", default=os.path.join(BENCH, "pins.json"))
    args, extra = ap.parse_known_args()

    for needed in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            raise SystemExit(f"not a graft checkout: {os.path.join(ROOT, needed)} is missing")
    cp = classpath()

    work = os.path.join(ROOT, ".dailybench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-cp", cp, "dailybench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", os.path.join(work, "w"),
            "--cpus", str(len(os.sched_getaffinity(0))), "--pins", os.path.abspath(args.pins)] + extra
    try:
        timeout = RECORD_TIMEOUT_S if "--record-pins" in extra else RUN_TIMEOUT_S
        code, out = run_bounded(cmd, timeout, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=sys.stderr, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {timeout} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l, file=sys.stderr)
    if not result:
        raise SystemExit(f"no result line (exit {code})")
    print(result[-1], flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
