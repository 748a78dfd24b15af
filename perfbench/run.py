#!/usr/bin/env python3
"""graft's benchmark runner.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload search|daily --seed N \
        --seconds S --trace 0|1 [--smoke]

It builds the harness (perfbench/build.sbt, which compiles the checkout's
src/main/scala next to perfbench/src) once per source state, runs one
benchmark process in a fresh work directory, and prints that process's
run record and, as the last stdout line, its JSON result. `--smoke` runs
the tiny corpus (sf0.001, 500 docs) instead of sf0.1 (5,000 docs).

Build output, the run record log and the per-run work directories live
under $CARGO_TARGET_DIR (default .bench_build) in the checkout.
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
ROOT = os.getcwd()
RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 880
BUILD_TIMEOUT_S = 600
XMX = "4g"
XMS = "2g"

# Spark 4 on JDK 17 needs these outside spark-submit (the root build
# passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the harness build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env(build_dir):
    """Offline sbt (resolution from the local caches only), its temp files
    under the build directory."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(build_dir):
    """Compile the harness unless this source state is already built;
    returns the runtime classpath and whether it compiled."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    print("perfbench: building the harness (sbt) ...", file=sys.stderr)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(build_dir), stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 4)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (rc {rc}); see {log}", 4)
    cps = [l for l in lines if "/classes" in l and ".jar" in l and " " not in l]
    if not cps:
        fail(f"no classpath in the build output; see {log}", 4)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["search", "daily"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus (sf0.001, 500 docs) for a quick end-to-end check")
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run this from the root of a graft checkout "
             "(src/main/scala/graft is missing)")
    data = os.path.join(HERE, "data", "sf0.001" if a.smoke else "sf0.1",
                        "documents.parquet")
    if not os.path.isfile(data):
        fail(f"missing base corpus {data}")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath, built = build(build_dir)

    work = os.path.join(build_dir, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the throughput collector, its heap sized up front: a run is one
    # short batch JVM on 4 cores, where G1's concurrent threads and early
    # heap growth compete with Spark's task threads. JIT thresholds at a
    # quarter of the default: the hot paths compile during set-up instead
    # of part-way through the timed units, which otherwise swing from run
    # to run with when the compiler got to them
    cmd += [f"-Xmx{XMX}", f"-Xms{XMS}", "-XX:-UsePerfData", "-XX:+UseParallelGC",
            "-XX:CompileThresholdScaling=0.25",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
            "-Dspark.ui.enabled=false", "-cp", classpath,
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--base", data, "--work", work]
    log = os.path.join(build_dir, "last_run.log")
    # a run that had to build may use the first-run allowance
    limit = FIRST_RUN_TIMEOUT_S if built else RUN_TIMEOUT_S
    budget = max(10.0, limit - (time.time() - t_start))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"benchmark process exceeded {budget:.0f} s; see {log}", 3)
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    record = next((l for l in lines if l.startswith('{"run_record"')), None)
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    if proc.returncode != 0 or result is None:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark process failed (rc {proc.returncode}); see {log}", 5)
    if record:
        with open(os.path.join(build_dir, "run_records.jsonl"), "a") as f:
            f.write(record + "\n")
        print(record)
    json.loads(result)
    print(result)


if __name__ == "__main__":
    main()
