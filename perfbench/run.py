#!/usr/bin/env python3
"""Layered lake benchmark of the graft engine: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload lake_mixed --seed 1 --seconds 12 --trace 0

Workloads: lake_mixed, llm_pipeline (see perfbench/README.md).
A run builds the engine and the benchmark from source with sbt the first
time (the classpath is cached under perfbench/target), generates its
inputs from the seed, runs the workload in a JVM launched directly with
`java`, checks every output, and prints the result JSON as the last line
of standard output. With --trace 0 the result holds the end-to-end
metrics, with --trace 1 the per-layer metrics. The line before it holds
the run's detail: seed, nproc, local[k], JVM and Spark versions, flush
policy, sample counts and tail percentiles. Exit code 0 means every check
passed.
"""
import argparse
import fcntl
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
WORK = os.path.join(HERE, ".work")
CP_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
WORKLOADS = ("lake_mixed", "llm_pipeline")
# input scale factor of each workload's generated tables
SCALE = {"lake_mixed": 0.02, "llm_pipeline": 0.01}
# a run's own time limit, counted from the end of the build: fixed work,
# a multiple of the window, and the traced run's two extra decks or passes
RUN_FIXED_S = 120
RUN_PER_WINDOW_S = 3
RUN_TRACE_S = 60
BUILD_LIMIT_S = 800
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build compiles: the engine and the bench."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
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


def spark_home():
    """The Spark installation whose jars the build compiles against:
    SPARK_HOME, else the first `spark-submit` on PATH that sits in one."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))
        home = os.path.dirname(home)
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("Spark not found: set SPARK_HOME")


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    digest = sources_digest()
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(os.path.join(os.path.dirname(CP_FILE), "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(CP_FILE):
            with open(CP_FILE) as f:
                cached = json.load(f)
            if cached.get("digest") == digest:
                return cached["classpath"]
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("building engine and benchmark with sbt")
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S,
            stdin=subprocess.DEVNULL)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            raise SystemExit("build failed")
        cp = [ln for ln in p.stdout.splitlines()
              if ln and not ln.startswith("[") and ".jar" in ln][-1].strip()
        with open(CP_FILE, "w") as f:
            json.dump({"digest": digest, "classpath": cp}, f)
        log(f"built in {time.time() - t0:.0f} s")
        return cp


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_TMP_ROOT=tmp, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=errf, text=True,
                             env=env, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("run exceeded its time limit")
        finally:
            if p.poll() is None:  # stopped early: take the JVM down with us
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed with exit code {p.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", type=int, choices=(0, 1), default=0,
                    help="plant a wrong expectation; the run must then fail its checks")
    a = ap.parse_args()
    # a stop request unwinds through the `finally` blocks below, which stop
    # the JVM and delete the run's files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found next to perfbench/")

    cp = build()
    deadline = (time.time() + RUN_FIXED_S + RUN_PER_WINDOW_S * a.seconds
                + RUN_TRACE_S * a.trace)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        import gen_data
        data = os.path.join(work, "data")
        gen0 = time.time()
        only = {"orders"} if a.workload != "llm_pipeline" else None
        gen_data.generate(data, a.seed, SCALE[a.workload], only)
        gen_s = time.time() - gen0
        cpus = max(1, min(4, os.cpu_count() or 1))
        t0 = time.time()
        res = run_jvm(cp, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--cpus", str(cpus),
            "--result", os.path.join(work, "result.json"),
            "--plant-wrong", str(a.plant_wrong if a.workload != "llm_pipeline" else 0)],
            work, deadline)
        detail = res.pop("detail")
        detail["input_scale_factor"] = SCALE[a.workload]
        detail["input_generation_s"] = round(gen_s, 3)
        detail["jvm_s"] = round(time.time() - t0, 3)
        if a.workload == "llm_pipeline":
            import oracle
            mismatches = oracle.compare(data, os.path.join(work, "oracle"),
                                        plant_wrong=bool(a.plant_wrong))
            detail["oracle_mismatches"] = mismatches
            if mismatches:
                res["correct"] = False
                res["failed"] += len(mismatches)
                res["attempted"] += len(mismatches)
        detail["wall_s"] = round(time.time() - started, 3)
        print(json.dumps({"detail": detail}))
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        sys.stdout.flush()
        if not res["correct"]:
            log(f"correctness checks failed: {json.dumps(detail.get('checks'))} "
                f"{json.dumps(detail.get('oracle_mismatches'))}")
            sys.exit(1)
    finally:
        # keep the last run's JVM log and spans, drop its tables and inputs
        for name in ("jvm.log", "spans.jsonl"):
            if os.path.exists(os.path.join(work, name)):
                shutil.move(os.path.join(work, name),
                            os.path.join(WORK, f"last-{a.workload}-{name}"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
