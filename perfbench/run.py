#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload catalog_sf001 --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload places_serving --seed 1 --seconds 10 --trace 1
  python3 perfbench/run.py --selftest

It builds the repository's main classes with the repository's own sbt build
(unchanged) and this benchmark's package (perfbench/build.sbt), then runs one
workload in a fresh JVM. It prints every metric with its unit; the last line of
standard output is one JSON object {"correct", "attempted", "failed",
"metrics"}. Scratch files go to $CARGO_TARGET_DIR (default .bench_build).
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
WORKLOADS = ("catalog_sf001", "places_serving", "tile_ingest")
RUN_DEADLINE_S = 175      # the whole run, build excluded
BUILD_TIMEOUT_S = 850
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


# Children run in their own process groups; a stopped run takes them along.
CHILDREN = []


def stop_children(*_):
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(1)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def work_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(HERE, "build.sbt")))


def sources_stamp():
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for base in inputs:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            if "target" not in os.path.relpath(d, base).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    """sbt resolves offline, from the local caches only."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    return env


def sbt(cwd, tasks, env, logfile, timeout):
    """Runs sbt in batch mode; returns the classpath printed by `export`."""
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"] + tasks
    with open(logfile, "ab") as lf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                stderr=lf, stdin=subprocess.DEVNULL, start_new_session=True)
        CHILDREN.append(proc)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"sbt in {cwd} timed out")
        lf.write(out)
    if proc.returncode != 0:
        raise RuntimeError(f"sbt {' '.join(tasks)} failed in {cwd}; see {logfile}")
    lines = [l for l in out.decode(errors="replace").splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        raise RuntimeError(f"sbt printed no classpath in {cwd}; see {logfile}")
    return lines[-1].strip()


def build():
    """Compiles the repository and the benchmark when their sources changed;
    returns the runtime classpath."""
    work = work_dir()
    os.makedirs(work, exist_ok=True)
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "run.classpath")
    stamp = sources_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = sbt_env()
    logfile = os.path.join(work, "build.log")
    t0 = time.time()
    graft_cp = sbt(ROOT, ["compile", "export Runtime/fullClasspath"], env, logfile, BUILD_TIMEOUT_S)
    graft_cp_file = os.path.join(work, "graft.classpath")
    with open(graft_cp_file, "w") as fh:
        fh.write(graft_cp)
    env["PERFBENCH_GRAFT_CP"] = graft_cp_file
    bench_cp = sbt(HERE, ["compile", "export Runtime/fullClasspath"], env, logfile,
                   BUILD_TIMEOUT_S - (time.time() - t0))
    with open(cp_file, "w") as fh:
        fh.write(bench_cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return bench_cp


def selftest():
    build()
    work = work_dir()
    env = sbt_env()
    env["PERFBENCH_GRAFT_CP"] = os.path.join(work, "graft.classpath")
    code = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL)
    sys.path.insert(0, os.path.join(HERE, "tools"))
    import trace_report
    code |= trace_report.selftest()
    return code


def run_jvm(args, classpath, deadline):
    work = work_dir()
    for d in ("inputs", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    for f in (result, result + ".info"):
        if os.path.exists(f):
            os.remove(f)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--data", os.path.join(HERE, "data", "sf0.01"),
           "--expected", os.path.join(HERE, "expected", "fingerprints.json"),
           "--result", result]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    CHILDREN.append(proc)
    try:
        code = proc.wait(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("the run passed its deadline and was stopped")
        return None
    if code != 0 or not os.path.isfile(result):
        log(f"the JVM exited with code {code}")
        return None
    with open(result) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="build, then run the benchmark's own tests")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    if not sources_present():
        log("the repository sources (build.sbt, src/main/scala) are not here; nothing to measure")
        return 2
    if args.selftest:
        return selftest()
    if args.workload is None:
        ap.error("--workload is required")
    try:
        classpath = build()
    except RuntimeError as e:
        log(str(e))
        return 1
    res = run_jvm(args, classpath, time.time() + RUN_DEADLINE_S)
    if res is None:
        return 1
    for k, m in res["metrics"].items():
        print(f"{args.workload:15s} {k:34s} {m['value']:>16.6g} {m['unit']}")
    print(f"{args.workload:15s} {'attempted':34s} {res['attempted']:>16d}")
    print(f"{args.workload:15s} {'failed':34s} {res['failed']:>16d}")
    info_file = os.path.join(work_dir(), "result.json.info")
    if os.path.isfile(info_file):
        with open(info_file) as fh:
            print(f"{args.workload:15s} run info: {fh.read().strip()}")
    if args.trace:
        sys.path.insert(0, os.path.join(HERE, "tools"))
        import trace_report
        trace_report.report(os.path.join(work_dir(), "trace", f"{args.workload}-seed{args.seed}.jsonl"))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
