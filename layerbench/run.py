#!/usr/bin/env python3
"""Layer-attributed benchmark of the SSE serving path and the batch engine.

Usage (from the repository root):

    python3 layerbench/run.py --workload sse-live --seed 1 --seconds 15 --trace 0

Workloads: sse-live, batch-slice (see layerbench/NOTES.md).
The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the run's spans are
written to .bench_build/traces/<workload>-seed<n>.json (read them with
layerbench/trace_report.py).

Other modes:
    --selftest   checks the benchmark's own helpers against the program
    --record     re-records layerbench/expected/batch_slice.json

The first call in a checkout builds the program and the benchmark with sbt
(offline) into target/ directories and .bench_build/; later calls reuse the
build while the sources are unchanged. Everything a run writes lives under
.bench_build/ in the checkout; the run's working directory is deleted when
the run ends.
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
RESULT_TAG = "LAYERBENCH_RESULT "

# Spark 4 on JDK 17 outside spark-submit (mirrors the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# sse-live runs with the C1 compiler only. Under the default tiered JIT its
# per-batch code keeps getting faster for about a minute of traffic, more
# warm-up than the run budget holds; with C1 alone latency is flat after
# ~5 s of traffic (layerbench/NOTES.md, "Sizing").
JIT_FLAGS = {"sse-live": ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]}

# Inputs of the build: a change to any of them triggers a rebuild.
BUILD_INPUTS = [
    ("build.sbt", None), ("project/build.properties", None),
    ("src/main", (".scala", ".java")),
    ("layerbench/build.sbt", None), ("layerbench/project/build.properties", None),
    ("layerbench/src", (".scala",)),
]


def log(msg):
    print("[layerbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel, exts in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = []
        if os.path.isfile(path):
            files = [path]
        else:
            for d, _, names in os.walk(path):
                files += [os.path.join(d, n) for n in names if n.endswith(exts)]
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, env=None, capture=True):
    """Run cmd in its own process group; kill the whole group on timeout, or
    when this script is terminated."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else None,
                            stderr=None, text=True)

    def terminate(signum, _frame):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGINT, terminate)
    try:
        out, _ = proc.communicate(timeout=max(1.0, timeout))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        log("timed out after %.0f s: %s" % (timeout, " ".join(cmd[:3])))
        return -1, None
    finally:
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def build(timeout):
    """Returns the runtime classpath, building first when sources changed."""
    for rel in ("build.sbt", "src/main/scala", "layerbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise RuntimeError("program sources missing: %s not found" % rel)
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, timeout=timeout, env=env)
    if code != 0 or out is None:
        if out:
            sys.stderr.write(out[-4000:])
        raise RuntimeError("sbt build failed (exit %s)" % code)
    lines = [l.strip() for l in out.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    cp = lines[-1]
    with open(CLASSPATH, "w") as fh:
        fh.write(cp + "\n")
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return cp, True


def java_cmd(cp, work, main_args, jit_flags):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Xss4m"] + jit_flags + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + tmp,
        "-cp", cp, "layerbench.Main"] + main_args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["sse-live", "batch-slice"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not (args.workload or args.selftest or args.record):
        ap.error("one of --workload, --selftest, --record is required")

    t_start = time.monotonic()
    try:
        cp, built = build(timeout=800)
    except Exception as e:  # no result line: the caller sees a failed run
        log("build failed: %s" % e)
        return 2
    # the first call in a checkout may spend most of its budget building
    budget = (890.0 if built else 175.0) - (time.monotonic() - t_start) - 5.0

    tag = ("selftest" if args.selftest else "record" if args.record
           else "%s-%d-%d" % (args.workload, args.seed, args.trace))
    work = os.path.join(BUILD, "work", "%s-%d" % (tag, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traces = os.path.join(BUILD, "traces")
    results = os.path.join(BUILD, "results")
    os.makedirs(traces, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    if args.selftest:
        main_args = ["--selftest"]
    elif args.record:
        main_args = ["--record", os.path.join(HERE, "expected", "batch_slice.json")]
        budget = 3600.0
    else:
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--expected", os.path.join(HERE, "expected", "batch_slice.json")]
        if args.trace:
            main_args += ["--trace-out", os.path.join(
                traces, "%s-seed%d.json" % (args.workload, args.seed))]
    try:
        code, out = run_bounded(java_cmd(cp, work, main_args, JIT_FLAGS.get(args.workload, [])),
                                cwd=work, timeout=budget)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out:
        for line in out.splitlines():
            if not line.startswith(RESULT_TAG):
                print(line)
    if code != 0 or out is None:
        log("benchmark JVM failed (exit %s)" % code)
        return 3
    if args.selftest or args.record:
        return 0
    tagged = [l[len(RESULT_TAG):] for l in out.splitlines() if l.startswith(RESULT_TAG)]
    if not tagged:
        log("benchmark JVM printed no result")
        return 4
    result = json.loads(tagged[-1])
    details = [l.split(" ", 1)[1] for l in out.splitlines() if l.startswith("LAYERBENCH_DETAIL ")]
    with open(os.path.join(results, "%s-seed%d-trace%d.json"
                           % (args.workload, args.seed, args.trace)), "w") as fh:
        json.dump(dict(result, detail=json.loads(details[-1]) if details else {}), fh)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
