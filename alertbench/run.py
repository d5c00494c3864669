#!/usr/bin/env python3
"""Stream benchmark for the kayvee alert pipeline.

Usage (from the repository root):

    python3 alertbench/run.py --workload backlog_drain --seed 1 --seconds 10 --trace 0

Builds the pipeline and the harness from this checkout's sources (sbt, once
per source change), runs one workload in a fresh JVM and prints, as the last
line of standard output, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones.

Extra modes:
    --steadiness N   run the workload N times (seeds seed..seed+N-1) and print
                     each metric's median, quartiles and spread against its
                     bound in BENCHMARK.json, plus the warm-up drift check
    --tiny 1         tiny sizes (smoke test)
    --corrupt 1      falsify one output per output check before checking
                     (self-test: every check must report a violation)
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[alertbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program + harness with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log("building program and harness (sbt)")
    cmd = ["sbt", "-batch",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           f"-Djna.tmpdir={os.path.join(BUILD, 'tmp')}",
           "writeClasspath"]
    # no JVM of the build (the sbt script's own java probes included) keeps
    # a /tmp/hsperfdata_<user> file
    env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    res = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL, env=env)
    if res.returncode != 0 or not os.path.exists(cp_file):
        log("build failed")
        sys.exit(3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def run_once(cp, a, seed):
    """Runs one workload in a fresh JVM; returns (result, info) parsed from
    its stdout, or exits non-zero."""
    work = os.path.join(BUILD, "work", f"{a.workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # C1 only (TieredStopAtLevel=1): C2-compiling Spark's per-micro-batch
    # code takes minutes of CPU on a cold JVM, far longer than a run, and the
    # batches keep getting faster all the while. CompileThresholdScaling: the
    # planner code runs a few times per micro-batch and would otherwise cross
    # the compile thresholds one method at a time for minutes; at 0.1 the
    # JIT is done within the first two batches. No code cache flushing: the
    # sweeper otherwise discards code that went cold during set-up and a wave
    # of recompiles lands inside the timed window. A fixed heap keeps heap
    # growth out of the warm-up (memory is reported as live data, not as
    # resident set).
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-XX:CompileThresholdScaling=0.1", "-XX:-UseCodeCacheFlushing", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + os.path.join(work, "derby")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "alertbench.Main",
            "--workload", a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--launch-ms", repr(time.time() * 1000.0),
            "--tiny", str(a.tiny), "--corrupt", str(a.corrupt)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        log(f"run failed (exit {proc.returncode})")
        sys.exit(5)
    result = json.loads(lines[-1])
    info = next((json.loads(l)["info"] for l in lines[:-1] if l.startswith('{"info"')), {})
    return result, info


def steadiness(cp, a):
    bounds = {}
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    values, drifts, jits, failed = {}, [], [], 0
    for k in range(a.steadiness):
        res, info = run_once(cp, a, a.seed + k)
        failed += res["failed"]
        drifts.append(info.get("drift", float("nan")))
        jits.append(info.get("window_jit_ms", -1))
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(json.dumps({"seed": a.seed + k, "correct": res["correct"], "failed": res["failed"],
                          "metrics": {n: m["value"] for n, m in res["metrics"].items()},
                          "drift": info.get("drift"), "window_jit_ms": info.get("window_jit_ms")}),
              flush=True)
    print(f"\n{a.workload}: {a.steadiness} runs, {failed} failed operations")
    print(f"{'metric':<20}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}  ok")
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(name)
        ok = "-" if b is None or name == "setup_s" else ("yes" if spread <= b / 3 else "NO")
        print(f"{name:<20}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}{(b or 0):>8.2f}  {ok}")
    d = [x for x in drifts if x == x]
    if d:
        print(f"drift (median batch duration, last / first quarter of the window): "
              f"median {statistics.median(d):.3f}, min {min(d):.3f}, max {max(d):.3f}; "
              f"JIT compile time inside the window: max {max(jits)} ms")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["backlog_drain", "steady_rate", "flaky_sink"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steadiness", type=int, default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        log(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}; "
            "run from a full checkout")
        sys.exit(2)
    cp = build()
    if a.steadiness:
        steadiness(cp, a)
        return
    res, _ = run_once(cp, a, a.seed)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
