"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the engine and the client if needed (perfbench/build.py), then runs
one workload in one JVM on local[4] and relays its last stdout line: a JSON
object {correct, attempted, failed, metrics}. --trace 1 prints the
per-layer metrics and writes the span trace to
<build dir>/perfbench/traces/<workload>-seed<n>.json.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_upsert", "graph_fixpoint", "text_dedup", "config_burst")
# a run must end within 180 s; perfbench.Main stops measuring at 150 s
RUN_TIMEOUT_S = 172

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(out, classpath, main, args, timeout):
    """Run a JVM main in its own process group; return (exit code, stdout)."""
    tmp = os.path.join(out, "tmp")
    cmd = build.jvm_base(out) + [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd += ["-Xmx3g", "-Xss8m",
            "-Dspark.ui.enabled=false", "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(out, "warehouse"),
            "-Dderby.system.home=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "perfbench", "log4j2.properties"),
            "-cp", ":".join(classpath), main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=out,
                            start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    try:
        classpath = build.build()
    except build.BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        return 1
    out = build.build_dir()
    started = time.monotonic()
    work = os.path.join(out, "work", "%s-%d-%d" % (a.workload or "selftest", a.seed, os.getpid()))
    os.makedirs(work)
    try:
        if a.self_test:
            code, stdout = jvm(out, classpath, "perfbench.SelfTest",
                               [work, os.path.join(build.ROOT, "BENCHMARK.json")], 600)
            sys.stdout.write(stdout)
            return 0 if code == 0 else 1
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
        if a.trace:
            args += ["--trace-out", os.path.join(out, "traces", "%s-seed%d.json" % (a.workload, a.seed))]
        code, stdout = jvm(out, classpath, "perfbench.Main", args,
                           RUN_TIMEOUT_S - (time.monotonic() - started))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        print("[perfbench] run failed (exit %s)" % code, file=sys.stderr)
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
