#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result line.

    python3 perfbench/run.py --workload lsm_ingest --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), then runs the workload in one JVM: Spark `local[N]` with
N = min(4, cores), one client thread. The last line of stdout is the JSON
result. A failed output check prints the result (`"correct": false`) and
exits 1; a failed build or run exits with another non-zero code and no
result. Everything it writes stays under `.bench_build/` of the checkout.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lsm_ingest", "dedup_ingest")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes, jars = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD_DIR, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    # a SIGTERM unwinds through the handler below, so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=work, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("run timed out", file=sys.stderr)
        return 3
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        # keep the trace, drop the tables
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    has_result = bool(lines) and lines[-1].startswith("{")
    # exit 1 is a failed output check: its result line (correct: false)
    # still goes out, and the command still fails
    if proc.returncode in (0, 1) and has_result:
        sys.stdout.write(out)
        return proc.returncode
    sys.stderr.write(out)
    print("run failed with exit code %d" % proc.returncode, file=sys.stderr)
    return proc.returncode or 4


if __name__ == "__main__":
    sys.exit(main())
