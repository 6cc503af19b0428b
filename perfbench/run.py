"""Run one workload of the lakehouse benchmark.

    python3 perfbench/run.py --workload ingest|change|read --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine plus the benchmark
from source on first use (perfbench/build.py), then starts one JVM in a
fresh work directory under .bench_work/, which is removed afterwards.
The JVM's human-readable lines are echoed; the last line printed is the
JSON result. Exit codes: 0 ok, 1 a correctness check or an op failed,
2 build or launch failure, 3 timeout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "change", "read")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classes = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    t0_ms = int(time.time() * 1000)  # set-up is timed from here
    work = os.path.join(build.ROOT, ".bench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out_dir = os.path.join(build.ROOT, ".bench_out")
    # soft references cleared at every GC, so retained heap is repeatable;
    # no hsperfdata file, so nothing is written outside the checkout
    jvm = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           "-XX:SoftRefLRUPolicyMSPerMB=0", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={tmp}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", build.classpath(classes), "graft.perfbench.LakeBench",
                 "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--t0", str(t0_ms), "--out", out_dir]
    os.makedirs(out_dir, exist_ok=True)
    log_path = os.path.join(out_dir, f"jvm-{a.workload}-seed{a.seed}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"perfbench: timed out; JVM log in {log_path}",
                      file=sys.stderr)
                return 3
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
    except OSError as e:
        print(f"perfbench: cannot start java: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in stdout.splitlines():
        if line.startswith("{"):
            result = line
        else:
            print(line)
    if result is None:
        print(f"perfbench: no result (exit {proc.returncode}); JVM log in "
              f"{log_path}", file=sys.stderr)
        return 2
    parsed = json.loads(result)
    print(result)
    if proc.returncode != 0 or not parsed["correct"]:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
