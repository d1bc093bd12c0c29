"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload job_trails --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source first (see build.py), then
runs the workload in one JVM at local[nproc]. Everything it writes stays
under the repository root: classes in .bench_build/, inputs, outputs, Spark
scratch space and trace files in .bench_work/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("job_trails", "polyline_terrarium")
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    t0 = time.time()
    classes = build.build()
    print(f"perfbench: build checked in {time.time() - t0:.1f} s", file=sys.stderr)
    root = build.ROOT
    work = os.path.join(root, ".bench_work", "run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_MASTER", None)
    classpath = os.pathsep.join([*classes, os.path.join(root, "src", "main", "resources"),
                                 os.path.join(build.spark_jars(), "*")])
    opens = [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{HEAP}", *opens,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--cpus", str(cpus)]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {a.workload} did not finish in {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    print(f"perfbench: JVM ran {time.time() - t0:.1f} s since start", file=sys.stderr)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    traces = os.path.join(root, ".bench_work", "traces")
    os.makedirs(traces, exist_ok=True)
    for f in os.listdir(work):
        if f.startswith("trace-"):
            os.replace(os.path.join(work, f), os.path.join(traces, f))
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        print(f"perfbench: {a.workload} exited {proc.returncode} without a result", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    t0 = time.time()
    rc = main()
    print(f"perfbench: {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(rc)
