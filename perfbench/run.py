"""Run one benchmark workload end to end and print its result.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 20 --trace 0

Builds the program from source (see build.py), generates the seeded
inputs, runs the workload in one JVM at local[nproc], checks every output
and prints one JSON object as the last line of stdout: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1 (the span
trace is written to <build dir>/traces/). Workloads and metrics are
described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("bulk_load", "curate")
TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
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
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the main input size (input-size checks)")
    a = ap.parse_args()

    classpath = build.build()
    cpus = len(os.sched_getaffinity(0))
    out = build.build_dir()
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    logs = os.path.join(out, "logs")
    for d in (tmp, logs):
        os.makedirs(d, exist_ok=True)
    t0 = time.time()
    gen.generate(a.workload, a.seed, os.path.join(work, "in"), cpus, a.scale)
    gen_s = time.time() - t0
    trace_out = os.path.join(out, "traces", f"{a.workload}-seed{a.seed}.json")
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--trace-out", trace_out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_GRAFT_MASTER", None)

    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env,
                                stdout=subprocess.PIPE, stderr=log)
        try:
            stdout, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"workload {a.workload} exceeded {TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)

    lines = stdout.decode(errors="replace").splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        sys.stdout.write("\n".join(lines) + "\n")
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"workload {a.workload} failed (exit {proc.returncode}); "
                 f"log: {log_path}")
    print(f"gen_s={gen_s:.3f}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
