"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source on first use (see build.py),
then runs the workload in one JVM against a local Spark session. With
`--trace 0` the result carries the end-to-end metrics, with `--trace 1`
the per-layer metrics of a traced run. Everything the run writes stays
under `.bench_build/` of the checkout; the span log of the last traced
run of each workload is kept at `.bench_build/traces/<workload>.jsonl`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("rag_serve", "ingest_update", "curate_batch")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    # local[4] at most: the figures compare across machines only at a
    # fixed parallelism, and a bigger pool adds memory, not signal
    return max(1, min(4, n))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    out = os.path.join(build.ROOT, ".bench_build")
    try:
        cp = build.build(out)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    traces = os.path.join(out, "traces")
    os.makedirs(traces, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dderby.system.home=" + work,
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus()), "--work", work,
        "--spans", os.path.join(traces, a.workload + ".jsonl"),
        "--expected", os.path.join(build.HERE, "expected.json"),
    ]
    log_path = os.path.join(out, "last_" + a.workload + ".log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, text=True, env=env,
                                start_new_session=True)
        lines = []
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            lines = stdout.splitlines()
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"perfbench: {a.workload} exceeded {JVM_TIMEOUT_S} s",
                  file=sys.stderr)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not lines:
        print(f"perfbench: {a.workload} failed (exit {proc.returncode}); "
              f"see {log_path}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print("perfbench: no result line", file=sys.stderr)
        return 1
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
