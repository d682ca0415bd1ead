"""graft benchmark: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload suite|store --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Builds graft and the harness if needed
(perfbench/build.py), then starts one JVM of a pinned shape (local[N]
with N = min(2, cores), fixed heap, every scratch path under the run's
own work directory) that sets up, warms up, measures for S seconds,
checks every output and prints the result. The last stdout line is
{"correct", "attempted", "failed", "metrics"}; the line before it
records the process shape. --trace 1 reports the per-layer metrics and
writes the spans to $CARGO_TARGET_DIR/perfbench/traces/.

The `suite` tables do not depend on the seed; they are generated once
per build, before any timing, under $CARGO_TARGET_DIR/perfbench/.
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
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def host_mem_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def java_cmd(classes, heap_mb, tmp, main_args):
    """The pinned JVM: fixed heap (-Xms = -Xmx), G1, JDK 17 module opens."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
            + ["-Xms%dm" % heap_mb, "-Xmx%dm" % heap_mb, "-XX:+UseG1GC",
               # compile hot code sooner: runs are short, and without it the
               # JIT is still speeding iterations up well past the warm-up
               "-XX:CompileThresholdScaling=0.2",
               "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
               "graftbench.Main"] + main_args)


def suite_data(classes, cores, heap_mb):
    """Directory of the fixed `suite` tables, generated on first use."""
    with open(os.path.join(build.build_dir(), "classes.sha256")) as f:
        stamp = f.read().strip()[:16]
    data = os.path.join(build.build_dir(), "suite-data-" + stamp)
    if os.path.isdir(data):
        return data
    work = os.path.join(build.build_dir(), "work", "gen-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        subprocess.run(java_cmd(classes, heap_mb, tmp,
                                ["--generate-suite-data", data + ".new", "--cores", str(cores),
                                 "--work", work]),
                       cwd=work, check=True, stdout=sys.stderr, stderr=subprocess.DEVNULL,
                       timeout=TIMEOUT_S)
        os.rename(data + ".new", data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(data + ".new", ignore_errors=True)
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["suite", "store"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", help="write the first iteration's row counts here")
    a = ap.parse_args()

    cores = max(1, min(2, os.cpu_count() or 1))
    heap_mb = min(3072, host_mem_mb() // 4)
    try:
        classes = build.build()
        data = suite_data(classes, cores, heap_mb) if a.workload == "suite" else ""
    except (SystemExit, subprocess.SubprocessError, OSError) as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    base = build.build_dir()
    work = os.path.join(base, "work", "%s-%d" % (a.workload, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(base, "traces", "%s-seed%d.json" % (a.workload, a.seed))
    shape = {"shape": {"master": "local[%d]" % cores, "shuffle_partitions": cores,
                       "heap_mb": heap_mb, "codegen_cache_entries": 4096,
                       "nproc": os.cpu_count(), "work_dir": os.path.relpath(work, build.ROOT)}}
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work,
            "--expected", os.path.join(build.HERE, "expected"), "--suite-data", data,
            "--trace-out", trace_out]
    if a.record_expected:
        args += ["--record-expected", os.path.abspath(a.record_expected)]
    log_path = os.path.join(base, "logs", "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    os.makedirs(os.path.dirname(log_path), exist_ok=True)

    result = None
    try:
        with open(log_path, "w") as log:
            cmd = java_cmd(classes, heap_mb, tmp, args + ["--t0-ns", str(time.time_ns())])
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print("perfbench: run exceeded %d s; log in %s" % (TIMEOUT_S, log_path),
                      file=sys.stderr)
                return 1
        for line in reversed(out.strip().splitlines()):
            try:
                cand = json.loads(line)
            except ValueError:
                continue
            if isinstance(cand, dict) and set(cand) == {"correct", "attempted", "failed", "metrics"}:
                result = cand
                break
        if proc.returncode != 0 or result is None:
            print("perfbench: JVM exited %d without a result; log in %s"
                  % (proc.returncode, log_path), file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(shape))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
