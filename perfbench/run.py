#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload mixed_small_docs --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the benchmark
(perfbench/build.py compiles graft's sources together with the
benchmark's); later runs reuse the build while no source has changed.
The run itself is one JVM on local[min(4, nproc)] with a heap sized from
/proc/meminfo. Everything it writes goes under .bench_build/perfbench/.
The last stdout line is {"correct", "attempted", "failed", "metrics"};
the exit code is 0 only when every output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
from build import OUT, build, log, toolchain  # noqa: E402

WORKLOADS = ("mixed_small_docs", "mega_doc_skew")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the list Spark's
# launcher passes; the repository's build.sbt carries the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_mb():
    """A quarter of physical memory, kept within 1-4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 4096))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    env, jars, java = toolchain()
    classpath = build(env, jars, java)
    # local mode binds the loopback address; no host name lookup
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")

    work = OUT / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    heap = heap_mb()
    cores = min(4, os.cpu_count() or 1)
    cmd = [java, f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", str(work),
            "--trace-out", str(OUT / "traces" / f"{args.workload}-seed{args.seed}.jsonl")]
    log(f"{args.workload} seed={args.seed} trace={args.trace} local[{cores}] heap={heap}m")
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise SystemExit("perfbench: run stopped")

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        kill()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log(f"no result line (exit code {proc.returncode})")
        return 1
    print(json.dumps(result), flush=True)
    return 0 if proc.returncode == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
