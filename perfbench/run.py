#!/usr/bin/env python3
"""CDC sink benchmark entry point.

    python3 perfbench/run.py --workload tail_steady --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark (perfbench/build.py), runs one
workload in one JVM, and prints the result as the last line of stdout:
a JSON object with `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. A human-readable report goes to stderr. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tail_steady", "catchup_reload")
TIMEOUT_S = 170
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
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # a signal during the build unwinds subprocess.run, which kills the compiler
    def interrupted(signum, _frame):
        raise SystemExit(f"perfbench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    classes = build.build()
    work = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Parallel GC: under G1 the runs' humongous allocations started a
    # concurrent cycle about every second, which competed with the driver
    # for the cores; a larger initial metaspace skips the full GCs of
    # class loading
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=256m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dlog4j2.configurationFile="
            + os.path.join(build.ROOT, "perfbench", "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"),
              "perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)

    def stop(signum=None, _frame=None):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if signum is not None:
            raise SystemExit(f"perfbench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        raise SystemExit(f"perfbench: run exceeded {TIMEOUT_S} s")
    stop()
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if proc.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write("".join(ln + "\n" for ln in lines))
        raise SystemExit(f"perfbench: no result (exit {proc.returncode})")
    # report exactly the metrics BENCHMARK.json declares for this mode
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names
               if not isinstance(result["metrics"].get(n, {}).get("value"), (int, float))]
    if missing:
        raise SystemExit(f"perfbench: run did not measure {missing}")
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
