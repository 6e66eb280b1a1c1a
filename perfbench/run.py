#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload etl_queue --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (see build.py),
then runs the workload in one JVM in a scratch directory under .bench_build/
of the checkout, which is removed afterwards. Exits non-zero, printing no
result, when the build or the run fails or the result names other metrics
than BENCHMARK.json declares.
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

WORKLOADS = ("etl_queue", "corpus_build")
RUN_TIMEOUT_S = 175

# A fixed, pre-touched heap. With a heap that grows on demand, VmHWM
# followed G1's sizing decisions and spread 0.3 across seeds; pinned, it
# repeats, but peak_rss_mb then sees native memory only, not heap use.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-Xss4m"] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def declared_metrics(trace):
    """The metric names and units BENCHMARK.json declares for a run."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        engine, bench = build.build()
        expected = declared_metrics(a.trace)
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"run: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD_ROOT, "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = ":".join([bench, engine, os.path.join(build.spark_jars(), "*")])
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                  "-Dlog4j2.configurationFile=" +
                                  os.path.join(build.HERE, "log4j2.properties"),
                                  "-cp", cp, "perfbench.Main", a.workload,
                                  str(a.seed), str(a.seconds), str(a.trace), work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=work, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("run: timed out", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [x for x in stdout.splitlines() if x.strip()]
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        print(f"run: benchmark exited with {proc.returncode}", file=sys.stderr)
        return 4
    try:
        result = json.loads(lines[-1])
        got = {k: v["unit"] for k, v in result["metrics"].items()}
    except (ValueError, KeyError, TypeError) as e:
        print(f"run: unreadable result: {e}", file=sys.stderr)
        return 5
    if got != expected:
        print(f"run: metrics differ from BENCHMARK.json: "
              f"{sorted(set(got.items()) ^ set(expected.items()))}",
              file=sys.stderr)
        return 6
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
