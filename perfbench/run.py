"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run compiles the engine and the
benchmark (see build.py); later runs reuse the build. The JSON result line
lists every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1); a traced run also writes its spans under
.bench_build/perfbench/runs.
"""

import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve", "ingest", "curate")
RUN_TIMEOUT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, main, args):
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", "-Xms2g", "-Xmx2g", *opens, "--add-modules=jdk.incubator.vector",
            "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + tmp,
            "-cp", classes + os.pathsep + build.spark_jars(), main, *args]


def run_java(cmd):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def declared_metrics(trace):
    with open(os.path.join(build.REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not a.self_test and a.seconds < 1:
        ap.error("--seconds must be at least 1")
    try:
        classes = build.build()
    except build.BuildError as e:
        raise SystemExit(f"perfbench: build failed: {e}")

    if a.self_test:
        code, out = run_java(java_cmd(classes, "perfbench.SelfTest", []))
        sys.stdout.write(out)
        return code

    runs = os.path.join(build.OUT, "runs")
    code, out = run_java(java_cmd(classes, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", runs]))
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit(f"perfbench: {a.workload} exited with code {code}")
    result = json.loads(lines[-1])
    want = declared_metrics(a.trace)
    if sorted(result["metrics"]) != sorted(want):
        raise SystemExit("perfbench: printed metrics differ from BENCHMARK.json: "
                         f"{sorted(set(result['metrics']) ^ set(want))}")
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
