"""Runs each workload once per seed and reports, for every end-to-end metric,
the median, the quartiles and the spread (quartile distance over median)
next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/results/steadiness.json
    python3 perfbench/steadiness.py --workloads serve --seeds 1-5

Run from the root of a checkout. Runs are sequential.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values, bound):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else None,
            "bound": bound, "values": values}


def main():
    bench = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", help="write the report here as JSON")
    a = ap.parse_args()
    report = {"run_seconds": bench["run_seconds"], "seeds": a.seeds, "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(REPO, "perfbench", "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if proc.returncode != 0:
                raise SystemExit(f"{w} seed {s} exited with code {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            result["wall_s"] = round(time.time() - t0, 1)
            runs.append(result)
            print(f"{w} seed {s}: {result['wall_s']} s, failed {result['failed']}", file=sys.stderr)
        metrics = {m["name"]: summary([r["metrics"][m["name"]]["value"] for r in runs], m["bound"])
                   for m in bench["end_to_end"]}
        report["workloads"][w] = {
            "all_correct": all(r["correct"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs],
            "metrics": metrics,
        }
        for name, m in metrics.items():
            print(f"{w:7s} {name:15s} median {m['median']:12.4f} spread {m['spread']:.4f} "
                  f"bound {m['bound']}", file=sys.stderr)
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
