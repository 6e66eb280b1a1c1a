#!/usr/bin/env python3
"""Run a set of seeds twice on one build and report, per workload and
end-to-end metric, both sets' medians and quartile spreads.

    python3 perfbench/steadiness.py --seeds 1-10
    python3 perfbench/steadiness.py --seeds 1-5 --sets 1 --workloads corpus_build

The spread is (Q3 - Q1) / median with the quartiles of
statistics.quantiles(values, n=4). A metric is flagged when a set's spread
exceeds 0.10 of its median (setup_s excepted: its run-to-run spread is not
bounded, only its median), or when the second set's median is worse than the
first's by more than the metric's bound in BENCHMARK.json. cpu_ms_per_row's
spread is printed beside rows_per_s's so the two can be compared directly.
Each run's line gives its wall time, for the time budget. --out writes every
run's metrics as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FLAG = 0.10


def seeds_arg(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        raise RuntimeError(f"{workload} seed {seed}: {result['failed']} failed ops")
    return {k: v["value"] for k, v in result["metrics"].items()}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()
    metrics = spec["end_to_end"]
    workloads = a.workloads.split(",")

    runs = {}  # (set, workload) -> [metrics per seed]
    for s in range(a.sets):
        for w in workloads:
            for seed in a.seeds:
                t0 = time.monotonic()
                m = run_once(w, seed, a.seconds)
                runs.setdefault((s, w), []).append(m)
                print(f"set {s + 1} {w} seed {seed} ({time.monotonic() - t0:.0f} s): " +
                      " ".join(f"{k}={v:.4g}" for k, v in m.items()), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({f"{s + 1}/{w}": v for (s, w), v in runs.items()}, f, indent=1)

    flagged = 0
    for w in workloads:
        print(f"\n{w} ({len(a.seeds)} seeds x {a.sets} sets)")
        print(f"  {'metric':<16}" + "".join(
            f"{'median' + str(s + 1):>12}{'spread' + str(s + 1):>9}" for s in range(a.sets))
            + f"{'drift':>8}  flags")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            meds, sps = [], []
            for s in range(a.sets):
                vals = [r[name] for r in runs[(s, w)]]
                meds.append(statistics.median(vals))
                sps.append(spread(vals) if len(vals) >= 2 else float("nan"))
            flags = []
            if name != "setup_s" and any(x > FLAG for x in sps):
                flags.append(f"spread>{FLAG}")
            drift = 0.0
            if a.sets >= 2 and meds[0]:
                drift = (meds[1] - meds[0]) / meds[0]
                worse = drift if m["better"] == "lower" else -drift
                if worse > bound:
                    flags.append(f"median moved {worse:+.3f} > bound {bound}")
            flagged += bool(flags)
            print(f"  {name:<16}" + "".join(f"{md:>12.4g}{sp:>9.3f}" for md, sp in zip(meds, sps))
                  + f"{drift:>+8.3f}  {' '.join(flags)}")
        for s in range(a.sets):
            rs = spread([r["rows_per_s"] for r in runs[(s, w)]])
            cs = spread([r["cpu_ms_per_row"] for r in runs[(s, w)]])
            print(f"  set {s + 1}: spread rows_per_s {rs:.3f} vs cpu_ms_per_row {cs:.3f}")
    print(f"\n{flagged} metric(s) flagged")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
