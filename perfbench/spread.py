#!/usr/bin/env python3
"""Runs the benchmark once per seed on each named workload and reports,
for every metric, the median and the quartile spread
(Q3 - Q1) / median over the runs, with Python's statistics.quantiles.

Usage (from the repository root):
  python3 perfbench/spread.py --workloads chain-threads,resume-threads \
      --seeds 1-10 [--seconds 10] [--trace 0] [--out FILE]

Runs are made one at a time, interleaved: every workload's run on one
seed, then the next seed. With --out, every run's result and the
summary are written to FILE as JSON; each run's record keeps its timing
lines from stderr (set-up, warm-up and every timed operation).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    elapsed = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    # the run's own timing lines: set-up rounds, warm-up and every timed
    # operation's wall time, CPU time and host steal share
    log = [l for l in p.stderr.splitlines()
           if l.startswith(("[perfbench] setup:", "[perfbench] ops",
                            "[perfbench] plain", "[perfbench] FAIL"))]
    return {"workload": workload, "seed": seed, "rc": p.returncode,
            "elapsed_s": round(elapsed, 1), "log": log, "result": result}


def summarize(runs):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        rs = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        metrics = {}
        for name in sorted(rs[0]["metrics"]) if rs else []:
            vals = [r["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
            metrics[name] = {
                "median": med, "q1": q[0], "q3": q[2],
                "spread": (q[2] - q[0]) / med if med else 0.0,
                "unit": rs[0]["metrics"][name]["unit"], "n": len(vals)}
        out[w] = {"runs": len(rs),
                  "failed_runs": sum(1 for r in runs
                                     if r["workload"] == w and not r["result"]),
                  "metrics": metrics}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    # interleaved, seed-major, so a slow or fast stretch of the host falls
    # on every workload alike instead of on one workload's seeds
    for s in seeds(a.seeds):
        for w in a.workloads.split(","):
            r = one_run(w, s, a.seconds, a.trace)
            runs.append(r)
            m = r["result"]["metrics"] if r["result"] else {}
            brief = ", ".join(f"{k}={v['value']:.4g}" for k, v in sorted(m.items())
                              if k in ("turns_per_s", "wall_s", "setup_s"))
            print(f"{w} seed={s} rc={r['rc']} {r['elapsed_s']}s {brief}",
                  file=sys.stderr, flush=True)
    summary = summarize(runs)
    for w, s in summary.items():
        print(f"{w}: {s['runs']} runs, {s['failed_runs']} failed")
        for name, m in s["metrics"].items():
            print(f"  {name:40s} median {m['median']:.6g} {m['unit']:8s} "
                  f"spread {m['spread']:.4f}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"runs": runs, "summary": summary}, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
