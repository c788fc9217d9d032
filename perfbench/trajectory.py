#!/usr/bin/env python3
"""Run the benchmark repeatedly and summarise each end-to-end metric.

    python3 perfbench/trajectory.py --seeds 1-10 --out perfbench/baseline/NAME.json
    python3 perfbench/trajectory.py --workloads ring_vwap --seeds 1-5
    python3 perfbench/trajectory.py --compare A.json B.json

Each (workload, seed) pair is one `run.py` invocation with --trace 0.
The summary gives, per workload and metric, the median, the quartiles
(`statistics.quantiles(values, n=4)`), the spread (interquartile range
over the median) and the metric's bound from BENCHMARK.json, plus every
run's values and interference record. Runs of one workload use the
seeds in order; workloads run one after another.

--compare reads two such summaries (say, a parent commit and a change)
and prints, per workload and metric, the second median relative to the
first, flagging a change for the worse beyond the metric's bound.
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


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def compare(a_path, b_path, spec):
    lower = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    a, b = json.load(open(a_path)), json.load(open(b_path))
    for w, wa in a["workloads"].items():
        wb = b["workloads"].get(w, {"stats": {}})
        for k, sa in wa["stats"].items():
            sb = wb["stats"].get(k)
            if sb is None:
                continue
            rel = sb["median"] / sa["median"] - 1
            worse = rel if lower[k] else -rel
            flag = "WORSE" if worse > sa["bound"] else "ok"
            print(f"{w:<18} {k:<22} {sa['median']:>12.4f} -> {sb['median']:>12.4f} "
                  f"({rel:+.3f}; spreads {sa['spread']:.3f}/{sb['spread']:.3f}; "
                  f"bound {sa['bound']}) {flag}")


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if len(sys.argv) == 4 and sys.argv[1] == "--compare":
        compare(sys.argv[2], sys.argv[3], spec)
        return
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {"run_seconds": a.seconds, "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                print(f"{w} seed {s}: no result (exit {p.returncode})\n{p.stderr[-2000:]}")
                continue
            inter = next((json.loads(l.split("interference:", 1)[1])
                          for l in lines if "interference:" in l), {})
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            runs.append({"seed": s, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "seconds": round(time.time() - t0, 1),
                         "metrics": vals, "interference": inter})
            print(f"{w} seed {s} {time.time() - t0:.0f}s correct={res['correct']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in vals.items())
                  + f" steal/s={inter.get('steal_ticks_per_s', 0):.1f}", flush=True)
        stats = {}
        for k in bounds:
            v = [r["metrics"][k] for r in runs if k in r["metrics"]]
            if len(v) < 2:
                continue
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            stats[k] = {"median": med, "q1": q[0], "q3": q[2],
                        "spread": (q[2] - q[0]) / med, "bound": bounds[k]}
            print(f"  {w} {k}: median {med:.4f} q1 {q[0]:.4f} q3 {q[2]:.4f} "
                  f"spread {(q[2] - q[0]) / med:.4f} (bound {bounds[k]})")
        summary["workloads"][w] = {"stats": stats, "runs": runs}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
