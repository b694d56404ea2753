#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's steadiness.

Usage (from the repository root):
  python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--trace 0]

For every workload and metric: the median of the runs, and the distance
between the first and third quartiles (statistics.quantiles, n=4) as a
share of the median — the spread the benchmark's bounds are judged
against. Also the share of failed operations and each run's wall time.
A summary is written to .perfbench_out/spread-<stamp>.json.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if out.returncode != 0:
                print(f"{w} seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}")
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            res["wall_s"] = wall
            runs.append(res)
            print(f"{w} seed {s}: {wall:.1f} s, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
        if not runs:
            continue
        rows = {}
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else 0.0
            rows[m] = {"median": med, "spread": spread, "values": vals}
            b = bounds.get(m)
            flag = "" if b is None or spread < b / 3 else ("  > bound/3" if spread < b else "  > BOUND")
            print(f"  {m:34s} median {med:14.4f}  spread {spread:7.2%}"
                  f"{'' if b is None else f'  bound {b:.0%}'}{flag}")
        shares = {r["failed"] / r["attempted"] for r in runs}
        print(f"  failed share per run: {sorted(shares)}; wall median "
              f"{statistics.median(r['wall_s'] for r in runs):.1f} s, max "
              f"{max(r['wall_s'] for r in runs):.1f} s")
        summary[w] = {"metrics": rows, "wall_s": [r["wall_s"] for r in runs],
                      "failed_shares": sorted(shares), "correct": all(r["correct"] for r in runs)}
    out = ROOT / ".perfbench_out" / f"spread-{time.strftime('%Y%m%d-%H%M%S')}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(summary, indent=1) + "\n")
    print(f"summary: {out}")


if __name__ == "__main__":
    main()
