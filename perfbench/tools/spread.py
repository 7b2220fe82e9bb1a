#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per workload and metric,
the median and the quartile spread (Q3 − Q1) as a share of the median, next to
the metric's bound from BENCHMARK.json. Run from the repository root:

  python3 perfbench/tools/spread.py --workloads places_serving --seeds 1-5
  python3 perfbench/tools/spread.py --seeds 1-10 --log spread.jsonl

Quartiles are Python's statistics.quantiles(values, n=4). A spread above a
third of its bound is marked `wide`, above the bound `OVER`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", help="append every run's result to this JSON-lines file")
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    code = 0
    for w in args.workloads.split(","):
        values, secs = {}, []
        for s in seeds(args.seeds):
            t0 = time.time()
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            cp = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            secs.append(time.time() - t0)
            if cp.returncode != 0:
                print(f"{w} seed {s}: exit {cp.returncode}\n{cp.stderr[-2000:]}")
                code = 1
                continue
            lines = cp.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            info = [json.loads(l.split("run info: ", 1)[1]) for l in lines if "run info: " in l]
            if args.log:
                with open(args.log, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": s, "secs": secs[-1], **res,
                                         "info": info[0] if info else None}) + "\n")
            if not res["correct"]:
                print(f"{w} seed {s}: correct=false, {res['failed']} of {res['attempted']} failed")
                code = 1
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        print(f"== {w}: {len(secs)} runs, {statistics.median(secs):.1f} s median per run")
        for k, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
            spread = (q[2] - q[0]) / med if med else 0.0
            b = bounds.get(k)
            flag = "" if b is None or k == "setup_s" else ("OVER" if spread > b else "wide" if spread > b / 3 else "")
            print(f"  {k:34s} median {med:14.6g}  q1 {q[0]:12.6g}  q3 {q[2]:12.6g}  spread {spread:6.3f}"
                  + (f"  bound {b}" if b is not None else "") + f"  {flag}")
    return code


if __name__ == "__main__":
    sys.exit(main())
