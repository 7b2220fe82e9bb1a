#!/usr/bin/env python3
"""Trace post-processor: reads a span file written by a traced benchmark run
(`run.py --trace 1`, file `<work>/trace/<workload>-seed<n>.jsonl`) and prints
the self time per layer, the counts, and the tracing overhead.

  python3 perfbench/tools/trace_report.py .bench_build/trace/places_serving-seed1.jsonl

A span's self time is its duration minus the part of it that its children
cover. Spans nest op → phase (build/plan/execute, addData/process, cleanup)
→ listener job → stage.
"""
import json
import sys
from collections import defaultdict


def load(path):
    spans, summary = [], None
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec.get("kind") == "summary":
                summary = rec
            else:
                spans.append(rec)
    return spans, summary


def covered(start, end, intervals):
    """Length of [start, end) covered by the union of the intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time in µs}."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start_us"], s["end_us"]))
    return {s["id"]: max(0, (s["end_us"] - s["start_us"])
                         - covered(s["start_us"], s["end_us"], children[s["id"]]))
            for s in spans}


def summarize(spans):
    own = self_times(spans)
    ops = [s for s in spans if s["layer"] == "op"]
    by_layer = defaultdict(lambda: [0, 0])
    for s in spans:
        key = (s["layer"], s["name"] if s["layer"] != "op" else "(op)")
        by_layer[key][0] += own[s["id"]]
        by_layer[key][1] += 1
    return ops, by_layer


def report(path, out=sys.stdout):
    spans, summary = load(path)
    ops, by_layer = summarize(spans)
    n = max(1, len(ops))
    print(f"trace {path}: {len(ops)} traced ops", file=out)
    print(f"  {'layer':10s} {'span':12s} {'self ms/op':>12s} {'spans':>8s}", file=out)
    for (layer, name), (us, cnt) in sorted(by_layer.items(), key=lambda kv: -kv[1][0]):
        print(f"  {layer:10s} {name:12s} {us / 1000.0 / n:12.3f} {cnt:8d}", file=out)
    stages = [s for s in spans if s["layer"] == "executor"]
    print(f"  counts: ops={len(ops)} failed={sum(1 for s in ops if not s.get('ok', True))} "
          f"jobs={sum(1 for s in spans if s['layer'] == 'scheduler')} stages={len(stages)} "
          f"tasks={sum(s.get('tasks', 0) for s in stages)}", file=out)
    if summary:
        m = summary["metrics"]
        ov = m.get("trace.overhead_share", {}).get("value", 0.0)
        print(f"  tracing overhead vs untraced rounds of the same run: {ov * 100:+.1f}% "
              f"({int(m.get('trace.rounds', {}).get('value', 0))} traced, "
              f"{int(m.get('trace.untraced_rounds', {}).get('value', 0))} untraced rounds)", file=out)


def selftest():
    """Checks self time on a hand-built tree; returns 0 when it holds."""
    spans = [
        {"id": "o1", "parent": None, "layer": "op", "name": "q", "start_us": 0, "end_us": 100},
        {"id": "o1.build", "parent": "o1", "layer": "catalog", "name": "build", "start_us": 0, "end_us": 30},
        {"id": "o1.execute", "parent": "o1", "layer": "driver", "name": "execute", "start_us": 40, "end_us": 100},
        {"id": "j1", "parent": "o1.execute", "layer": "scheduler", "name": "job", "start_us": 50, "end_us": 80},
        {"id": "j2", "parent": "o1.execute", "layer": "scheduler", "name": "job", "start_us": 70, "end_us": 90},
        {"id": "s1", "parent": "j1", "layer": "executor", "name": "stage", "start_us": 55, "end_us": 60},
    ]
    got = self_times(spans)
    want = {"o1": 10, "o1.build": 30, "o1.execute": 20, "j1": 25, "j2": 20, "s1": 5}
    ok = got == want and covered(0, 10, [(-5, 3), (2, 4), (8, 20)]) == 6
    print(f"trace_report self-test: {'ok' if ok else f'FAILED {got}'}")
    return 0 if ok else 1


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    report(sys.argv[1])
