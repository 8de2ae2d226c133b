#!/usr/bin/env python3
"""Summaries over the benchmark's kept results (.bench_build/results).

  python3 perfbench/summarize.py layers
      for every kept traced run: each layer's self time (its spans'
      time minus the part their child spans cover) and its share of the
      blocking path. The loop has one client and the benchmark driver
      runs one operation at a time, so every operation is on the
      blocking path and a layer's share is its self time over the total
      operation time.
  python3 perfbench/summarize.py overhead
      tracing overhead: per workload, the median traced minus the median
      untraced time of each operation and of the pass, over all kept
      runs.
  python3 perfbench/summarize.py repeat WORKLOAD SEED [SECONDS]
      runs the traced benchmark twice with one seed and checks that the
      engine work counters jobs, tasks and shuffle_records repeat exactly
      for every operation.
"""
import collections
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".bench_build", "results")
EXACT = ["jobs", "tasks", "shuffle_records"]


def load(path):
    with open(path) as f:
        return json.load(f)


def self_times(spans):
    """Span id -> duration minus the time its direct children cover."""
    child = collections.defaultdict(float)
    for s in spans:
        if s["parent"]:
            child[s["parent"]] += s["dur_s"]
    return {s["id"]: s["dur_s"] - child[s["id"]] for s in spans}


def layers():
    for path in sorted(glob.glob(os.path.join(RESULTS, "spans-*-trace1.jsonl")),
                       key=os.path.getmtime):
        spans = [json.loads(l) for l in open(path)]
        selfs = self_times(spans)
        per = collections.defaultdict(float)
        for s in spans:
            layer = s["name"].split(".")[0]
            if layer == "op":
                layer = "op (glue between layer calls)"
            per[layer] += selfs[s["id"]]
        total = sum(s["dur_s"] for s in spans if s["parent"] == 0)
        name = os.path.basename(path)[len("spans-"):-len(".jsonl")]
        print(f"== {name}: {total:.2f} s of operations")
        for layer, t in sorted(per.items(), key=lambda kv: -kv[1]):
            print(f"   {layer:34s} self {t:8.3f} s  {100 * t / total:5.1f}% of blocking path")


def op_times(paths):
    """Operation -> every measured (pass >= 1) time over the given runs,
    plus "pass" -> each run's pass total."""
    by = collections.defaultdict(list)
    for path in paths:
        ops = [o for o in load(path)["ops"] if o["ok"] and o["pass"] > 0]
        for o in ops:
            by[o["op"]].append(o["s"])
        by["pass"].append(sum(o["s"] for o in ops))
    return by


def overhead():
    for wl in sorted({os.path.basename(p).split("-seed")[0]
                      for p in glob.glob(os.path.join(RESULTS, "*-trace1.json"))}):
        runs = [sorted(glob.glob(os.path.join(RESULTS, f"{wl}-seed*-trace{t}.json")))
                for t in (0, 1)]
        if not all(runs):
            continue
        a, b = op_times(runs[0]), op_times(runs[1])
        print(f"== {wl}: {len(runs[0])} untraced and {len(runs[1])} traced runs")
        for op in sorted(set(a) & set(b)):
            ma, mb = statistics.median(a[op]), statistics.median(b[op])
            print(f"   {op:14s} untraced {ma:.3f} s  traced {mb:.3f} s  "
                  f"overhead {mb - ma:+.3f} s ({100 * (mb - ma) / ma:+.1f}%)")


def repeat(workload, seed, seconds="5"):
    runs = []
    for _ in range(2):
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", seed,
                        "--seconds", seconds, "--trace", "1"],
                       check=True, stdout=subprocess.DEVNULL)
        res = load(os.path.join(RESULTS, f"{workload}-seed{seed}-trace1.json"))
        runs.append([(o["op"], o["label"], {c: o["counters"][c] for c in EXACT})
                     for o in res["ops"]])
    ok = len(runs[0]) == len(runs[1])
    for (op, label, c0), (_, _, c1) in zip(*runs):
        same = c0 == c1
        ok &= same
        print(f"{'SAME' if same else 'DIFF'} {op}({label}): {c0}"
              + ("" if same else f" vs {c1}"))
    print("exact repeat:", "PASS" if ok else "FAIL")
    return ok


if __name__ == "__main__":
    cmd = sys.argv[1:2]
    if cmd == ["layers"]:
        layers()
    elif cmd == ["overhead"]:
        overhead()
    elif cmd == ["repeat"] and len(sys.argv) >= 4:
        sys.exit(0 if repeat(*sys.argv[2:5]) else 1)
    else:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
