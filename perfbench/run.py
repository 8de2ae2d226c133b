#!/usr/bin/env python3
"""The engine's benchmark: one seeded workload per invocation, a closed
loop with one client for --seconds, every output checked.

  python3 perfbench/run.py --workload fs_scan|corpus \
      --seed N --seconds S --trace 0|1

Builds the engine and the benchmark driver from source on first use
(sbt, offline; outputs under perfbench/target and .bench_build/), makes
the workload's inputs from the seed, runs the driver JVM and prints
every metric with its unit, then one JSON object as the last stdout
line. --trace 0 reports the end-to-end metrics; --trace 1 is a separate
run that records spans, engine counters and GC time and reports the
per-layer metrics. Results and spans are kept under .bench_build/results
for perfbench/summarize.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the checkout but .bench_build
import gen  # noqa: E402

DEADLINE_S = 170          # a run ends well inside 180 s after any build
FIRST_BUILD_S = 700       # the first run in a checkout builds first
HEAP = "2g"
WORKLOADS = ["fs_scan", "corpus"]
OPS = ["analyze", "rescan", "stats_incr", "stats_compute", "find", "report",
       "stats_view", "pipeline", "query"]
SPARK_COUNTERS = ["jobs", "tasks", "shuffle_write_bytes", "shuffle_records",
                  "spill_bytes", "executor_run_s", "scheduler_delay_s"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build", "stamp")
    cp_file = os.path.join(BUILD, "build", "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's lock, JNA and perf-data files out of the home and /tmp dirs
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    log = os.path.join(BUILD, "build", "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=FIRST_BUILD_S)
    lines = open(log).read().splitlines()
    if p.returncode != 0 or not lines:
        die(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


# ----------------------------------------------------------------- checks

def oracle_check(out, input_dir):
    """Canon query answers vs DuckDB over the same tables, hash-strict
    like tools/compare.py: columns sorted by name, rows sorted, cells
    compared by their string rendering. Returns {query: (ok, rows)}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ["orders", "lineitem", "documents"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}')")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    verdict = {}
    for name, sql in sorted(out.get("oracle_sql", {}).items()):
        dump = os.path.join(out["oracle_dir"], name)
        if not os.path.exists(dump):  # the query failed before its dump
            verdict[name] = (False, -1)
            continue
        got = norm(pd.read_parquet(dump))
        want = norm(con.execute(sql).df())
        ok = (list(got.columns) == list(want.columns) and len(got) == len(want)
              and all(str(a) == str(b) for c in got.columns
                      for a, b in zip(got[c], want[c])))
        if not ok:
            print(f"perfbench: oracle mismatch for {name}", file=sys.stderr)
        verdict[name] = (ok, len(got))
    return verdict


def apply_python_checks(workload, out, input_dir):
    """Checks that need DuckDB run here; a failed one fails the ops."""
    if workload != "corpus":
        return True
    verdict = oracle_check(out, input_dir)
    rows_by_op = {n["op"]: n["value"] for n in out["notes"]
                  if n["name"].endswith(".rows")}
    ok_all = len(verdict) == len(CANON)
    for op in out["ops"]:
        if op["op"] != "query":
            continue
        ok, rows = verdict.get(op["label"], (False, -1))
        if not ok or rows_by_op.get(op["id"]) != rows:
            op["ok"] = False
            op["errors"].append(f"oracle ok={ok} rows={rows_by_op.get(op['id'])}/{rows}")
            ok_all = False
    return ok_all


# ---------------------------------------------------------------- metrics

def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def high_percentile(n):
    """The highest of p50..p99 with at least ten samples beyond it."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def pctl(xs, p):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(len(xs) * p / 100))]


def end_to_end(out):
    """Set-up ops (pass 0) count in setup_s, not in the pass metrics."""
    measured = [o for o in out["ops"] if o["pass"] > 0]
    passes = {}
    for o in measured:
        passes.setdefault(o["pass"], []).append(o)
    pass_s = [sum(o["s"] for o in ops) for ops in passes.values()
              if all(o["ok"] for o in ops)]
    pass_cpu = [sum(o["cpu_s"] for o in ops) for ops in passes.values()
                if all(o["ok"] for o in ops)]
    return {
        "setup_s": (med(out["setup_s"]), "s"),
        "pass_s": (med(pass_s), "s"),
        "pass_cpu_s": (med(pass_cpu), "s"),
        "rss_peak_mb": (out["rss_peak_mb"], "MB"),
    }


PER_LAYER_SPANS = {
    "ingest.walk_s": "ingest.walk", "ingest.snapshot_write_s":
    "ingest.snapshot_write", "ingest.rescan_s": "ingest.rescan",
    "stats.compute_s": "stats.compute", "stats.artifact_write_s":
    "stats.artifact_write", "stats.render_s": "stats.render",
    "stats.incr_s": "stats.incr", "expr.compile_s": "expr.compile",
    "reports.artifact_read_s": "reports.artifact_read",
    "reports.tree_s": "reports.tree",
}
PER_LAYER_NOTES = {
    "ingest.snapshot_bytes_per_entry": "B/entry",
    "ingest.dirs_reused_frac": "ratio", "ingest.files_reused_frac": "ratio",
    "stats.changed_prefixes": "count", "pipeline.quality_s": "s",
    "pipeline.span_dedup_s": "s", "pipeline.mixture_s": "s",
    "pipeline.export_s": "s", "pipeline.keep_frac": "ratio",
}
COUNTER_UNITS = {"jobs": "count", "tasks": "count", "shuffle_write_bytes": "B",
                 "shuffle_records": "count", "spill_bytes": "B",
                 "executor_run_s": "s", "scheduler_delay_s": "s"}
CANON = ["q_hits", "q_triangles", "q_pagerank", "q_link_predict",
         "q_near_dup_prefix", "q_tfidf", "q_bm25", "q_dimsum", "q_profile",
         "q_agg_totals"]


def per_layer_spec():
    """(name, unit, better) of every per-layer metric, in report order."""
    spec = [(n, "s", "lower") for n in PER_LAYER_SPANS]
    spec += [("ingest.walk_task_skew", "ratio", "lower"),
             ("stats.snapshot_passes", "ratio", "lower")]
    spec += [(n, u, "higher" if n.endswith("frac") else "lower")
             for n, u in PER_LAYER_NOTES.items()]
    for q in CANON:
        spec += [(f"query.{q}_s", "s", "lower"),
                 (f"query.{q}.jobs", "count", "lower")]
    for op in OPS:
        spec.append((f"op.{op}_s", "s", "lower"))
        spec += [(f"{op}.spark.{c}", COUNTER_UNITS[c], "lower")
                 for c in SPARK_COUNTERS]
        spec.append((f"{op}.gc_s", "s", "lower"))
    spec.append(("op.analyze_entries_per_s", "1/s", "higher"))
    return spec


def per_layer(out):
    ok_ops = {o["id"]: o for o in out["ops"] if o["ok"]}
    spans = [s for s in out["spans"] if s["op"] in ok_ops]
    notes = [n for n in out["notes"] if n["op"] in ok_ops]

    def span_med(name):
        return med([s["dur_s"] for s in spans if s["name"] == name])

    m = {n: span_med(sp) for n, sp in PER_LAYER_SPANS.items()}
    for n in PER_LAYER_NOTES:
        m[n] = med([x["value"] for x in notes if x["name"] == n])
    skews = []
    for s in spans:
        if s["name"] != "ingest.walk":
            continue
        lo, hi = s["start_ms"], s["start_ms"] + s["dur_s"] * 1000
        runs = [r for launch, r in ok_ops[s["op"]]["counters"]["task_log"]
                if lo <= launch <= hi]
        if runs and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    m["ingest.walk_task_skew"] = med(skews)
    entries = {x["op"]: x["value"] for x in notes
               if x["name"] == "op.analyze_entries"}
    snap = med([x["value"] * entries[x["op"]] for x in notes
                if x["name"] == "ingest.snapshot_bytes_per_entry"])
    m["stats.snapshot_passes"] = med(
        [o["counters"]["input_bytes"] / snap for o in ok_ops.values()
         if o["op"] == "stats_compute"]) if snap else 0.0
    for q in CANON:
        m[f"query.{q}_s"] = span_med(f"queries.{q}")
        m[f"query.{q}.jobs"] = med([o["counters"]["jobs"]
                                    for o in ok_ops.values()
                                    if o["op"] == "query" and o["label"] == q])
    for op in OPS:
        mine = [o for o in ok_ops.values() if o["op"] == op]
        m[f"op.{op}_s"] = med([o["s"] for o in mine])
        for c in SPARK_COUNTERS:
            m[f"{op}.spark.{c}"] = med([o["counters"][c] for o in mine])
        m[f"{op}.gc_s"] = med([o["gc_s"] for o in mine])
    m["op.analyze_entries_per_s"] = (med(entries.values()) / m["op.analyze_s"]
                                     if m["op.analyze_s"] else 0.0)
    return {n: (m[n], u) for n, u, _ in per_layer_spec()}


def print_report(workload, out, metrics, correct):
    """Human-readable lines: per-operation latency (median and the
    highest percentile with ten samples beyond it), every metric with
    its unit, and the correctness verdict."""
    n_passes = len({o["pass"] for o in out["ops"]}) - 1
    print(f"== {workload}: {len(out['ops'])} ops, {n_passes} measured "
          f"passes, window {out['window_s']:.1f} s, cores {out['cores']}, "
          f"heap {out['heap_max_mb']:.0f} MB")
    for op in OPS:
        ts = [o["s"] for o in out["ops"] if o["op"] == op and o["ok"]]
        if not ts:
            continue
        p = high_percentile(len(ts))
        hi = f"p{p} {pctl(ts, p):.4f} s" if p else "no percentile above the median has 10 samples beyond it"
        print(f"   {op}_s: median {statistics.median(ts):.4f} s, n={len(ts)}, {hi}")
    attempted = len(out["ops"])
    failed = sum(not o["ok"] for o in out["ops"])
    print(f"   failed_ops_frac: {failed / attempted:.4f} ({failed}/{attempted})")
    for name, (v, unit) in metrics.items():
        print(f"   {name}: {v:.6g} {unit}")
    print(f"   correct: {correct}")


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "cli", "Main.scala")):
        die("engine sources (src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        die("SPARK_HOME must point at a Spark distribution (its jars/ dir)")
    classpath = build()
    t_start = time.time()  # the deadline counts from here: a build may take longer

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "input")
    os.makedirs(inputs)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t_gen = time.time()
        gen.BUILDERS[a.workload](a.seed, inputs)
        t_gen = time.time() - t_gen
        cores = len(os.sched_getaffinity(0))
        out_file = os.path.join(work, "result.json")
        log = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graft.cli.perfbench.Driver",
                  "--workload", a.workload, "--input", inputs, "--work", work,
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--cores", str(cores), "--out", out_file])
        budget = DEADLINE_S - (time.time() - t_start)
        t_jvm = time.time()
        with open(log, "w") as lf:
            p = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=max(10, budget))
        if p.returncode != 0 or not os.path.exists(out_file):
            die(f"driver failed with exit code {p.returncode} (see {log})", 1)
        out = json.load(open(out_file))
        out["jvm_wall_s"] = time.time() - t_jvm
        oracle_ok = apply_python_checks(a.workload, out, inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(out["ops"])
    failed = sum(not o["ok"] for o in out["ops"])
    correct = failed == 0 and oracle_ok
    metrics = per_layer(out) if a.trace else end_to_end(out)
    print_report(a.workload, out, metrics, correct)
    print(f"   run wall {time.time() - t_start:.1f} s: inputs {t_gen:.1f} s, "
          f"driver {out['jvm_wall_s']:.1f} s (set-up phase "
          f"{out['setup_phase_s']:.1f} s, window {out['window_s']:.1f} s)")

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump({"args": vars(a), "metrics": metrics, "correct": correct,
                   "ops": [{k: v for k, v in o.items() if k != "counters"} |
                           {"counters": {c: v for c, v in o.get("counters", {}).items()
                                         if c != "task_log"}}
                           for o in out["ops"]],
                   "setup_s": out["setup_s"]}, f)
    if a.trace:
        with open(os.path.join(results, f"spans-{tag}.jsonl"), "w") as f:
            for s in out["spans"]:
                f.write(json.dumps(s) + "\n")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {n: {"value": v, "unit": u}
                                  for n, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
