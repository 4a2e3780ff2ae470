#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one command.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0

Builds the program from source (perfbench/build.py), generates the
seed's inputs (perfbench/gen.py), runs the workload in one JVM on
local[nproc] (perfbench/src), checks every output (the batch warm-up
pass against the DuckDB oracle, the stream replay against each
pipeline's batch reference) and prints every metric with its unit and
sample count, then the correctness verdict. The last line of stdout is
one JSON object: end-to-end metrics with --trace 0, per-layer metrics
(from separate traced runs of the same queries, with the tracing
overhead) with
--trace 1. Workloads, query lists and the stream rate are in
perfbench/workloads.json; the query->layer table comes from
perfbench/layers.py and is printed with every batch run.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import layers as layer_table  # noqa: E402
import oracle  # noqa: E402

LAYERS = ["operators", "text", "dedup", "similarity", "graph", "ranking",
          "pipeline", "multimodal"]
LAYER_METRICS = [("build_s", "s"), ("exec_s", "s"), ("task_busy_s", "s"),
                 ("core_idle_s", "s"), ("fetch_wait_s", "s"), ("shuffle_mb", "MB"),
                 ("spill_mb", "MB"), ("peak_task_mem_mb", "MB"), ("tasks", "count"),
                 ("stages", "count"), ("failed_tasks", "count")]
OTHER_METRICS = [
    ("sources.scan_s", "s"), ("sources.input_mb", "MB"),
    ("spark.gc_s", "s"), ("spark.jobs", "count"), ("spark.codegen_ms", "ms"),
    ("spark.task_retry_ratio", "ratio"), ("spark.cached_mb", "MB"),
    ("spark.broadcast_mb", "MB"),
    ("streaming.add_batch_ms", "ms"), ("streaming.plan_ms", "ms"),
    ("streaming.source_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
    ("streaming.state_commit_ms", "ms"), ("streaming.state_rows_updated", "count"),
    ("streaming.late_drop_ratio", "ratio"), ("streaming.backlog_rows", "rows"),
    ("streaming.batches", "count"), ("trace.overhead_ratio", "ratio")]
PER_LAYER = [(f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_METRICS] + OTHER_METRICS
# the metrics BENCHMARK.json bounds; query_p50_ms and failed_frac are
# printed too. query_p50_ms is not bounded: on batch it is the latency of
# sub-second queries, which moves by 30% between runs with the load of
# the machine, more than the largest bound BENCHMARK.json allows
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_tail_ms", "ms"),
              ("heap_after_gc_mb", "MB")]
MB = 1048576.0
DRIVER_HEAP = "2g"
# stream pipelines charged to the dedup layer: both drop duplicates
# under a watermark, near_dup_signal after per-row minhash/LSH banding
DEDUP_PIPELINES = ("stream_dedup", "near_dup_signal")


def p90(samples):
    """(value, samples beyond it): the nearest-rank 90th percentile."""
    s = sorted(samples)
    k = math.ceil(0.9 * len(s))
    return s[k - 1], len(s) - k


def jvm_cmd(classes, run_dir, heap):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", f"{classes}:{build.spark_jars()}", "perfbench.Main"])


def run_jvm(cmd, run_dir):
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=fh, stderr=fh, timeout=160)
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: workload timed out, see " + log)
    if r.returncode != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        sys.exit(f"perfbench: JVM exited with {r.returncode}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def say(name, value, unit, note=""):
    print(f"  {name:<28} {value:>14.4f} {unit:<6} {note}")


def self_times(path):
    """Self time per span kind: duration minus the part its children cover."""
    spans = [json.loads(l) for l in open(path)]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []) if c["id"] != s["id"])
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        k = out.setdefault(s["kind"], [0, 0.0, 0.0])
        k[0] += 1
        k[1] += s["end"] - s["start"]
        k[2] += s["end"] - s["start"] - covered
    return out


def median_runs(runs):
    """query -> its execution with the median time (the lower middle
    one), in the order the queries first ran."""
    by = {}
    for q in runs:
        by.setdefault(q["query"], []).append(q)
    return {k: sorted(v, key=lambda q: q["ms"])[(len(v) - 1) // 2] for k, v in by.items()}


def batch_layers(traced, layers, cores):
    """Per-layer sums over the layer's queries, each query's counters
    taken from its median traced execution."""
    m = {k: 0.0 for k, _ in PER_LAYER}
    tasks = retried = 0
    for q in median_runs(traced["runs"]).values():
        L = layers[q["query"].split("@")[0]]
        b, e = q["build"], q["exec"]
        m[f"{L}.build_s"] += q["build_s"]
        m[f"{L}.exec_s"] += q["exec_s"]
        m[f"{L}.task_busy_s"] += (b["busy_ms"] + e["busy_ms"]) / 1000
        m[f"{L}.core_idle_s"] += q["exec_s"] * cores - e["busy_ms"] / 1000
        m[f"{L}.fetch_wait_s"] += (b["fetch_wait_ms"] + e["fetch_wait_ms"]) / 1000
        m[f"{L}.shuffle_mb"] += (b["shuffle_bytes"] + e["shuffle_bytes"]) / MB
        m[f"{L}.spill_mb"] += (b["spill_bytes"] + e["spill_bytes"]) / MB
        m[f"{L}.peak_task_mem_mb"] = max(m[f"{L}.peak_task_mem_mb"],
                                         max(b["peak_task_mem"], e["peak_task_mem"]) / MB)
        for k in ("tasks", "stages", "failed_tasks"):
            m[f"{L}.{k}"] += b[k] + e[k]
        m["spark.gc_s"] += q["gc_ms"] / 1000
        m["spark.jobs"] += b["jobs"] + e["jobs"]
        m["spark.codegen_ms"] += q["codegen_ms"]
        m["spark.cached_mb"] = max(m["spark.cached_mb"], q["cached_bytes"] / MB)
        m["spark.broadcast_mb"] += (b["broadcast_bytes"] + e["broadcast_bytes"]) / MB
        tasks += b["tasks"] + e["tasks"]
        retried += b["retried_tasks"] + e["retried_tasks"]
    m["spark.task_retry_ratio"] = retried / tasks if tasks else 0.0
    m["sources.scan_s"] = sum(s["ms"] for s in traced["scan_spans"]) / 1000
    m["sources.input_mb"] = sum(
        os.path.getsize(os.path.join(s["dir"], f"{s['table']}.parquet"))
        for s in traced["scans"]) / MB
    return m


def batch_pass(runs):
    """(pass_s, per-query median ms, rounds): one pass over the
    workload's queries at each query's median latency."""
    by = {}
    for q in runs:
        by.setdefault(q["query"], []).append(q["ms"])
    med = {k: statistics.median(v) for k, v in by.items()}
    rounds = len({q["round"] for q in runs if q["round"] != "gate"})
    return sum(med.values()) / 1000, med, rounds


def stream_layers(traced, cores):
    """streaming.* from the traced queries' progress (means per batch
    with input, state at its largest); dedup.* sums stream_dedup and
    near_dup_signal over the traced phases: build_s is their planning
    time, exec_s their batch time, the rest their task counters."""
    out = {k: 0.0 for k, _ in PER_LAYER}
    prog = [p for p in traced["progress"] if p["rows"] > 0]
    n = max(1, len(prog))
    dd = [p for p in prog if p["name"].startswith(DEDUP_PIPELINES)]
    out["dedup.build_s"] = sum(p["duration_ms"].get("queryPlanning", 0) for p in dd) / 1000
    out["dedup.exec_s"] = sum(p["duration_ms"].get("triggerExecution", 0) for p in dd) / 1000
    st = [t for t in traced["tasks"] if t["pipeline"] in DEDUP_PIPELINES]
    out["dedup.task_busy_s"] = sum(t["busy_ms"] for t in st) / 1000
    out["dedup.core_idle_s"] = out["dedup.exec_s"] * cores - out["dedup.task_busy_s"]
    out["dedup.fetch_wait_s"] = sum(t["fetch_wait_ms"] for t in st) / 1000
    out["dedup.shuffle_mb"] = sum(t["shuffle_bytes"] for t in st) / MB
    out["dedup.spill_mb"] = sum(t["spill_bytes"] for t in st) / MB
    out["dedup.peak_task_mem_mb"] = max((t["peak_task_mem"] for t in st), default=0) / MB
    for k in ("tasks", "stages", "failed_tasks"):
        out[f"dedup.{k}"] = sum(t[k] for t in st)

    def dur(*keys):
        return sum(p["duration_ms"].get(k, 0) for p in prog for k in keys) / n
    out["streaming.add_batch_ms"] = dur("addBatch")
    out["streaming.plan_ms"] = dur("queryPlanning")
    out["streaming.source_ms"] = dur("getBatch", "latestOffset")
    out["streaming.wal_commit_ms"] = dur("walCommit", "commitOffsets")
    out["streaming.state_rows"] = max((sum(s["rows"] for s in p["state"]) for p in prog), default=0)
    out["streaming.state_mb"] = max((sum(s["bytes"] for s in p["state"]) for p in prog), default=0) / MB
    out["streaming.state_commit_ms"] = sum(s["commit_ms"] for p in prog for s in p["state"]) / n
    out["streaming.state_rows_updated"] = sum(s["updated"] for p in prog for s in p["state"])
    rows = sum(p["rows"] for p in prog)
    out["streaming.late_drop_ratio"] = (
        sum(s["dropped_late"] for p in prog for s in p["state"]) / rows if rows else 0.0)
    out["streaming.backlog_rows"] = statistics.mean(traced["backlog_rows"] or [0])
    out["streaming.batches"] = len(prog)
    tasks = sum(t["tasks"] for t in traced["tasks"])
    out["spark.jobs"] = sum(t["jobs"] for t in traced["tasks"])
    out["spark.task_retry_ratio"] = (
        sum(t["retried_tasks"] for t in traced["tasks"]) / tasks if tasks else 0.0)
    return out


def main():
    # on SIGTERM, exit through subprocess.run, which kills and reaps the
    # compiler or JVM it is waiting for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if a.workload not in spec["workloads"]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    w = spec["workloads"][a.workload]

    t_start = time.monotonic()
    classes = build.build()
    inputs = os.path.join(build.BUILD, "inputs", f"seed-{a.seed}")
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = [f"out={run_dir}", f"seconds={a.seconds}", f"trace={a.trace}",
            f"cores={cores}"]
    if w["kind"] == "batch":
        dirs = {"batch": gen.generate(a.seed, inputs, "batch")}
        if any(q.endswith("@gate") for q in w["queries"]):
            dirs["gate"] = gen.generate(a.seed, inputs, "gate")
        queries = {q: dirs[q.split("@")[1] if "@" in q else "batch"] for q in w["queries"]}
        layer_table_for = layer_table.attribute({q.split("@")[0] for q in queries})
        args += ["kind=batch", "dirs=" + ";".join(f"{k}={v}" for k, v in dirs.items()),
                 "queries=" + ",".join(w["queries"])]
    else:
        args += ["kind=stream", f"seed={a.seed}", f"rate={w['rate_rows_per_s']}"]
    t_jvm = time.monotonic()
    r = run_jvm(jvm_cmd(classes, run_dir, DRIVER_HEAP) + args, run_dir)
    t_jvm_end = time.monotonic()

    print(f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} cores={cores}")
    heap = r["heap_after_gc_mb"]
    metrics = {"setup_s": r["setup_s"], "heap_after_gc_mb": max(heap)}
    notes = {"setup_s": "", "heap_after_gc_mb": f"(max of {len(heap)} samples)"}
    if w["kind"] == "batch":
        with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
            sqls = json.load(fh)
        verdict = oracle.check(queries, sqls, os.path.join(run_dir, "check"))
        bad = {k: why for k, why in verdict.items() if why}
        bad.update(r["warm_errors"])
        for q in r["runs"]:
            if q["error"]:
                bad.setdefault(q["query"], q["error"])
        attempted = len(queries)
        metrics["pass_s"], med, rounds = batch_pass(r["runs"])
        notes["pass_s"] = (f"(sum of {attempted} per-query medians; batch-scale queries "
                           f"over {rounds} rounds, above-gate ones once)")
        metrics["query_p50_ms"] = statistics.median(med.values())
        notes["query_p50_ms"] = f"(p50 of {attempted} per-query medians)"
        slowest = max(med, key=med.get)
        metrics["query_tail_ms"] = med[slowest]
        notes["query_tail_ms"] = f"(p100 of {attempted} per-query medians: {slowest})"
        print("query -> layer: " + ", ".join(f"{q}={layer_table_for[q.split('@')[0]]}"
                                             for q in queries))
    else:
        bad = {k: v for k, v in r["check"].items() if v != "ok"}
        attempted = len(r["check"])
        lat = r["latency_ms"]
        metrics["pass_s"] = statistics.median(r["capacity_s"])
        notes["pass_s"] = (f"(median of {len(r['capacity_s'])} capacity passes of "
                           f"{r['capacity_rows']} events; stream_rows_per_s="
                           f"{r['capacity_rows'] / metrics['pass_s']:.0f})")
        metrics["query_p50_ms"] = statistics.median(lat)
        notes["query_p50_ms"] = f"(stream_latency_p50_ms, n={len(lat)} batches)"
        metrics["query_tail_ms"], beyond = p90(lat)
        notes["query_tail_ms"] = (f"(stream_latency_tail_ms: p90, n={len(lat)}, "
                                  f"{beyond} beyond)")

    print("end-to-end" + (" (untraced runs)" if a.trace else ""))
    for name, unit in END_TO_END:
        say(name, metrics[name], unit, notes[name])
    say("query_p50_ms", metrics["query_p50_ms"], "ms", notes["query_p50_ms"])
    say("failed_frac", len(bad) / attempted, "ratio", f"({len(bad)} of {attempted})")
    result = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}

    if a.trace:
        t = r["traced"]
        if w["kind"] == "batch":
            layer = batch_layers(t, layer_table_for, cores)
            traced_pass = batch_pass(t["runs"])[0]
        else:
            layer = stream_layers(t, cores)
            traced_pass = statistics.median(t["capacity_s"])
        layer["trace.overhead_ratio"] = traced_pass / metrics["pass_s"]
        print(f"per-layer (traced runs; overhead = traced pass_s {traced_pass:.4f} s"
              f" / untraced {metrics['pass_s']:.4f} s)")
        for name, unit in PER_LAYER:
            say(name, layer[name], unit)
        if w["kind"] == "batch":
            print("per query (median traced execution: layer, build s, exec s, jobs, stages)")
            for q in median_runs(t["runs"]).values():
                b, e = q["build"], q["exec"]
                print(f"  {q['query']:<28} {layer_table_for[q['query'].split('@')[0]]:<11}"
                      f" {q['build_s']:>8.3f} {q['exec_s']:>8.3f}"
                      f" {b['jobs'] + e['jobs']:>5} {b['stages'] + e['stages']:>6}")
        print("span self time (kind: count, total ms, self ms)")
        for kind, (n, total, own) in self_times(os.path.join(run_dir, "spans.jsonl")).items():
            print(f"  {kind:<8} {n:>6} {total:>12.1f} {own:>12.1f}")
        result = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}

    if bad:
        print("FAILED: " + "; ".join(f"{k}: {v}" for k, v in sorted(bad.items())))
    print(f"correct: {not bad} ({attempted - len(bad)}/{attempted} outputs match)")
    print(f"wall: build+inputs {t_jvm - t_start:.1f} s, JVM {t_jvm_end - t_jvm:.1f} s, "
          f"total {time.monotonic() - t_start:.1f} s")
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                      "metrics": result}))


if __name__ == "__main__":
    main()
