#!/usr/bin/env python3
"""graft's benchmark. From the root of a checkout:

    python3 perfbench/run.py --workload pit --seed 1 --seconds 8 --trace 0

builds graft with the harness (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the harness
(perfbench/src), checks every output against an engine-independent
reference (perfbench/check.py) and prints, as its last line, one JSON
object: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. The line before it holds the run's
context (host weather, sample counts), which is not a metric. Everything
the run writes stays under .bench_build/; the full record of a run is
kept in .bench_build/runs/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
DEADLINE_S = 170

# name: (generator, size)
WORKLOADS = {
    # the backfill's 250k events take about 2 s a pass; the stream drains
    # 7 microbatches (6 files and the closing no-data batch), so the
    # first drain of each phase of a traced run gives 21 batch times
    "pit": (gen.pit, dict(batch=dict(n_events=250_000),
                          stream=dict(n_events=6_000, files=6,
                                      jitter_us=8 * 60 * 1_000_000))),
    # the near-dup pass runs about 120 Spark jobs, the ten registry
    # queries about 50
    "neardup_registry": (gen.neardup_registry, dict(docs=dict(n_docs=300))),
}

JAVA_OPTS = ["-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData"] + [
    x for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def cpu_jiffies():
    """(steal, total) from /proc/stat's aggregate line."""
    try:
        with open("/proc/stat") as f:
            cols = [int(x) for x in f.readline().split()[1:]]
        return cols[7] if len(cols) > 7 else 0, sum(cols[:8])
    except OSError:
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def run_harness(workload, classes, data, out, seconds, trace, deadline):
    cmd = (["java"] + JAVA_OPTS
           + ["-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
              "-cp", build.classpath(classes), "graftbench.Main",
              "--workload", workload, "--data", data,
              "--out", out, "--seconds", str(seconds), "--trace", str(trace)])
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    log = open(os.path.join(out, "harness.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("harness timed out")
    finally:
        log.close()
    if p.returncode != 0:
        with open(os.path.join(out, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {p.returncode}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def outcomes(res):
    return res["outcomes"] + res.get("traced_outcomes", []) + res.get("outcomes_after", [])


def judge(workload, res, data):
    """(attempted, failed, details): every checked output of every
    iteration, wrong or raising, counts against `failed`."""
    its = outcomes(res)
    errors = sum(1 for o in its if "error" in o)
    details = {"errors": errors}
    if workload == "pit":
        delay_ms = next((o["watermark_delay_ms"] for o in its if "watermark_delay_ms" in o), 0)
        want = {
            "training": check.pit_reference(os.path.join(data, "batch", "*.parquet")),
            "matured": check.pit_reference(os.path.join(data, "stream", "*.parquet"),
                                           delay_ms=delay_ms)}
        wrong = sum(1 for o in its if "error" not in o and (
            o["digests"] != want or o.get("rows_dropped_late", 0)))
        details.update(reference=want,
                       got=sorted({json.dumps(o["digests"], sort_keys=True) for o in its}),
                       rows_dropped_late=sum(o.get("rows_dropped_late", 0) for o in its))
        return len(its), wrong + errors, details
    # neardup_registry: the last iteration's rows are checked exactly
    # (near-dup pairs re-verified, registry rows against the oracle);
    # every iteration must then reproduce the same digest
    corpus = check.Corpus(os.path.join(data, "corpus"))
    attempted = failed = 0
    for op, rows in res["rows"].items():
        if op in res["oracles"]:
            bad = check.registry_wrong(os.path.join(data, "tables"),
                                       rows["columns"], rows["rows"], res["oracles"][op])
        else:
            bad = check.verify_pairs(op, rows["columns"], rows["rows"], corpus)
        ref = check.digest(rows["rows"])
        digests = [o["digests"].get(op) for o in its]
        wrong = sum(1 for d in digests if bad or d != ref)
        details[op] = {"rows": len(rows["rows"]), "wrong": bad[:5],
                       "digests": sorted(set(map(str, digests)))}
        attempted += len(digests)
        failed += wrong
    attempted += errors  # an iteration that raised has no digests at all
    failed += errors
    return max(attempted, 1), failed, details


def setup_s(res):
    """Median session start plus the warm-up passes."""
    return stats.median(res["session_start_s"]) + sum(res["warmup_s"])


def end_to_end(res, rows):
    wall = stats.median(res["iter_s"])
    return {
        "setup_s": setup_s(res),
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "peak_heap_mb": stats.median([o["peak_heap_mb"] for o in res["outcomes"]]),
    }


def per_layer(res, spans, fail_ratio, names):
    c = dict(res["counters_per_iter"])
    n = len(res["traced_iter_s"])
    wall = stats.median(res["traced_iter_s"])
    m = {k: c.get(k, 0.0) for k in (
        "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
        "scheduler.task_wait_ms", "compute.task_s", "compute.cpu_s",
        "compute.gc_s", "compute.straggler_ratio", "shuffle.write_bytes",
        "shuffle.read_bytes", "shuffle.fetch_wait_ms", "shuffle.spill_bytes",
        "sources.rows_read", "sources.bytes_read", "driver.analysis_ms",
        "driver.optimization_ms", "driver.planning_ms")}
    m["compute.utilisation"] = c.get("compute.task_s", 0.0) / (wall * res["cores"])
    m["codegen.compile_ms"] = res["codegen_per_iter"]["compile_ms"]
    m["codegen.compiles"] = res["codegen_per_iter"]["compiles"]
    m["cold.first_iter_excess_s"] = res["warmup_s"][0] - stats.median(
        res["iter_s"] + res["iter_after_s"])
    m["trace.overhead_s"] = res["trace_overhead_s"]
    m["check.fail_ratio"] = fail_ratio

    # span-derived, over the traced iterations only: self time per layer,
    # driver gap, eager construction
    spans = stats.nest_jobs_in_batches(stats.descendants(
        next(s for s in spans if s["kind"] == "workload"), stats.children(spans)))
    kids = stats.children(spans)
    iteration = [s for s in spans if s["kind"] == "iteration"]

    def jobs_under(s):
        return [d for d in stats.descendants(s, kids) if d["kind"] == "job"]

    gap = sum(s["end_us"] - s["start_us"] - stats.union_length(
        [(j["start_us"], j["end_us"]) for j in jobs_under(s)], s["start_us"], s["end_us"])
        for s in iteration)
    m["driver.gap_s"] = gap / 1e6 / n
    construct = [s for s in spans if s["kind"] == "construct"]
    m["eager.s"] = sum(s["end_us"] - s["start_us"] for s in construct) / 1e6 / n
    m["eager.jobs"] = sum(len(jobs_under(s)) for s in construct) / n
    selfs = stats.layer_self_times(spans)
    for layer in ("sources", "api", "ops", "core", "plans", "streaming", "ext",
                  "queries", "driver", "scheduler"):
        m[f"self.{layer}_s"] = selfs.get(layer, 0) / 1e6 / n

    for op in ("minhash", "srp", "winnow", "containment", "clusters"):
        calls = [s for s in spans if s["kind"] == "call" and s["name"] == op]
        m[f"ext.{op}_s"] = sum(s["end_us"] - s["start_us"] for s in calls) / 1e6 / n
        m[f"ext.{op}_jobs"] = sum(len(jobs_under(s)) for s in calls) / n
        pairs = [int(o["digests"][op].split(":")[0]) for o in res["traced_outcomes"]
                 if op in o.get("digests", {})]
        m[f"ext.{op}_pairs"] = stats.median(pairs) if pairs else 0

    a = res.get("attribution", {})
    for k in ("ops.examples_s", "ops.examples_rows", "core.versioned_s",
              "plans.asof_s", "plans.asof_exchanges"):
        m[k] = a.get(k, 0)
    m.update(streaming_layer(res))
    m.update(queries_layer(res, [n[len("queries."):-len("_s")] for n in names
                                 if n.startswith("queries.q_")]))
    return m


def first_of_phases(res):
    """The first iteration of each of a traced run's three phases
    (untraced, traced, untraced again): a sample whose size does not
    depend on how many iterations fit in --seconds."""
    return [res[k][0] for k in ("outcomes", "traced_outcomes", "outcomes_after")]


def queries_layer(res, queries):
    """Per-query times of the registry queries, over first_of_phases."""
    times = [o.get("query_s", {}) for o in first_of_phases(res)]
    m = {}
    for q in queries:
        xs = [t[q] for t in times if q in t]
        m[f"queries.{q}_s"] = stats.median(xs) if xs else 0
    xs = [x for t in times for x in t.values()]
    m["queries.query_s_p50"] = stats.median(xs) if xs else 0
    return m


def streaming_layer(res):
    its = first_of_phases(res)
    progress = [json.loads(p) for o in its for p in o.get("progress", [])]
    m = {}
    phases = {"add_batch": "addBatch", "get_batch": "getBatch",
              "query_planning": "queryPlanning", "wal_commit": "walCommit",
              "latest_offset": "latestOffset"}
    for name, key in phases.items():
        xs = [p["durationMs"].get(key, 0) for p in progress]
        m[f"streaming.{name}_ms"] = stats.median(xs) if xs else 0
    ops = [p["stateOperators"] for p in progress if p.get("stateOperators")]
    commits = [sum(o.get("commitTimeMs", 0) for o in s) for s in ops]
    m["streaming.state_commit_ms"] = stats.median(commits) if commits else 0
    m["streaming.state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops[-1]) if ops else 0
    m["streaming.state_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops[-1]) if ops else 0
    m["streaming.rows_dropped_late"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for s in ops for o in s)
    m["streaming.batches"] = len(progress) / len(its)
    batch_ms = [p["batchDuration"] for p in progress]
    # 21 batches leave ten samples beyond the median and beyond no higher
    # percentile (stats.tail_percentile), so no tail percentile is given
    m["streaming.batch_ms_p50"] = stats.median(batch_ms) if batch_ms else 0
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classes = build.ensure()
    deadline = time.time() + DEADLINE_S  # a first run may build beyond it
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build.BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    make, size = WORKLOADS[a.workload]
    data = os.path.join(work, "data")
    rows = make(data, a.seed, **size)

    steal0, total0 = cpu_jiffies()
    load_before = loadavg()
    res = run_harness(a.workload, classes, data, os.path.join(work, "out"),
                      a.seconds, a.trace, deadline)
    steal1, total1 = cpu_jiffies()
    attempted, failed, details = judge(a.workload, res, data)

    if a.trace:
        with open(os.path.join(work, "out", "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        values = per_layer(res, spans, stats.fail_ratio(attempted, failed),
                           [m["name"] for m in wanted])
    else:
        values = end_to_end(res, rows)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    context = {
        "workload": a.workload, "seed": a.seed, "input_rows": rows,
        "samples": {"iterations": len(res["iter_s"]),
                    "traced_iterations": len(res.get("traced_iter_s", [])),
                    "session_starts": len(res["session_start_s"])},
        "iter_s": res["iter_s"], "traced_iter_s": res.get("traced_iter_s"),
        "session_start_s": res["session_start_s"], "warmup_s": res["warmup_s"],
        "weather": dict(res["weather"],
                        steal_pct=(100.0 * (steal1 - steal0) / (total1 - total0)
                                   if total1 > total0 else None),
                        loadavg_before=load_before, loadavg_after=loadavg()),
        "parts_s": {k: [o[k] for o in res["outcomes"] if k in o]
                    for k in ("backfill_s", "drain_s", "op_s", "query_s", "peak_heap_mb")},
        "check": details,
    }
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    runs = os.path.join(build.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, tag + ".json"), "w") as f:
        json.dump({"context": context, "result": line}, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "out", "spans.jsonl"),
                    os.path.join(runs, tag + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
