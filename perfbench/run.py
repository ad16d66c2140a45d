"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload api_read --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the measuring JVM
(perfbench/scala), checks every output against DuckDB (perfbench/oracle.py)
and prints, as its last stdout line, one JSON object
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 reports the per-layer metrics, writes the
spans and counters to .bench_build/traces/ and prints the tracing overhead.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SPEC = json.load(open(os.path.join(HERE, "spec.json")))
WORKLOADS = SPEC["workloads"]
JVM_TIMEOUT_S = 150
INPUT_REPEATS = 2

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def make_inputs(workload, seed, work):
    """Generate the inputs INPUT_REPEATS times; they must be byte-identical.
    Returns (data dir, median generation seconds)."""
    times, digests = [], set()
    for i in range(INPUT_REPEATS):
        d = os.path.join(work, f"inputs-{i}")
        t0 = time.perf_counter()
        gen.generate(workload, seed, d)
        times.append(time.perf_counter() - t0)
        digests.add(gen.tree_digest(d))
        if i:
            shutil.rmtree(d)
    if len(digests) != 1:
        raise SystemExit("inputs differ between two generations with the same seed")
    return os.path.join(work, "inputs-0"), statistics.median(times)


def run_jvm(classpath, args, trace, work, raw, key):
    wl = WORKLOADS[args.workload]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--data", os.path.join(work, "inputs-0"),
              "--work", work, "--out", raw, "--seconds", str(args.seconds),
              "--trace", str(trace), "--cores", str(cores()),
              "--clients", str(min(wl["clients"], cores())), "--min-ops", str(wl["min_ops"])])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    shutil.copy(log, os.path.join(logs, key + ".log"))
    if p.returncode != 0 or not os.path.exists(raw):
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"measuring JVM exited with {p.returncode}")


# ------------------------------------------------------------------ metrics

def op_latencies(workload, raw):
    """The latency distribution behind op_p50_ms and op_p90_ms, of one op
    kind per workload: every API request, every micro-batch, and for
    etl_write every delta Pipeline.run (load and re-run are other kinds)."""
    if workload == "stream_ingest":
        return [float(p["trigger_ms"]) for p in raw["progress"]]
    if workload == "etl_write":
        return [o["ms"] for o in raw["ops"] if o["kind"] == "delta"]
    return [o["ms"] for o in raw["ops"]]


def n_ops(workload, raw):
    """Operations the timed CPU time is shared over."""
    return len(raw["progress"]) if workload == "stream_ingest" else len(raw["ops"])


def end_to_end(workload, raw, inputs_s):
    s = raw["setup"]
    lat = op_latencies(workload, raw)
    wall = raw["timed_wall_s"]
    if workload == "stream_ingest":
        work = sum(p["rows"] for p in raw["progress"])
    else:
        work = raw["work_units"]
    setup_s = (inputs_s + (s["session_ms"] + s["warmup_ms"] + s.get("index_build_ms", 0.0)) / 1000.0)
    return {
        "setup_s": setup_s,
        "throughput_per_s": work / wall,
        "op_p50_ms": stats.percentile(lat, 50),
        "op_p90_ms": stats.percentile(lat, 90),
        "cpu_ms_per_op": raw["cpu_ms"] / n_ops(workload, raw),
    }


def _p(values, q):
    return stats.percentile(values, q) if values else 0.0


def detail(workload, raw, e2e):
    """Workload-specific metric names (api_*, etl_*, stream_*), derived from the same run."""
    ops = raw["ops"]
    # not an end-to-end metric: between runs of one seed it flips between
    # two levels ~25 MB apart, a wider spread than any bound allows
    d = {"samples": len(op_latencies(workload, raw)), "setup_ms": raw["setup"],
         "peak_live_heap_mb": max(raw["heap_mb"])}
    tail = stats.tail_percentile(d["samples"])
    d["tail_percentile"] = tail
    if workload == "api_read":
        lat = [o["ms"] for o in ops]
        d.update(api_rps=e2e["throughput_per_s"], api_p50_ms=_p(lat, 50), api_p90_ms=_p(lat, 90))
        for c in ("lookup", "scan", "agg"):
            cl = [o["ms"] for o in ops if o["cls"] == c]
            d[f"api_{c}_p50_ms"] = _p(cl, 50)
            d[f"api_{c}_samples"] = len(cl)
    elif workload == "etl_write":
        for k, name in (("load", "etl_load_s"), ("rerun", "etl_rerun_s"), ("delta", "etl_delta_s")):
            d[name] = _p([o["ms"] / 1000.0 for o in ops if o["kind"] == k], 50)
        cyc = [c for c in raw["replies"] if c["cycle"] >= 0]
        d["etl_bytes_per_input_byte"] = (statistics.median(c["warehouse_bytes"] for c in cyc)
                                         / raw["extra"]["csv_bytes"])
        d["cycles"] = len(cyc)
    else:
        lat = op_latencies(workload, raw)
        d.update(stream_rows_per_s=e2e["throughput_per_s"], stream_batch_p50_ms=_p(lat, 50),
                 stream_batch_p90_ms=_p(lat, 90), iterations=raw["extra"]["iterations"])
    if tail is not None:
        d[f"op_p{tail:g}_ms"] = _p(op_latencies(workload, raw), tail)
    return d


def _share(part, whole):
    return 100.0 * part / whole if whole else 0.0


def span_medians(raw):
    """Median duration per span name over the measured calls (warm-up
    calls carry a negative request id), in ms."""
    by = {}
    for sp in raw["spans"]:
        if sp["req"] >= 0:
            by.setdefault(sp["name"], []).append((sp["end_us"] - sp["start_us"]) / 1000.0)
    return {k: statistics.median(v) for k, v in sorted(by.items())}, {k: len(v) for k, v in by.items()}


def per_layer(workload, raw, inputs_s):
    """Per-layer metrics from a traced run. Every workload reports every
    name (0 where a layer is not on its path); BENCHMARK.json lists them."""
    c = raw["counters"]
    s = raw["setup"]
    n = max(1, n_ops(workload, raw))
    task_ms = c.get("task_ms", 0)
    prog = raw["progress"]
    spans, _ = span_medians(raw)
    m = {
        "setup.session_ms": s["session_ms"],
        "setup.inputs_ms": inputs_s * 1000.0,
        "setup.warmup_ms": s["warmup_ms"] + s.get("index_build_ms", 0.0),
        "spark.jobs_per_op": c.get("jobs", 0) / n,
        "spark.tasks_per_op": c.get("tasks", 0) / n,
        "spark.task_ms_per_op": task_ms / n,
        "spark.task_wait_ms_per_op": c.get("task_wait_ms", 0) / n,
        "spark.planning_ms_per_op": c.get("planning_us", 0) / 1000.0 / n,
        "spark.codegen_compiles_per_op": raw["compiles"] / n,
        "spark.codegen_ms_per_op": raw["compile_ms"] / n,
        "spark.gc_ms": float(raw["gc_ms"]),
        "jvm.jit_ms_per_op": raw["jit_ms"] / n,
        "spark.shuffle_write_bytes_per_op": c.get("shuffle_write_bytes", 0) / n,
        "spark.spill_bytes_per_op": c.get("spill_bytes", 0) / n,
        "sources.rows_read_per_op": c.get("rows_read", 0) / n,
        "sources.bytes_read_per_op": c.get("bytes_read", 0) / n,
        "sources.rows_written_per_op": c.get("rows_written", 0) / n,
        "sources.bytes_written_per_op": c.get("bytes_written", 0) / n,
    }
    for mod in SPEC["modules"]:
        m[f"module.{mod}.task_share"] = _share(c.get(f"module.{mod}.task_ms", 0), task_ms)
    # benchmark-side spans around the calls into each layer, as shares of
    # the op wall time (api_read splits a request; etl_write cannot split
    # Pipeline.run from outside, so all of it is exec)
    total = {}
    for sp in raw["spans"]:
        if sp["req"] >= 0:
            total[sp["name"]] = total.get(sp["name"], 0.0) + (sp["end_us"] - sp["start_us"]) / 1000.0
    op_ms = sum(o["ms"] for o in raw["ops"]) if workload != "stream_ingest" else 0.0
    exec_ms = total.get("query.exec", 0.0) + sum(v for k, v in total.items() if k.startswith("etl."))
    m["call.open_share"] = _share(total.get("sources.open", 0.0), op_ms)
    m["call.build_share"] = _share(total.get("query.build", 0.0), op_ms)
    m["call.plan_share"] = _share(total.get("query.plan", 0.0), op_ms)
    m["call.exec_share"] = _share(exec_ms, op_ms)

    # api_read: per-request span medians and pushdown
    for name in ("sources.open", "query.build", "query.plan", "query.exec"):
        m[f"{name}_ms"] = spans.get(name, 0.0) if workload == "api_read" else 0.0
    returned = 0
    if workload == "api_read":
        for r in raw["replies"]:
            if r["ok"] and r["req"]["id"] >= 0:
                returned += r["rows"]["n"] if isinstance(r["rows"], dict) else len(r["rows"])
    m["sources.rows_scanned_per_row_returned"] = c.get("rows_read", 0) / returned if returned else 0.0

    # etl_write: per cycle, per step kind, and the probes after the timed region
    pc = raw["probe_counters"]
    etl = workload == "etl_write"
    cycles = max(1, sum(1 for o in raw["ops"] if o["kind"] == "load"))
    m["etl.jobs_per_cycle"] = sum(c.get(f"step.{k}.jobs", 0) for k in ("load", "rerun", "delta")) / cycles
    for k in ("rows_read", "rows_written", "bytes_written", "files_written"):
        m[f"sources.{k}"] = c.get(f"step.load.{k}", 0) / cycles
    m["sources.rerun_rows_read_per_row_written"] = (
        c.get("step.rerun.rows_read", 0) / c["step.rerun.rows_written"]
        if c.get("step.rerun.rows_written") else 0.0)
    for name in ("sources.csv_read", "sources.write", "clean.validate", "transform.daily_agg",
                 "transform.summaries"):
        m[f"{name}_ms"] = spans.get(name, 0.0) if etl else 0.0
    for k in ("clean.rows_dropped", "clean.rows_quarantined"):
        m[k] = float(pc.get(k, 0))
    m["spark.shuffle_write_bytes"] = c.get("step.load.shuffle_write_bytes", 0) / cycles if etl else 0.0
    m["spark.spill_bytes"] = c.get("step.load.spill_bytes", 0) / cycles if etl else 0.0
    m["spark.task_ms"] = c.get("step.load.task_ms", 0) / cycles if etl else 0.0

    # stream_ingest: StreamingQueryListener progress, per-call spans, set-up memo fills
    nb = max(1, len(prog))
    m["streaming.batches"] = float(len(prog))
    m["streaming.empty_batch_ratio"] = sum(1 for p in prog if p["rows"] == 0) / nb
    for k in ("add_batch", "query_planning", "wal_commit", "commit_offsets", "state_commit"):
        m[f"streaming.{k}_ms"] = sum(p[f"{k}_ms"] for p in prog) / nb
    m["streaming.state_rows"] = float(max((p["state_rows"] for p in prog), default=0))
    m["streaming.state_memory_bytes"] = float(max((p["state_memory_bytes"] for p in prog), default=0))
    for name in ("operators.dedup_ingest", "operators.ann_serve", "streaming.session"):
        m[f"{name}_ms"] = spans.get(name, 0.0)
    m["operators.index_build_ms"] = s.get("index_build_ms", 0.0)
    m["sources.staging_ms"] = float(raw["setup_counters"].get("staging_ms", 0))
    return m


def layer_detail(workload, raw):
    """Per-step counters of etl_write and the span call counts."""
    c = raw["counters"]
    d = {}
    if workload == "etl_write":
        cycles = max(1, sum(1 for o in raw["ops"] if o["kind"] == "load"))
        for k in ("load", "rerun", "delta"):
            for m in ("jobs", "rows_read", "rows_written", "bytes_written", "files_written", "task_ms",
                      "shuffle_write_bytes", "spill_bytes"):
                d[f"step.{k}.{m}"] = c.get(f"step.{k}.{m}", 0) / cycles
        pc = raw["probe_counters"]
        d.update({k: v for k, v in pc.items() if k.startswith(("clean.", "csv_rows.", "probe_write."))})
    d.update({f"{k}_calls": v for k, v in sorted(span_medians(raw)[1].items())})
    return d


def tracing_overhead(results, workload, build_id, traced):
    """Traced end-to-end numbers against the median of the untraced runs
    of the same workload on the same build, as a relative change."""
    runs = []
    for name in sorted(os.listdir(results)) if os.path.isdir(results) else []:
        if name.startswith(f"{workload}-") and name.endswith("-trace0.json"):
            r = json.load(open(os.path.join(results, name)))
            if r.get("build") == build_id:
                runs.append(r["end_to_end"])
    if not runs:
        return {}
    out = {}
    for k, v in traced.items():
        base = statistics.median(r[k] for r in runs)
        if base and k != "setup_s":
            out[k] = (v - base) / base
    out["untraced_runs"] = len(runs)
    return out


# --------------------------------------------------------------------- main

def measure(args, trace, classpath):
    """One measuring pass: inputs, the JVM, the output checks. Returns
    (raw record, input seconds, attempted, failed)."""
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    key = f"{args.workload}-{args.seed}-trace{trace}"
    try:
        data, inputs_s = make_inputs(args.workload, args.seed, work)
        raw_path = os.path.join(work, "raw.json")
        run_jvm(classpath, args, trace, work, raw_path, key)
        raw = json.load(open(raw_path))
        shutil.copy(raw_path, os.path.join(OUT, "logs", key + ".raw.json"))
        # every checked operation counts as attempted; a wrong answer or an
        # exception counts as failed
        attempted, mismatches = oracle.check(args.workload, data, raw["replies"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in (raw["failures"] + mismatches)[:20]:
        print(f"[perfbench] FAILED: {f}", file=sys.stderr)
    failed = min(attempted, max(len(mismatches), len(raw["failures"])))
    return raw, inputs_s, attempted, failed


def record(results, args, trace, build_id, e2e, det):
    os.makedirs(results, exist_ok=True)
    key = f"{args.workload}-{args.seed}-trace{trace}"
    json.dump({"build": build_id, "end_to_end": e2e, "detail": det},
              open(os.path.join(results, key + ".json"), "w"))
    return key


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no program sources at src/main/scala: run from the repository root")

    started = time.perf_counter()
    classpath = build.build()
    build_id = build.build_id()
    results = os.path.join(OUT, "results")
    raw, inputs_s, attempted, failed = measure(args, args.trace, classpath)
    e2e = end_to_end(args.workload, raw, inputs_s)
    det = detail(args.workload, raw, e2e)
    key = record(results, args, args.trace, build_id, e2e, det)
    det["run_wall_s"] = time.perf_counter() - started
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": det}))
    if args.trace:
        layers = report_trace(args, raw, inputs_s, e2e, results, key, build_id)
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in SPEC["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in SPEC["end_to_end"]}
    for k, v in metrics.items():
        print(f"  {k:40s} {v['value']:>16.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def report_trace(args, raw, inputs_s, e2e, results, key, build_id):
    """Print the tracing overhead and the layer timings; write the spans and
    counters to .bench_build/traces/<key>.json. Returns the per-layer metrics."""
    layers = per_layer(args.workload, raw, inputs_s)
    extra = layer_detail(args.workload, raw)
    overhead = tracing_overhead(results, args.workload, build_id, e2e)
    print(json.dumps({"tracing_overhead": overhead or
                      "no untraced run of this build and workload yet: run with --trace 0 first"}))
    print(json.dumps({"layer_detail": extra}))
    traces = os.path.join(OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    json.dump({"workload": args.workload, "seed": args.seed, "build": build_id, "per_layer": layers,
               "layer_detail": extra, "counters": raw["counters"],
               "setup_counters": raw["setup_counters"], "probe_counters": raw["probe_counters"],
               "traced_end_to_end": e2e, "tracing_overhead": overhead,
               "spans": raw["spans"], "progress": raw["progress"]},
              open(os.path.join(traces, key + ".json"), "w"))
    return layers


if __name__ == "__main__":
    main()
