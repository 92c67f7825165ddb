"""Per-layer metrics of a traced run.

The harness's traced passes carry, for every operation, its seconds by kind
(`call`: the operator call up to the returned DataFrame, `plan`: forcing the
executed plan, `exec`: the action) and by layer, and the pass carries the
listener totals. Spans give each layer's self time: a span's duration minus
the part its child spans cover. Each metric is the median over traced passes.
"""
import json
import statistics

# (name, unit); the order BENCHMARK.json lists them in.
PER_LAYER = [
    ("sessions.build_s", "s"), ("tables.load_s", "s"), ("tables.rows_read", "count"),
    ("tables.bytes_read", "bytes"), ("plan.s", "s"), ("exec.task_busy_frac", "frac"),
    ("query.call_s", "s"), ("query.call_jobs", "count"), ("exec.s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.peak_exec_mem_bytes", "bytes"), ("exec.output_rows", "count"),
    ("exec.failed_tasks", "count"), ("functions.kernel_s", "s"),
    ("dedup.verified_per_candidate", "frac"), ("lsh.max_bucket", "count"),
    ("persist.cached_bytes", "bytes"), ("persist.leaked_bytes", "bytes"),
    ("pipeline.call_s", "s"), ("validation.s", "s"), ("validation.mismatches", "count"),
    ("sinks.write_s", "s"), ("sinks.bytes_written", "bytes"), ("sinks.files_written", "count"),
    ("sinks.rows_written", "count"), ("stream.batches", "count"), ("stream.batch_s", "s"),
    ("stream.input_rows", "count"), ("stream.rows_per_s", "1/s"), ("stream.state_rows", "count"),
    ("stream.commit_s", "s"), ("stream.late_rows_dropped", "count"),
    ("stream.state_mem_bytes", "bytes"),
] + [(f"self_s.{layer}", "s") for layer in (
    "op", "query", "index", "streaming", "plan", "exec", "pipeline", "validation", "sinks")] + [
    ("trace.overhead_s", "s"), ("trace.overhead_frac", "frac"),
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _self_times(spans, passes):
    """{pass: {layer: self seconds}} over the traced passes' spans."""
    by_id = {s["id"]: s for s in spans}
    covered = {}
    for s in spans:
        if s["parent"] in by_id:
            covered[s["parent"]] = covered.get(s["parent"], 0) + (s["end_ns"] - s["start_ns"])
    out = {p: {} for p in passes}
    for s in spans:
        if s["pass"] in out:
            own = (s["end_ns"] - s["start_ns"] - covered.get(s["id"], 0)) / 1e9
            out[s["pass"]][s["layer"]] = out[s["pass"]].get(s["layer"], 0.0) + own
    return out


def _pass_metrics(p, cpus):
    c, ops = p["counts"], p["ops"]
    kinds = lambda k: sum(o["kinds"].get(k, 0.0) for o in ops)
    layer = lambda k: sum(o["layers"].get(k, 0.0) for o in ops)
    extra = lambda k: sum(o["extra"].get(k, 0.0) for o in ops)
    wall = sum(o["total_s"] for o in ops)
    batch_s = c.get("stream.batch_s", 0.0)
    m = {
        "tables.rows_read": c.get("rows_read", 0.0),
        "tables.bytes_read": c.get("bytes_read", 0.0),
        "plan.s": kinds("plan"),
        "exec.task_busy_frac": c.get("task_run_s", 0.0) / (wall * cpus) if wall else 0.0,
        "query.call_s": kinds("call"),
        "query.call_jobs": sum(o["kind_counts"].get("call", {}).get("jobs", 0.0) for o in ops),
        "exec.s": kinds("exec"),
        "exec.output_rows": float(sum(max(o["rows"], 0) for o in ops)),
        "persist.cached_bytes": float(max(o["cached_bytes"] for o in ops)),
        "persist.leaked_bytes": float(max(o["leaked_bytes"] for o in ops)),
        "pipeline.call_s": layer("pipeline"),
        "validation.s": layer("validation"),
        "validation.mismatches": extra("mismatches"),
        "sinks.write_s": layer("sinks"),
        "sinks.bytes_written": extra("bytes_written"),
        "sinks.files_written": extra("files_written"),
        "sinks.rows_written": sum(o["kind_counts"].get("exec", {}).get("rows_written", 0.0)
                                  for o in ops if "sinks" in o["layers"]),
        "stream.rows_per_s": c.get("stream.input_rows", 0.0) / batch_s if batch_s else 0.0,
        "job_s": wall,
    }
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "peak_exec_mem_bytes", "failed_tasks"):
        m[f"exec.{k}"] = c.get(k, 0.0)
    for k in ("batches", "batch_s", "input_rows", "state_rows", "commit_s",
              "late_rows_dropped", "state_mem_bytes"):
        m[f"stream.{k}"] = c.get(f"stream.{k}", 0.0)
    m["verified_pairs"] = extra("verified_pairs")
    return m


def per_layer(result, spans_path, cpus):
    traced = [p for p in result["passes"] if p["traced"]]
    untraced_warm = [p for p in result["passes"][1:] if not (p["traced"] or p["settle"])]
    per_pass = [_pass_metrics(p, cpus) for p in traced]
    with open(spans_path) as f:
        selfs = _self_times(json.load(f), [p["pass"] for p in traced])
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}
    for name, _ in PER_LAYER:
        if name.startswith("self_s."):
            out[name] = median([selfs[p["pass"]].get(name[len("self_s."):], 0.0) for p in traced])
    out["sessions.build_s"] = result["setup"]["session_s"]
    out["tables.load_s"] = result["setup"]["tables_s"]
    probes = result.get("probes", {})
    out["functions.kernel_s"] = probes.get("functions.kernel_s", 0.0)
    out["lsh.max_bucket"] = probes.get("lsh.max_bucket", 0.0)
    cand = probes.get("lsh.candidate_pairs", 0.0)
    out["dedup.verified_per_candidate"] = out.get("verified_pairs", 0.0) / cand if cand else 0.0
    base = median([sum(o["total_s"] for o in p["ops"]) for p in untraced_warm])
    out["trace.overhead_s"] = out.get("job_s", 0.0) - base
    out["trace.overhead_frac"] = out["trace.overhead_s"] / base if base else 0.0
    return out
