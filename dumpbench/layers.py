"""Per-layer metrics from a traced run.

The harness records spans around each call into the program (see
src/main/scala/dumpbench/Trace.scala), the Spark jobs and SQL actions each
span started, and Hadoop storage statistics around each sink write. This
module turns one run's records into the per-layer metrics, computes every
span's self time, and writes the spans out.

Each per-pass metric is the median over the run's measured later traced
passes; the artifact metrics are read from the cold first pass. Traced and
untraced later passes alternate in the same process, and the tracing
overhead is the difference of their median wall times, net of the noop probe
that only the traced passes run.

Inside a sink write, Spark jobs that belong to no SQL action are counted
with the staged re-read: `spark.read.parquet(staging)` infers the schema
with a job of its own, before the count action starts.
"""
import json
import os
import statistics
from collections import defaultdict

PASS_METRICS = [
    ("core.self_s", "s"), ("core.retries", "count"),
    ("sources.translate_s", "s"), ("sources.analyze_s", "s"), ("sources.pin_s", "s"),
    ("query.plan_s", "s"), ("query.exec_s", "s"),
    ("sink.write_s", "s"), ("sink.encode_s", "s"), ("sink.count_s", "s"),
    ("sink.commit_s", "s"), ("sink.jobs_per_dump", "count"),
    ("sink.useful_job_ratio", "ratio"), ("sink.bytes_read", "bytes"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.executor_cpu_s", "s"),
    ("spark.busy_cores", "cores"), ("spark.shuffle_bytes", "bytes"),
    ("fs.write_ops", "count"), ("fs.read_ops", "count"), ("fs.bytes_written", "bytes"),
]


def _dur(s):
    return (s["end_ms"] - s["start_ms"]) / 1e3


def pass_layers(pass_id, spans, jobs):
    """Per-layer figures of one traced pass."""
    mine = [s for s in spans if s["pass"] == pass_id]
    by_name = defaultdict(list)
    for s in mine:
        by_name[s["name"]].append(s)
    children = defaultdict(list)
    for s in mine:
        children[s["parent"]].append(s)

    def total(name):
        return sum(_dur(s) for s in by_name[name])

    writes = by_name["sink.write"]
    write_ids = {s["id"] for s in writes}
    probe_ids = {s["id"] for s in by_name["query.exec"]}

    def attr(span, key):
        return span.get("attrs", {}).get(key, 0)

    def in_sink(key):
        return sum(attr(w, key) for w in writes) / 1e3

    pass_jobs = [j for j in jobs if j["pass"] == pass_id and j["span"] not in probe_ids]
    sink_jobs = [j for j in pass_jobs if j["span"] in write_ids]
    useful = [j for j in sink_jobs if j["output_records"] > 0 or j["output_bytes"] > 0]
    outside_actions_s = sum(j["wall_ms"] for j in sink_jobs if not j["in_action"]) / 1e3
    execute = by_name["core.execute"]
    self_core = sum(_dur(s) - sum(_dur(c) for c in children[s["id"]]) for s in execute)
    wall = sum(_dur(s) for s in by_name["pass"])
    run_s = sum(j["run_ms"] for j in pass_jobs) / 1e3

    def fs(key):
        return sum(attr(w, key) for w in writes)

    return {
        "core.self_s": self_core,
        "core.retries": sum(s.get("attrs", {}).get("retries", 0) for s in execute),
        "sources.translate_s": total("sources.translate"),
        "sources.analyze_s": total("sources.analyze"),
        "sources.pin_s": total("sources.pin"),
        "query.plan_s": in_sink("plan_ms"),
        "query.exec_s": total("query.exec"),
        "sink.write_s": total("sink.write"),
        "sink.encode_s": in_sink("write_ms") - total("query.exec"),
        "sink.count_s": in_sink("count_ms") + outside_actions_s,
        "sink.commit_s": total("sink.write") - in_sink("actions_ms") - outside_actions_s,
        "sink.jobs_per_dump": len(sink_jobs) / max(1, len(writes)),
        "sink.useful_job_ratio": len(useful) / max(1, len(sink_jobs)),
        "sink.bytes_read": sum(j["input_bytes"] for j in sink_jobs if j not in useful),
        "spark.jobs": len(pass_jobs),
        "spark.tasks": sum(j["tasks"] for j in pass_jobs),
        "spark.executor_cpu_s": sum(j["cpu_ns"] for j in pass_jobs) / 1e9,
        "spark.busy_cores": run_s / max(1e-9, wall - total("query.exec")),
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in pass_jobs),
        "fs.write_ops": fs("writeOps"),
        "fs.read_ops": fs("readOps") + fs("largeReadOps"),
        "fs.bytes_written": fs("bytesWritten"),
        "_probe_s": total("query.exec"),
    }


def with_self_times(spans):
    covered = defaultdict(float)
    for s in spans:
        covered[s["parent"]] += _dur(s)
    return [dict(s, self_ms=(_dur(s) - covered[s["id"]]) * 1e3) for s in spans]


def report(result, measured, spec, trace_path):
    """`measured` is the slice of the run's passes that the metrics come from."""
    trace = result["trace"]
    spans, jobs = trace["spans"], trace["jobs"]
    passes = result["passes"]
    per_pass = {p["id"]: pass_layers(p["id"], spans, jobs)
                for p in passes if p["traced"]}
    measured = passes[measured]
    later_traced = [p for p in measured if p["traced"]]
    later_plain = [p for p in measured if not p["traced"]]

    def m(value, unit):
        return {"value": value, "unit": unit}

    metrics = {}
    for name, unit in PASS_METRICS:
        metrics[name] = m(statistics.median(per_pass[p["id"]][name] for p in later_traced), unit)
    first = passes[0]
    metrics["operators.artifact_build_s"] = m(first["artifact_build_s"], "s")
    metrics["operators.artifact_builds"] = m(first["artifact_builds"], "count")
    metrics["operators.artifact_builds_later"] = m(
        max(p["artifact_builds"] for p in measured), "count")
    metrics["spark.gc_s"] = m(statistics.median(p["gc_s"] for p in later_plain), "s")
    traced_s = statistics.median(p["wall_s"] - per_pass[p["id"]]["_probe_s"]
                                 for p in later_traced)
    plain_s = statistics.median(p["wall_s"] for p in later_plain)
    metrics["trace.overhead_s"] = m(traced_s - plain_s, "s")
    metrics["trace.untraced_pass_s"] = m(plain_s, "s")

    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    spans = with_self_times(spans)
    layer_self = defaultdict(float)
    for s in spans:
        layer_self[s["name"]] += s["self_ms"]
    with open(trace_path, "w") as f:
        json.dump({"workload": spec["workload"], "seed": spec["seed"], "passes": passes,
                   "per_pass": per_pass, "self_ms_by_layer": layer_self,
                   "spans": spans, "jobs": jobs,
                   "unattributed_actions": trace["unattributed_actions"],
                   "metrics": metrics}, f, indent=1)
    return metrics
