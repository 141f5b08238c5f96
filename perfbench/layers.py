"""Per-layer metrics of a traced window: span times joined with the Spark
event log's job, stage and SQL-execution records.

Every workload reports every name below; a layer the workload never
enters reads 0.  Values are means per traced operation, and the
streaming epoch figures means per epoch, unless the name says otherwise.
"""

from __future__ import annotations

from spans import COUNTERS, EventLog, Tracer, _union
from workloads import ARTIFACTS, QUERY_FAMILIES

# span name -> metric prefix, for spans reported with the full counter set
FULL = {
    "pipelines.covid.export": "pipelines.covid.export",
    "sources.sinks.write_training_shards": "sources.sinks.write_training_shards",
}
# spans reported with wall and driver time only
TIMED = {"pipelines.curation.curate": "pipelines.curation.curate"}
UNITS = {"wall_s": "s", "driver_s": "s", "task_cpu_s": "s", "gc_s": "s",
         "shuffle_write_bytes": "B", "spill_bytes": "B", "input_bytes": "B",
         "output_bytes": "B", "failed_tasks": "count"}


def names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit), in report order."""
    out = [("session.get_spark.wall_s", "s"), ("setup.generate_s", "s"), ("setup.prepare_s", "s"),
           ("trace.overhead_frac", "1"), ("trace.unattributed_frac", "1")]
    for prefix in FULL.values():
        out += [(f"{prefix}.{k}", UNITS[k]) for k in ["wall_s", "driver_s"] + COUNTERS]
    out += [(f"pipelines.covid.{a}.wall_s", "s") for a in ARTIFACTS]
    out += [("sources.i2b2_scans", "count"), ("sources.sinks.csv_files", "count")]
    for prefix in TIMED.values():
        out += [(f"{prefix}.wall_s", "s"), (f"{prefix}.driver_s", "s")]
    out += [("sources.sinks.shard_files", "count"), ("caching.persisted_bytes_peak", "B"),
            ("caching.blocks_left_after_release", "count")]
    out += [(f"streaming.curation.epoch.{k}", UNITS[k]) for k in ["wall_s", "driver_s"] + COUNTERS]
    out += [("streaming.curation.trigger_overhead_s", "s"),
            ("operators.dedup_incremental.index_files", "count"),
            ("operators.dedup_incremental.index_bytes", "B"),
            ("operators.dedup_incremental.duplication_ratio", "1"),
            ("operators.dedup_incremental.compact.wall_s", "s"),
            ("operators.dedup_incremental.compact.bytes_rewritten", "B"),
            ("sources.corpus_bytes", "B")]
    out += [(f"queries.{f}.wall_s", "s") for f in QUERY_FAMILIES + ("other",)]
    out += [("queries.driver_s", "s"), ("queries.jobs_per_op", "count"), ("queries.task_cpu_s", "s"),
            ("queries.gc_s", "s"), ("queries.shuffle_write_bytes", "B")]
    return out


def _ingest_query(tracer: Tracer, log: EventLog, results, vals: dict) -> None:
    n = len(results)
    # the streaming query runs its jobs on its own threads, outside any
    # job group: its counters are those of the stages its span saw start
    runs = [s for s in tracer.spans if s.name == "streaming.curation.run_streaming_ingest"]
    epochs = [t for r in results for t in r.epoch_s]
    ne = len(epochs)
    busy = sum(_union(log.window_job_intervals(s.start, s.end), s.start, s.end) for s in runs)
    vals["streaming.curation.epoch.wall_s"] = sum(epochs) / ne
    vals["streaming.curation.epoch.driver_s"] = (sum(epochs) - busy) / ne
    for s in runs:
        for k, v in log.window_counters(s.start, s.end).items():
            vals[f"streaming.curation.epoch.{k}"] += v / ne
    last = results[-1]
    vals["streaming.curation.trigger_overhead_s"] = sum(r.trigger_overhead_s for r in results) / n
    vals["operators.dedup_incremental.index_files"] = last.index_files
    vals["operators.dedup_incremental.index_bytes"] = last.index_bytes
    vals["operators.dedup_incremental.duplication_ratio"] = last.duplication_ratio
    vals["operators.dedup_incremental.compact.wall_s"] = sum(r.compact_s for r in results) / n
    vals["operators.dedup_incremental.compact.bytes_rewritten"] = sum(
        r.compact_bytes for r in results) / n
    vals["sources.corpus_bytes"] = sum(r.corpus_bytes for r in results) / n

    queries = [s for s in tracer.spans if s.name.startswith("queries.")]
    for s in queries:
        vals[f"{s.name}.wall_s"] += s.wall / n
    busy = sum(_union(log.span_job_intervals(s.sid), s.start, s.end) for s in queries)
    vals["queries.driver_s"] = (sum(s.wall for s in queries) - busy) / n
    vals["queries.jobs_per_op"] = sum(len(log.span_job_intervals(s.sid)) for s in queries) / n
    for s in queries:
        for k in ("task_cpu_s", "gc_s", "shuffle_write_bytes"):
            vals[f"queries.{k}"] += log.span_counters(s.sid)[k] / n


def per_layer(wl, tracer: Tracer, log: EventLog, results, setup: dict[str, float],
              overhead_frac: float) -> dict[str, tuple[float, str]]:
    n = len(results)
    vals = {name: 0.0 for name, _ in names()}
    vals.update(setup)
    vals["trace.overhead_frac"] = overhead_frac

    self_t = tracer.self_times()
    roots = [s for s in tracer.spans if s.name == "op"]
    vals["trace.unattributed_frac"] = sum(self_t[s.sid] for s in roots) / sum(s.wall for s in roots)

    for span_name, prefix in {**FULL, **TIMED}.items():
        spans = [s for s in tracer.spans if s.name == span_name]
        if not spans:
            continue
        wall = sum(s.wall for s in spans)
        busy = sum(_union(log.span_job_intervals(s.sid), s.start, s.end) for s in spans)
        vals[f"{prefix}.wall_s"] = wall / n
        vals[f"{prefix}.driver_s"] = (wall - busy) / n
        if span_name in FULL:
            for s in spans:
                for k, v in log.span_counters(s.sid).items():
                    vals[f"{prefix}.{k}"] += v / n

    op_ids = {s.op for s in roots}
    if wl.name == "phase11_extract":
        for a in ARTIFACTS:
            execs = [e for i in op_ids for e in log.executions_writing(f"/export/op{i}/{a}")]
            vals[f"pipelines.covid.{a}.wall_s"] = sum(e["end"] - e["start"] for e in execs) / n
        groups = {f"span-{s.sid}" for s in tracer.spans if s.op in op_ids}
        exec_ids = {j["exec"] for j in log.jobs.values() if j["group"] in groups}
        vals["sources.i2b2_scans"] = log.executed_scans("observation_fact", exec_ids) / n
        vals["sources.sinks.csv_files"] = sum(r.files for r in results) / n
    else:
        vals["sources.sinks.shard_files"] = sum(r.files for r in results) / n
        _ingest_query(tracer, log, results, vals)
    vals["caching.persisted_bytes_peak"] = max(r.persisted_bytes for r in results)
    vals["caching.blocks_left_after_release"] = max(r.blocks_left for r in results)
    return {name: (float(vals[name]), unit) for name, unit in names()}
