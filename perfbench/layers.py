"""Per-layer metrics from a traced run.

Every value is the mean over the traced warm operations of the run,
except ``plans.session.*`` (the run's set-ups), ``spark.cold.*`` (the
cold operation), ``streaming.finalize_jobs`` (the read-back) and
``trace.overhead_s``. A layer that records no span on a workload
reads 0 there.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .trace import Span, Tracer, all_jobs, descendants, measure, self_intervals, subtract

#: modules whose public functions the tracer wraps
INSTRUMENTED = (
    "plans.session",
    "sources.jsonl",
    "operators.relationalize",
    "operators.infer",
    "schema",
    "sinks.writers",
    "streaming",
)


def module_of(metric: str) -> str | None:
    """The instrumented module a per-layer metric belongs to, if any."""
    for m in sorted(INSTRUMENTED, key=len, reverse=True):
        if metric.startswith(m + "."):
            return m
    return None


def _spark_totals(op: Span, tracer: Tracer) -> dict[str, float]:
    jobs = all_jobs(op, tracer.by_id())
    sids = {sid for j in jobs for sid in tracer.job_stages.get(j, [])}
    ran = [tracer.stages[s] for s in sids if tracer.stages[s].status != "SKIPPED"]
    c = op.counts
    return {
        "catalyst_ms": c["jvm1.catalyst_ms"] - c["jvm0.catalyst_ms"],
        "codegen_compile_ms": c["jvm1.codegen_compile_ms"] - c["jvm0.codegen_compile_ms"],
        "codegen_classes": c["jvm1.codegen_classes"] - c["jvm0.codegen_classes"],
        "jobs": float(len(jobs)),
        "stages": float(len(ran)),
        "executor_run_s": sum(s.run_s for s in ran),
        "executor_cpu_s": sum(s.cpu_s for s in ran),
        "shuffle_write_bytes": float(sum(s.shuffle_write_bytes for s in ran)),
        "spill_bytes": float(sum(s.spill_bytes for s in ran)),
        "gc_s": sum(s.gc_s for s in ran),
        "tasks_failed": float(sum(s.tasks_failed for s in ran)),
    }


def op_layers(op: Span, tracer: Tracer) -> dict[str, float]:
    """Layer figures for one traced operation."""
    spans = tracer.by_id()
    busy = [(s.start, s.end) for s in tracer.stages.values() if s.start and s.end]
    out: dict[str, float] = defaultdict(float)
    counts: dict[str, float] = defaultdict(float)
    for k, v in op.counts.items():
        counts[k] += v
    for s in descendants(op, spans):
        own = self_intervals(s, spans)
        self_s = measure(own)
        jobs = len(s.jobs)
        driver_s = measure(subtract(own, busy))
        for k, v in s.counts.items():
            counts[k] += v
        m = s.module
        if m in ("sources.jsonl", "operators.relationalize", "operators.infer"):
            out[f"{m}.self_s"] += self_s
            out[f"{m}.jobs"] += jobs
            if m != "operators.infer":
                out[f"{m}.driver_s"] += driver_s
            if m == "sources.jsonl" and spans.get(s.parent, op).module != m:
                out["sources.jsonl.total_jobs"] += len(all_jobs(s, spans))
        elif m == "schema":
            key = "merge" if s.name == "Schema.merge" else "ddl"
            out[f"schema.{key}_s"] += self_s
            if key == "merge":
                out["schema.merge_calls"] += 1
        elif m == "sinks.writers":
            out["sinks.writers.write_s"] += self_s
            out["sinks.writers.jobs"] += jobs
        elif m == "streaming" and s.name.endswith("process_batch"):
            out["streaming.batch_self_s"] += self_s
            out["streaming.write_jobs_per_batch"] += jobs
    out["operators.relationalize.tables_out"] = counts["tables_out"]
    out["operators.infer.choice_splits"] = counts["choice_splits"]
    out["sources.jsonl.cached_bytes"] = counts["cached_bytes"]
    out["sinks.writers.bytes_out"] = counts["bytes_out"]
    out["sinks.writers.files_out"] = counts["files_out"]
    out["_schema_writes"] = counts["schema_writes"]
    out["_tables"] = counts["tables"]
    for k, v in _spark_totals(op, tracer).items():
        out[f"spark.{k}"] = v
    return out


def layer_metrics(
    tracer: Tracer,
    names: list[str],
    warm: list[Span],
    cold: Span | None,
    readback: Span | None,
    setup: dict[str, float],
    overhead_s: float,
) -> dict[str, float]:
    """Every metric in ``names``; a layer with no span here reads 0."""
    per_op = [op_layers(op, tracer) for op in warm]
    out: dict[str, float] = {n: 0.0 for n in names}
    for n in names:
        vals = [d.get(n, 0.0) for d in per_op]
        if vals:
            out[n] = statistics.fmean(vals)
    streamed = [d for d in per_op if d.get("streaming.batch_self_s")]
    tables = sum(d["_tables"] for d in streamed)
    out["streaming.schema_rewrite_ratio"] = (
        sum(d["_schema_writes"] for d in streamed) / tables if tables else 0.0
    )
    if readback is not None:
        spans = tracer.by_id()
        if any(s.module == "streaming" for s in descendants(readback, spans)):
            out["streaming.finalize_jobs"] = float(len(all_jobs(readback, spans)))
    if cold is not None:
        totals = _spark_totals(cold, tracer)
        for k in ("catalyst_ms", "codegen_compile_ms", "codegen_classes", "jobs"):
            out[f"spark.cold.{k}"] = totals[k]
    out["plans.session.start_s"] = setup["start_s"]
    out["plans.session.restart_s"] = setup["restart_s"]
    out["trace.overhead_s"] = overhead_s
    return {n: out[n] for n in names}
