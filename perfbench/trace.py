"""Spans around the library's public functions, recorded from outside.

``instrument(tracer)`` replaces the functions below at the module
attribute each caller looks up, for the duration of a ``with`` block,
and restores them on exit. Nothing in ``relationalize_spark`` changes.

Each span records its name, module, start and end (epoch seconds),
parent span, the id of the operation it belongs to and the run id.
Spans stay in memory. When the run ends, each Spark job is given to
the innermost span open when the job was submitted, and the stage
metrics of those jobs are read from the status store, so opening a
span costs no call into the JVM.

A span's self time is its duration minus the part of it its child
spans cover; a module's ``driver_s`` is the part of its self time in
which no Spark stage was running.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import os
import threading
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

# -- interval arithmetic ------------------------------------------------------

Interval = tuple[float, float]


def union(intervals: Iterable[Interval]) -> list[Interval]:
    """Sorted, disjoint cover of ``intervals``."""
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def subtract(base: Iterable[Interval], cover: Iterable[Interval]) -> list[Interval]:
    """The parts of ``base`` that ``cover`` does not reach."""
    cov = union(cover)
    out: list[Interval] = []
    for s, e in union(base):
        cur = s
        for cs, ce in cov:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


def measure(intervals: Iterable[Interval]) -> float:
    return sum(e - s for s, e in union(intervals))


# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    module: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)  # submitted by this span itself
    counts: dict[str, float] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)


@dataclass
class StageInfo:
    status: str
    start: float | None
    end: float | None
    run_s: float
    cpu_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    gc_s: float
    tasks_failed: int


class Tracer:
    """Collects spans for one run. Spans opened on the main thread nest;
    counters may be bumped from any thread."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self.stages: dict[int, StageInfo] = {}
        self.job_stages: dict[int, list[int]] = {}

    # Spark-side probes; driver calls that run no job.
    def jvm_counters(self) -> dict[str, float]:
        jvm = self.spark._jvm
        rules = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics()
        hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        snap = hist.getSnapshot()
        count = hist.getCount()
        text = jvm.java.util.Arrays.toString(snap.getValues())[1:-1]
        values = [int(v) for v in text.split(",") if v.strip()]
        # The reservoir keeps every sample up to its size and a sample
        # beyond it; scale the retained sum to the full count.
        total = sum(values) * count / len(values) if values else 0.0
        return {
            "catalyst_ms": rules.time() / 1e6,
            "codegen_classes": float(count),
            "codegen_compile_ms": float(total),
        }

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)

    @contextlib.contextmanager
    def span(self, name: str, module: str) -> Iterator[Span]:
        if threading.get_ident() != self._main:
            yield Span(-1, name, module, None, None, time.time())
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        sp = Span(
            id=sid,
            name=name,
            module=module,
            parent=parent.id if parent else None,
            op=parent.op if parent else sid,
            start=0.0,
        )
        if parent:
            parent.children.append(sid)
        if module == "op":
            sp.counts.update({f"jvm0.{k}": v for k, v in self.jvm_counters().items()})
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if module == "op":
                sp.counts.update(
                    {f"jvm1.{k}": v for k, v in self.jvm_counters().items()}
                )

    def record(self, name: str, module: str, start: float, end: float) -> Span:
        """A closed top-level span timed before Spark could be probed
        (session set-up); it carries no jobs."""
        sid = next(self._ids)
        sp = Span(sid, name, module, None, sid, start, end)
        self.spans.append(sp)
        return sp

    def count(self, key: str, value: float = 1.0) -> None:
        """Add to a counter on the innermost open span."""
        with self._lock:
            if self._stack:
                c = self._stack[-1].counts
                c[key] = c.get(key, 0.0) + value

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    # -- after the run --------------------------------------------------------

    def resolve_jobs(self) -> None:
        """Give every job of the session to the innermost closed span open
        at its submission, and read the stages of those jobs."""
        jvm = self.spark._jvm
        store = self.spark.sparkContext._jsc.sc().statusStore()
        ids = self.spark.sparkContext._jsc.statusTracker().getJobIdsForGroup(None)
        text = jvm.java.util.Arrays.toString(ids)[1:-1]
        closed = [s for s in self.spans if s.end > 0]
        for jid in sorted(int(j) for j in text.split(",") if j.strip()):
            job = store.job(jid)
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            # submission times are whole milliseconds, truncated
            t = sub.get().getTime() / 1e3
            owner = max(
                (s for s in closed if s.start - 1e-3 <= t <= s.end),
                key=lambda s: s.start,
                default=None,
            )
            if owner is None:
                continue
            owner.jobs.append(jid)
            sids = [int(x) for x in job.stageIds().mkString(",").split(",") if x]
            self.job_stages[jid] = sids
            for sid in sids:
                if sid not in self.stages:
                    self.stages[sid] = self._stage(store.lastStageAttempt(sid))

    @staticmethod
    def _stage(sd) -> StageInfo:
        sub, done = sd.submissionTime(), sd.completionTime()
        return StageInfo(
            status=sd.status().toString(),
            start=sub.get().getTime() / 1e3 if sub.isDefined() else None,
            end=done.get().getTime() / 1e3 if done.isDefined() else None,
            run_s=sd.executorRunTime() / 1e3,
            cpu_s=sd.executorCpuTime() / 1e9,
            shuffle_write_bytes=int(sd.shuffleWriteBytes()),
            spill_bytes=int(sd.diskBytesSpilled()),
            gc_s=sd.jvmGcTime() / 1e3,
            tasks_failed=int(sd.numFailedTasks()),
        )

    def by_id(self) -> dict[int, Span]:
        return {s.id: s for s in self.spans}

    def to_records(self) -> list[dict]:
        return [
            {
                "run_id": self.run_id,
                "id": s.id,
                "name": s.name,
                "module": s.module,
                "parent": s.parent,
                "op": s.op,
                "start": s.start,
                "end": s.end,
                "jobs": s.jobs,
                "counts": s.counts,
            }
            for s in self.spans
        ]


# -- per-span arithmetic -------------------------------------------------------


def self_intervals(span: Span, spans: dict[int, Span]) -> list[Interval]:
    kids = [(spans[c].start, spans[c].end) for c in span.children]
    return subtract([(span.start, span.end)], kids)


def descendants(op: Span, spans: dict[int, Span]) -> list[Span]:
    out, todo = [], list(op.children)
    while todo:
        s = spans[todo.pop()]
        out.append(s)
        todo.extend(s.children)
    return out


def all_jobs(span: Span, spans: dict[int, Span]) -> list[int]:
    """Jobs submitted by ``span`` or any span under it."""
    return span.jobs + [j for d in descendants(span, spans) for j in d.jobs]


# -- instrumentation ----------------------------------------------------------


def _choice_count(schema) -> int:
    from relationalize_spark.types import is_choice

    cols = schema.columns if hasattr(schema, "columns") else schema
    return sum(1 for tag in cols.values() if is_choice(tag))


def _dir_files(path: str) -> tuple[int, int]:
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _wrap(tracer: Tracer, fn: Callable, name: str, module: str, after=None) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        outer = tracer.current()
        nested = outer is not None and outer.module == module
        with tracer.span(name, module) as sp:
            result = fn(*args, **kwargs)
            if after is not None:
                after(sp, nested, args, kwargs, result)
        return result

    return wrapper


def _after_relationalize(sp, nested, args, kwargs, result):
    sp.counts["tables_out"] = len(result)


def _after_infer_schema(sp, nested, args, kwargs, result):
    if not nested:
        sp.counts["choice_splits"] = _choice_count(result)


def _after_infer_and_convert(sp, nested, args, kwargs, result):
    if not nested:
        sp.counts["choice_splits"] = _choice_count(result[1])


def _after_convert_choice(sp, nested, args, kwargs, result):
    if not nested:
        members = args[1] if len(args) > 1 else kwargs["members_by_col"]
        sp.counts["choice_splits"] = _choice_count(members)


def _after_relationalize_json(sp, nested, args, kwargs, result):
    sp.counts["tables"] = len(result.tables)


def _after_write_tables(sp, nested, args, kwargs, result):
    tables = args[0] if args else kwargs["tables"]
    base = args[1] if len(args) > 1 else kwargs["base_path"]
    for t in tables:
        files, size = _dir_files(os.path.join(base, t))
        sp.counts["files_out"] = sp.counts.get("files_out", 0) + files
        sp.counts["bytes_out"] = sp.counts.get("bytes_out", 0) + size


@contextlib.contextmanager
def instrument(tracer: Tracer) -> Iterator[None]:
    """Wrap the library's public functions where their callers look them
    up; restore the originals on exit. Modules come from
    ``import_module`` because package ``__init__`` files re-export
    functions under their submodules' names."""
    jsonl = importlib.import_module("relationalize_spark.sources.jsonl")
    infer = importlib.import_module("relationalize_spark.operators.infer")
    schema = importlib.import_module("relationalize_spark.schema")
    writers = importlib.import_module("relationalize_spark.sinks.writers")
    stream = importlib.import_module("relationalize_spark.streaming.relationalize_stream")
    Schema, Demux, RJ = schema.Schema, stream.JsonStreamDemux, jsonl.RelationalizedJson

    def unpersist(orig):
        @functools.wraps(orig)
        def wrapper(self):
            tracer.count("cached_bytes", tracer.cached_bytes())
            return orig(self)

        return wrapper

    def fs_write_text(orig):
        @functools.wraps(orig)
        def wrapper(spark, path_str, content):
            if path_str.endswith("_schema.json"):
                tracer.count("schema_writes")
            return orig(spark, path_str, content)

        return wrapper

    merge = Schema.__dict__["merge"].__func__
    patches = [
        (jsonl, "relationalize_json", _wrap(
            tracer, jsonl.relationalize_json, "relationalize_json", "sources.jsonl",
            _after_relationalize_json)),
        (jsonl, "relationalize", _wrap(
            tracer, jsonl.relationalize, "relationalize", "operators.relationalize",
            _after_relationalize)),
        (jsonl, "infer_and_convert", _wrap(
            tracer, jsonl.infer_and_convert, "infer_and_convert", "operators.infer",
            _after_infer_and_convert)),
        (infer, "infer_schema", _wrap(
            tracer, infer.infer_schema, "infer_schema", "operators.infer",
            _after_infer_schema)),
        (infer, "convert_choice_columns", _wrap(
            tracer, infer.convert_choice_columns, "convert_choice_columns",
            "operators.infer", _after_convert_choice)),
        (Schema, "merge", staticmethod(_wrap(tracer, merge, "Schema.merge", "schema"))),
        (Schema, "generate_ddl", _wrap(
            tracer, Schema.generate_ddl, "Schema.generate_ddl", "schema")),
        (writers, "write_tables", _wrap(
            tracer, writers.write_tables, "write_tables", "sinks.writers",
            _after_write_tables)),
        (Demux, "process_batch", _wrap(
            tracer, Demux.process_batch, "JsonStreamDemux.process_batch", "streaming")),
        (Demux, "finalize", _wrap(
            tracer, Demux.finalize, "JsonStreamDemux.finalize", "streaming")),
        (RJ, "unpersist", unpersist(RJ.unpersist)),
        (stream, "_fs_write_text", fs_write_text(stream._fs_write_text)),
    ]
    saved = [(obj, attr, obj.__dict__[attr]) for obj, attr, _ in patches]
    try:
        for obj, attr, new in patches:
            setattr(obj, attr, new)
        yield
    finally:
        for obj, attr, old in saved:
            setattr(obj, attr, old)
