"""The benchmark's workloads.

Each workload turns a seed into inputs (untimed), then runs operations
in a closed loop with one caller: a cold operation in the fresh
session, warm operations for the measured seconds, and one read-back
of everything written. Every operation's output is checked against a
pure-Python walk of the generated objects, outside the timed region.
See README.md next to this file for why each workload exists and which
metrics each layer should move.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import ClassVar

from . import corpus

#: objects in the batch corpus; objects per stream micro-batch
BATCH_OBJECTS = 4000
STREAM_BATCH_OBJECTS = 2000


@dataclass
class Workload:
    """Inputs and outputs of one run of one workload, under ``work``."""

    seed: int
    work: str
    records_per_op: int = 0
    expected: corpus.Expected = field(default_factory=corpus.Expected)

    #: modules that must record spans when this workload is traced
    primary_modules: ClassVar[tuple[str, ...]] = ()
    #: warm operations a run makes even when they outlast ``--seconds``
    min_warm_ops: ClassVar[int] = 2

    def prepare(self) -> None:
        raise NotImplementedError

    def before_op(self, spark, i: int) -> None:
        """Untimed per-operation input staging."""

    def op(self, spark, i: int) -> None:
        raise NotImplementedError

    def check_op(self, i: int) -> list[str]:
        return []

    def readback(self, spark) -> None:
        raise NotImplementedError

    def check_readback(self) -> list[str]:
        return []


class JsonlBatch(Workload):
    """JSONL file -> ``relationalize_json(convert=True)`` -> parquet via
    ``write_tables`` -> ``Schema.generate_ddl`` per table."""

    primary_modules = (
        "plans.session", "sources.jsonl", "operators.relationalize",
        "operators.infer", "schema", "sinks.writers",
    )

    def prepare(self) -> None:
        objs = corpus.generate(f"batch:{self.seed}", BATCH_OBJECTS)
        self.input = os.path.join(self.work, "input.jsonl")
        self.out = os.path.join(self.work, "tables")
        corpus.write_jsonl(self.input, objs)
        self.expected = corpus.expected_tables(objs)
        self.records_per_op = len(objs)
        self.ddl: dict[str, str] = {}

    def op(self, spark, i: int) -> None:
        # through the modules, so a traced run sees the wrapped functions
        from relationalize_spark.sinks import writers
        from relationalize_spark.sources import jsonl

        out = jsonl.relationalize_json(self.input, corpus.ROOT, spark=spark)
        writers.write_tables(out.tables, self.out, format="parquet")
        self.ddl = {t: out.schemas[t].generate_ddl(t) for t in out.tables}
        out.unpersist()

    def check_op(self, i: int) -> list[str]:
        return check_tables(self.out, self.expected, self.ddl)

    def readback(self, spark) -> None:
        for t in sorted(self.ddl):
            spark.read.parquet(os.path.join(self.out, t)).write.format("noop").mode(
                "overwrite"
            ).save()


class JsonlStream(Workload):
    """2,000-line micro-batches through ``JsonStreamDemux.process_batch``,
    then ``finalize`` and a noop materialization of every table."""

    primary_modules = (
        "plans.session", "sources.jsonl", "operators.relationalize",
        "operators.infer", "schema", "streaming",
    )
    min_warm_ops = 3

    def prepare(self) -> None:
        from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

        self.demux = JsonStreamDemux(
            base_path=os.path.join(self.work, "demux"), name=corpus.ROOT
        )
        self.records_per_op = STREAM_BATCH_OBJECTS
        self.batches: dict[int, object] = {}
        self.final: dict = {}

    def before_op(self, spark, i: int) -> None:
        objs = corpus.generate(
            f"stream:{self.seed}:{i}", STREAM_BATCH_OBJECTS,
            start_id=i * STREAM_BATCH_OBJECTS,
        )
        path = os.path.join(self.work, "in", f"batch-{i}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        corpus.write_jsonl(path, objs)
        self.expected.add(corpus.expected_tables(objs))
        self.batches[i] = spark.read.text(path)

    def op(self, spark, i: int) -> None:
        self.demux.process_batch(self.batches.pop(i), i)

    def check_op(self, i: int) -> list[str]:
        got, want = set(self.demux.schemas), set(self.expected.rows)
        if got != want:
            return [f"batch {i}: tables {sorted(got ^ want)} differ from the walk"]
        return []

    def readback(self, spark) -> None:
        self.final = self.demux.finalize(spark)
        for df in self.final.values():
            df.write.format("noop").mode("overwrite").save()

    def check_readback(self) -> list[str]:
        got, want = set(self.final), set(self.expected.rows)
        if got != want:
            return [f"finalize: tables {sorted(got ^ want)} differ from the walk"]
        errors = []
        for t in sorted(want):
            n = self.final[t].count()
            if n != self.expected.rows[t]:
                errors.append(f"finalize: {t} has {n} rows, walk has {self.expected.rows[t]}")
        return errors


WORKLOADS = {"jsonl_batch": JsonlBatch, "jsonl_stream": JsonlStream}


def make(name: str, seed: int, work: str) -> Workload:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return WORKLOADS[name](seed=seed, work=work)


def check_tables(out: str, exp: corpus.Expected, ddl: dict[str, str]) -> list[str]:
    """Table set, row counts, column sets (choice splits included) and
    rid linkage of the written parquet, read with DuckDB."""
    import duckdb

    want = set(exp.rows)
    got = {d for d in os.listdir(out) if not d.startswith((".", "_"))} if os.path.isdir(out) else set()
    errors = []
    if got != want:
        errors.append(f"tables {sorted(got ^ want)} differ from the walk")
    if set(ddl) != want:
        errors.append(f"DDL for {sorted(set(ddl) ^ want)} differs from the walk")
    con = duckdb.connect()
    try:
        def rel(t: str) -> str:
            return f"read_parquet('{os.path.join(out, t)}/*.parquet')"

        for t in sorted(want & got):
            n = con.sql(f"SELECT count(*) FROM {rel(t)}").fetchone()[0]
            if n != exp.rows[t]:
                errors.append(f"{t}: {n} rows, walk has {exp.rows[t]}")
            cols = {r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {rel(t)}").fetchall()}
            if cols != exp.columns(t):
                errors.append(f"{t}: columns {sorted(cols ^ exp.columns(t))} differ")
            if t in exp.parent and exp.parent[t][0] in got:
                parent, path = exp.parent[t]
                orphans = con.sql(
                    f'SELECT count(*) FROM {rel(t)} c ANTI JOIN {rel(parent)} p '
                    f'ON c."{path}__rid_" = p."{path}"'
                ).fetchone()[0]
                if orphans:
                    errors.append(f"{t}: {orphans} rows with no parent {parent}")
    finally:
        con.close()
    return errors
