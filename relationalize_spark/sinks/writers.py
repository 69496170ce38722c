"""File sinks for relationalized tables.

Mirrors the reference's output surface (reference utils.py:5-28 and
the CSV/gzip-JSONL examples) on top of Spark writers: JSONL, CSV with
the sorted-header contract (reference schema.py:98-114 drives the
CSV field order in examples/local_fs_example_csv_output.py:52-59),
parquet (the scale default), and a dict-of-tables writer for
relationalize output whose per-table writes overlap on one driver
thread pool (:func:`write_each`, shared with the stream demux).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from ..schema import Schema

#: driver threads that submit per-table writes. Each table's write is
#: its own Spark job into its own directory, and much of its time is
#: driver latency (Catalyst analysis, job submission) or a job too
#: small to fill the cores, so independent tables overlap well. 16
#: threads measured no better than 8 on a 70-table stream corpus
#: (BASELINE.md r8).
WRITE_POOL_SIZE = 8


class TableWriteError(RuntimeError):
    """One table's write failed; ``table`` and ``path`` name it."""

    def __init__(
        self, table: str, path: str, cause: BaseException, others: Sequence[str] = ()
    ):
        msg = f"writing table {table!r} to {path} failed: {cause}"
        if others:
            msg += f" (also failed: {list(others)})"
        super().__init__(msg)
        self.table = table
        self.path = path


def write_each(
    targets: Mapping[str, str], write: Callable[[str, str], None]
) -> None:
    """Call ``write(table, path)`` for every ``table -> path`` entry of
    ``targets`` on a driver thread pool of up to
    :data:`WRITE_POOL_SIZE` threads — the one way this package submits
    a set of per-table writes. Targets must be disjoint directories.

    Every write runs to its end even when another one fails; after the
    pool joins, the first failed table in ``targets`` order raises
    :class:`TableWriteError` (chained to its cause, other failed
    tables listed). Spark local properties of the calling thread (job
    group, scheduler pool) do not carry into the pool threads.
    """
    if not targets:
        return
    with ThreadPoolExecutor(max_workers=min(WRITE_POOL_SIZE, len(targets))) as ex:
        futures = {t: ex.submit(write, t, p) for t, p in targets.items()}
    # leaving the block joined the pool: every write has ended
    failed = [t for t, f in futures.items() if f.exception() is not None]
    if failed:
        t, e = failed[0], futures[failed[0]].exception()
        raise TableWriteError(t, targets[t], e, failed[1:]) from e


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def write_csv_sorted(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    schema: Schema | None = None,
) -> None:
    """CSV with header, columns sorted by name — the reference's
    deterministic column contract. When a choice Schema is given, its
    output_columns() (split choice columns, sorted) define the order;
    missing columns error early rather than silently misalign."""
    cols = schema.output_columns() if schema else sorted(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"DataFrame lacks schema columns: {missing}")
    df.select(*cols).write.mode(mode).option("header", "true").csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Native ORC sink (dictionary + RLE encodings, vectorized read
    back) — same contract as write_parquet for warehouses on the ORC
    side of the fence."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_tables(
    tables: dict[str, DataFrame],
    base_path: str,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write every derived table under ``{base_path}/{table}`` — the
    batch counterpart of the streaming parquet_table_sink.

    The tables' writes overlap: each is its own Spark job, submitted
    from one of up to :data:`WRITE_POOL_SIZE` driver threads
    (:func:`write_each`). A failed write does not stop the others;
    once all have ended, :class:`TableWriteError` names the failed
    table and its target path. An empty ``tables`` writes nothing."""
    write_each(
        {name: f"{base_path}/{name}" for name in tables},
        lambda name, path: tables[name].write.mode(mode).format(format).save(path),
    )
