"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import corpus, layers, run, workloads
from perfbench.trace import Span, StageInfo, Tracer, all_jobs, measure, self_intervals, subtract, union

BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


# -- generator ----------------------------------------------------------------


def test_generator_is_byte_identical_for_one_seed():
    a = corpus.to_jsonl(corpus.generate("batch:7", 300))
    b = corpus.to_jsonl(corpus.generate("batch:7", 300))
    assert a == b


def test_generator_differs_across_seeds():
    a = corpus.to_jsonl(corpus.generate("batch:7", 300))
    b = corpus.to_jsonl(corpus.generate("batch:8", 300))
    assert a != b


def test_written_file_matches_serialization(tmp_path):
    objs = corpus.generate("batch:1", 50)
    n = corpus.write_jsonl(str(tmp_path / "x.jsonl"), objs)
    data = (tmp_path / "x.jsonl").read_bytes()
    assert len(data) == n and data.decode() == corpus.to_jsonl(objs)


def test_corpus_has_the_promised_shape():
    exp = corpus.expected_tables(corpus.generate("batch:1", 2000))
    assert len(exp.rows) == 9
    assert exp.columns("root") >= {"ts_int", "ts_str", "amount_int", "amount_float",
                                   "user_geo_cc", "user_geo_lat", "tags", "items"}
    assert "items_discounts_pct_float" in exp.columns("root_items_discounts")
    assert exp.parent["root_items_legs_hops"] == ("root_items_legs", "items_legs_hops")


def test_walk_matches_reference_fixtures():
    # FIXTURES.md CASE_5 (array of arrays) and CASE_6 (array in struct array)
    exp = corpus.expected_tables([{"1": [[1], [2, 3]]}])
    assert exp.rows == {"root": 1, "root_1": 2, "root_1__val_": 3}
    assert exp.columns("root_1__val_") == {"1__val___val_", "1__val___rid_", "1__val___index_"}
    exp = corpus.expected_tables(
        [{"1": [{"2": "foobar", "3": [1, 2]}, {"2": "barfoo", "3": [3, 4]}], "2": "foobar"}]
    )
    assert exp.rows == {"root": 1, "root_1": 2, "root_1_3": 4}
    assert exp.columns("root_1") == {"1_2", "1_3", "1__rid_", "1__index_"}


def test_walk_splits_choice_columns():
    exp = corpus.expected_tables([{"a": 1}, {"a": "x"}, {"a": 2.5}, {"a": True}])
    assert exp.columns("root") == {"a_int", "a_str", "a_float", "a_bool"}


# -- span arithmetic ----------------------------------------------------------


def test_interval_helpers():
    assert union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert subtract([(0, 10)], [(1, 3), (2, 4), (9, 12)]) == [(0, 1), (4, 9)]
    assert subtract([(0, 10)], []) == [(0, 10)]
    assert measure([(0, 2), (1, 3)]) == 3


def _tracer_with(spans: list[Span], stages: dict[int, StageInfo] | None = None) -> Tracer:
    t = Tracer("test")
    t.spans = spans
    for s in spans:
        if s.parent is not None:
            next(p for p in spans if p.id == s.parent).children.append(s.id)
    t.stages = stages or {}
    return t


def test_self_time_subtracts_nested_children():
    op = Span(0, "op", "op", None, 0, 0.0, 20.0)
    a = Span(1, "relationalize_json", "sources.jsonl", 0, 0, 1.0, 11.0)
    b = Span(2, "relationalize", "operators.relationalize", 1, 0, 2.0, 6.0)
    c = Span(3, "infer_and_convert", "operators.infer", 1, 0, 7.0, 9.0)
    d = Span(4, "infer_schema", "operators.infer", 3, 0, 7.5, 8.0)
    t = _tracer_with([op, a, b, c, d])
    spans = t.by_id()
    assert measure(self_intervals(a, spans)) == pytest.approx(10 - 4 - 2)
    assert measure(self_intervals(c, spans)) == pytest.approx(1.5)
    assert measure(self_intervals(op, spans)) == pytest.approx(10)


def _job_spans():
    op = Span(0, "warm#1", "op", None, 0, 0.0, 20.0, jobs=[9])
    a = Span(1, "relationalize_json", "sources.jsonl", 0, 0, 1.0, 11.0, jobs=[1, 2])
    b = Span(2, "relationalize", "operators.relationalize", 1, 0, 2.0, 6.0, jobs=[3])
    c = Span(3, "infer_and_convert", "operators.infer", 1, 0, 7.0, 9.0,
             counts={"choice_splits": 2})
    d = Span(4, "infer_schema", "operators.infer", 3, 0, 7.5, 8.0, jobs=[4])
    w = Span(5, "write_tables", "sinks.writers", 0, 0, 12.0, 18.0, jobs=[5, 6],
             counts={"files_out": 3, "bytes_out": 100})
    op.counts = {f"jvm{i}.{k}": float(i) for i in (0, 1)
                 for k in ("catalyst_ms", "codegen_compile_ms", "codegen_classes")}
    return [op, a, b, c, d, w]


def _stage(start, end, run_s=1.0):
    return StageInfo("COMPLETE", start, end, run_s, 0.5, 0, 0, 0.1, 0)


def test_op_layers_attribute_self_time_jobs_and_driver_time():
    spans = _job_spans()
    t = _tracer_with(spans, {10: _stage(3.0, 5.0), 11: _stage(13.0, 14.0)})
    t.job_stages = {3: [10], 5: [11]}
    assert sorted(all_jobs(spans[0], t.by_id())) == [1, 2, 3, 4, 5, 6, 9]
    out = layers.op_layers(spans[0], t)
    assert out["sources.jsonl.self_s"] == pytest.approx(4.0)
    assert out["sources.jsonl.jobs"] == 2
    assert out["sources.jsonl.total_jobs"] == 4
    assert out["operators.relationalize.jobs"] == 1
    # relationalize's self time 2..6 minus the stage running 3..5
    assert out["operators.relationalize.driver_s"] == pytest.approx(2.0)
    assert out["operators.infer.self_s"] == pytest.approx(2.0)
    assert out["operators.infer.jobs"] == 1
    assert out["operators.infer.choice_splits"] == 2
    assert out["sinks.writers.jobs"] == 2 and out["sinks.writers.files_out"] == 3
    assert out["spark.jobs"] == 7 and out["spark.stages"] == 2
    assert out["spark.executor_run_s"] == pytest.approx(2.0)
    assert out["spark.catalyst_ms"] == 1.0


# -- metric names -------------------------------------------------------------


def _names(kind):
    return [m["name"] for m in BENCH[kind]]


def test_end_to_end_metric_names_match_benchmark_json():
    ops = [
        {"kind": "cold", "seconds": 9.0, "cpu_s": 9.0, "steal_s": 0.0, "traced": False},
        {"kind": "warm", "seconds": 4.0, "cpu_s": 9.0, "steal_s": 0.0, "traced": False},
        {"kind": "warm", "seconds": 5.0, "cpu_s": 11.0, "steal_s": 0.0, "traced": False},
        {"kind": "readback", "seconds": 1.0, "cpu_s": 1.0, "steal_s": 0.0, "traced": False},
    ]
    wl = workloads.JsonlBatch(seed=0, work="unused", records_per_op=100)
    out = run.end_to_end_metrics(wl, ops, [3.0, 1.0, 2.0], 2**30)
    assert list(out) == _names("end_to_end")
    assert out["setup_s"] == 2.0 and out["op_p50_s"] == 4.5
    assert out["records_per_s"] == pytest.approx(200 / 9)
    assert out["op_cpu_s"] == 10.0
    assert all(v for v in out.values())


def test_unstolen_time_scales_wall_time_by_the_cpu_share_received():
    op = {"seconds": 10.0, "cpu_s": 30.0, "steal_s": 10.0}
    assert run.unstolen_s(op) == pytest.approx(7.5)
    assert run.unstolen_s({"seconds": 2.0, "cpu_s": 0.0, "steal_s": 0.0}) == 2.0


def test_per_layer_metric_names_match_benchmark_json():
    spans = _job_spans()
    t = _tracer_with(spans)
    cold = spans[0]
    out = layers.layer_metrics(
        t, _names("per_layer"), [spans[0]], cold, None,
        {"start_s": 5.0, "restart_s": 0.1}, 0.01,
    )
    assert list(out) == _names("per_layer")


def test_every_instrumented_module_is_primary_on_some_workload():
    named = {layers.module_of(n) for n in _names("per_layer")} - {None}
    assert named == set(layers.INSTRUMENTED)
    primary = {m for w in workloads.WORKLOADS.values() for m in w.primary_modules}
    assert named <= primary


def test_benchmark_json_names_workloads_the_runner_knows():
    assert set(workloads.WORKLOADS) == {w["name"] for w in BENCH["workloads"]}
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert units["setup_s"] == "s"
    assert all(m["bound"] <= 0.25 for m in BENCH["end_to_end"])


def test_instrument_restores_the_library():
    pytest.importorskip("pyspark")
    from relationalize_spark.schema import Schema
    from relationalize_spark.sources import jsonl
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    from perfbench.trace import instrument

    before = (jsonl.relationalize_json, Schema.__dict__["merge"], JsonStreamDemux.process_batch)
    with instrument(Tracer("test")):
        assert jsonl.relationalize_json is not before[0]
        assert Schema.merge({"a": "int"}, {"a": "str"}).columns == {"a": "c-int-str"}
    after = (jsonl.relationalize_json, Schema.__dict__["merge"], JsonStreamDemux.process_batch)
    assert after == before
