"""Tests of the benchmark's own machinery; no Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, layer_totals, parse_event_log, self_times, trigger_totals  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_inputs_are_deterministic_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    inputs.write_inputs(str(a), seed=7, scale=0.001)
    inputs.write_inputs(str(b), seed=7, scale=0.001)
    inputs.write_inputs(str(c), seed=8, scale=0.001)
    for t in inputs.TABLES:
        ta, tb, tc = (pq.read_table(d / f"{t}.parquet") for d in (a, b, c))
        assert ta.equals(tb), t
        # Another seed permutes the rows and keeps the content.
        key = [(f.name, "ascending") for f in ta.schema if not str(f.type).startswith("list")]
        assert ta.sort_by(key).equals(tc.sort_by(key)), t
    assert not pq.read_table(a / "lineitem.parquet").equals(pq.read_table(c / "lineitem.parquet"))


def test_inputs_match_the_engine_schema():
    tables = inputs.base_tables(0.001)
    assert tables["lineitem"].num_rows == 6000
    assert str(tables["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(tables["nation"].schema.field("n_nationkey").type) == "int32"
    assert str(tables["embeddings"].schema.field("embedding").type) == "list<item: float>"


def _spans(*rows):
    return [Span(name, start, end, parent, "q", index=i) for i, (name, start, end, parent) in enumerate(rows)]


def test_self_time_subtracts_the_union_of_children():
    spans = _spans(
        ("spark.build", 0.0, 10.0, None),
        ("operators.graph:a", 1.0, 4.0, 0),
        ("operators.graph:b", 3.0, 6.0, 0),  # overlaps a
        ("transfer.to_driver:toPandas", 2.0, 3.0, 1),
    )
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_layer_totals_count_outermost_spans_once():
    spans = _spans(
        ("spark.build", 0.0, 10.0, None),
        ("operators.itemsets:association_rules", 1.0, 9.0, 0),
        ("operators.itemsets:frequent_itemsets", 2.0, 5.0, 1),
        ("transfer.to_driver:toPandas", 3.0, 4.0, 2),
        ("operators.graph:scc", 9.5, 9.9, 0),
        ("spark.collect", 10.0, 11.0, None),
    )
    t = layer_totals(spans)
    assert t["spark.build_s"] == pytest.approx(10.0)
    assert t["spark.collect_s"] == pytest.approx(1.0)
    assert t["operators.itemsets.calls"] == 2
    assert t["operators.itemsets.s"] == pytest.approx(8.0)
    assert t["operators.itemsets.self_s"] == pytest.approx(5.0 + 2.0)
    assert t["hybrid.driver_calls"] == 1
    assert t["hybrid.distributed_calls"] == 1


def test_reader_cache_misses_are_parquet_reads_inside_load_table():
    spans = _spans(
        ("spark.build", 0.0, 10.0, None),
        ("sources.load_table:load_table", 1.0, 2.0, 0),
        ("sources.parquet_read:DataFrameReader.parquet", 1.1, 1.9, 1),
        ("sources.load_table:load_table", 3.0, 3.1, 0),  # served from the cache
        ("sources.parquet_read:DataFrameReader.parquet", 4.0, 5.0, 0),  # a sink reading back
    )
    t = layer_totals(spans)
    assert t["sources.load_table.calls"] == 2
    assert t["sources.load_table.parquet_reads"] == 1
    assert t["sources.parquet_read.calls"] == 2


def test_spans_opened_on_another_thread_hang_under_the_main_span():
    tracer = Tracer()
    with tracer.span("spark.build"):
        with tracer.span("operators.graph:kcore"):
            pass
        def sink():
            with tracer.span("sources.write:TransactionalTable.apply_cdc"):
                assert tracer.inside("sources.write")
                with tracer.span("transfer.to_driver:DataFrame.collect"):
                    pass

        worker = threading.Thread(target=sink)
        worker.start()
        worker.join()
        assert not tracer.inside("sources.write")
    build, kcore, write, collect = tracer.spans
    assert kcore.parent == build.index
    assert write.parent == build.index
    assert collect.parent == write.index
    assert all(s.end >= s.start for s in tracer.spans)


def test_trigger_totals_sum_batches_and_take_the_median_trigger():
    batches = [
        {"input_rows": 10, "triggerExecution": 1.0, "addBatch": 0.8, "queryPlanning": 0.1, "walCommit": 0.05},
        {"input_rows": 20, "triggerExecution": 3.0, "addBatch": 2.5, "queryPlanning": 0.2, "walCommit": 0.05},
        {"input_rows": 5, "triggerExecution": 2.0, "addBatch": 1.5, "queryPlanning": 0.1, "walCommit": 0.1},
    ]
    t = trigger_totals(batches)
    assert t == pytest.approx({
        "streaming.triggers": 3, "streaming.trigger_s": 6.0, "streaming.trigger_p50_s": 2.0,
        "streaming.add_batch_s": 4.8, "streaming.query_planning_s": 0.4, "streaming.wal_commit_s": 0.2,
        "streaming.input_rows": 35,
    })
    assert trigger_totals([])["streaming.triggers"] == 0


def test_event_log_sums_task_metrics_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "p0.q"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "warm"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 2e8, "JVM GC Time": 10,
            "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 999}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events))
    got = parse_event_log(str(path), {"p0.q"})
    assert got == pytest.approx({
        "spark.shuffle_read_bytes": 7, "spark.shuffle_write_bytes": 5,
        "spark.executor_run_s": 0.5, "spark.executor_cpu_s": 0.2, "spark.jvm_gc_s": 0.01,
    })


def test_median_pass_sums_each_querys_median():
    times = {"a": [1.0, 5.0, 2.0], "b": [3.0, 3.5, 9.0]}
    samples = [run.Sample(n, f"pass{p}.{n}", seconds=t[p]) for p in range(3) for n, t in times.items()]
    assert run.median_pass_s(samples) == pytest.approx(2.0 + 3.5)


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for section, defined in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[section]}
        assert declared == defined, section
        for name in declared:
            assert NAME.fullmatch(name), name
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS) == set(run.NOMINAL_PASS_S)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
