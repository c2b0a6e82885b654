"""Metric arithmetic on synthetic passes and spans, and BENCHMARK.json
agreeing with the names and units the benchmark prints."""

import json
import os
from types import SimpleNamespace

import pytest

import metrics
import prepare

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def op(latency, ok=True, rows=100, pairs=10, name="x", detail=None, steal=0.0):
    return SimpleNamespace(name=name, latency_s=latency, ok=ok, rows_in=rows, pairs=pairs,
                           detail=detail or {}, steal=steal)


SETUPS = {"start_s": 5.0, "warmup_s": 2.0, "total_s": 9.5}


def test_end_to_end():
    passes = [[op(1.0), op(3.0)], [op(2.0), op(2.0)], [op(0.5, ok=False), op(0.5)]]
    m = metrics.end_to_end(passes, SETUPS, seconds=10.0, driver_rss_mb=123.0)
    assert list(m) == list(metrics.END_TO_END)
    v = {k: x["value"] for k, x in m.items()}
    assert v["setup_s"] == 9.5
    assert v["wall_s"] == 4.0
    # pass rates 100/4, 100/4 and 100/1: the median ignores the odd pass
    assert v["rows_per_s"] == pytest.approx(25.0)
    assert v["pairs_per_s"] == pytest.approx(5.0)
    # the failed operation counts at the full run length
    assert v["latency_p50_s"] == 2.0
    assert v["latency_p90_s"] == pytest.approx(3.0 + 0.5 * 7.0)
    assert v["requests_per_s"] == pytest.approx(0.5)
    assert v["driver_peak_rss_mb"] == 123.0


def test_quiet_keeps_passes_measured_on_a_quiet_host():
    steals = [0.0, 0.01, 0.15, 0.02, 0.3]
    passes = [[op(1.0, steal=s)] for s in steals]
    # three of five are quiet: every quiet pass counts, no contended one
    assert [p[0].steal for p in metrics.quiet(passes)] == [0.0, 0.01, 0.02]
    # all contended: the less-stolen half (up to the median) counts
    passes = [[op(1.0, steal=s)] for s in (0.2, 0.05, 0.1, 0.3, 0.08)]
    assert [p[0].steal for p in metrics.quiet(passes)] == [0.05, 0.1, 0.08]


def _span(sid, name, parent, op_id, wall, spark=None, plan=None):
    s = {"jobs": 0, "input_records": 0, "skew": 0.0}
    s.update(spark or {})
    return {"id": sid, "name": name, "parent": parent, "op": op_id, "wall_s": wall,
            "spark": s, "plan": plan or {}}


def test_per_layer_reads_the_traced_passes():
    base = [[op(1.0)]]
    traced = [[op(1.2, pairs=1, detail={"matched": 40})]]
    plan = {"scan_rows": 1000, "generate_rows": 1100, "generate_nodes": 2, "join_rows": 40}
    spans = [
        # parents carry their children's counters, as Tracer.finish leaves them
        _span(0, "op.region", None, 1, 1.2, {"jobs": 4, "executor_cpu_s": 2.4, "skew": 1.5}, plan),
        _span(1, "client.request_build", 0, 1, 0.1),
        _span(2, "sql.call", 0, 1, 0.2),
        _span(3, "sql.action", 0, 1, 0.9, {"jobs": 4, "executor_cpu_s": 2.4, "skew": 1.5}, plan),
    ]
    m = metrics.per_layer(base, traced, spans, SETUPS, cores=4, jvm_rss_mb=900.0)
    assert list(m) == list(metrics.PER_LAYER)
    v = {k: x["value"] for k, x in m.items()}
    assert v["sql.call_s"] == 0.2
    assert v["sql.rewrite_fired"] == 1
    assert v["binning.replication"] == pytest.approx(1.1)
    assert v["binning.pairs"] == 40
    assert v["scan.rows_per_match"] == 25
    assert v["spark.jobs"] == 4
    assert v["spark.cpu_util"] == pytest.approx(2.4 / (1.2 * 4))
    assert v["spark.task_skew"] == 1.5
    assert v["client.request_build_s"] == 0.1
    assert v["index.call_s"] == 0.0 and v["dedup.call_s"] == 0.0
    assert v["session.start_s"] == 5.0 and v["session.warmup_s"] == 2.0
    assert v["trace.overhead_frac"] == pytest.approx(0.2)


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(prepare.TABLES)
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
