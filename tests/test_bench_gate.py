"""``tools/bench_gate.py``, the CI gate over seqbench results, on
hand-written result lines against the bounds in ``BENCHMARK.json``.
Pure Python: no Spark session."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

_spec = importlib.util.spec_from_file_location("bench_gate", REPO / "tools" / "bench_gate.py")
bench_gate = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_gate)

BASE = {"setup_s": 11.0, "wall_s": 0.5, "rows_per_s": 8.0e5, "pairs_per_s": 9.0e6,
        "latency_p50_s": 0.5, "latency_p90_s": 0.6, "requests_per_s": 2.0,
        "driver_peak_rss_mb": 120.0}


def _line(correct=True, attempted=40, failed=0, **changed) -> str:
    """One seqbench result line: the last line ``seqbench/run.py`` prints."""
    values = {**BASE, **changed}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": "x"} for k, v in values.items()}})


def _write(directory: Path, lines: dict) -> str:
    directory.mkdir()
    for wl, runs in lines.items():
        if runs is not None:
            (directory / f"{wl}.jsonl").write_text("\n".join(runs) + "\n")
    return str(directory)


def _gate(tmp_path, change: dict) -> int:
    """Exit status of the gate: two runs of BASE per workload on the
    parent, the same on the change except where ``change`` overrides a
    workload's runs (``None``: no result file)."""
    parent = {wl: [_line(), _line()] for wl in WORKLOADS}
    change = {**parent, **change}
    argv = [str(REPO / "BENCHMARK.json"), _write(tmp_path / "parent", parent),
            _write(tmp_path / "change", change)]
    return bench_gate.main(argv)


def test_within_every_bound_passes(tmp_path):
    # 10% worse on each, inside the 0.25 bounds and driver_peak_rss_mb's 0.10
    runs = [_line(wall_s=0.55, pairs_per_s=8.1e6, driver_peak_rss_mb=131.0)] * 2
    assert _gate(tmp_path, {"join_pairs": runs}) == 0


def test_lower_is_better_metric_30pct_worse_fails(tmp_path, capsys):
    assert _gate(tmp_path, {"join_pairs": [_line(wall_s=0.65)] * 2}) == 1
    assert "join_pairs: wall_s worse by 30.0%" in capsys.readouterr().out


@pytest.mark.parametrize("factor, status", [(0.7, 1), (1.3, 0)])
def test_higher_is_better_metric_direction(tmp_path, factor, status):
    runs = [_line(pairs_per_s=BASE["pairs_per_s"] * factor)] * 2
    assert _gate(tmp_path, {"annotate_index": runs}) == status


def test_wrong_answer_fails(tmp_path, capsys):
    runs = [_line(), _line(correct=False)]
    assert _gate(tmp_path, {"region_lookups": runs}) == 1
    assert "region_lookups: a change run answered wrongly" in capsys.readouterr().out


def test_larger_failed_share_fails(tmp_path, capsys):
    runs = [_line(), _line(failed=1)]
    assert _gate(tmp_path, {"region_lookups": runs}) == 1
    assert "region_lookups: failed share" in capsys.readouterr().out


def test_workload_missing_from_change_fails(tmp_path, capsys):
    assert _gate(tmp_path, {"join_pairs": None}) == 1
    assert "join_pairs: no result from the change" in capsys.readouterr().out
