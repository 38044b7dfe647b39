"""bench_extra.py helpers: the result-line parser and the tools/ import."""

from __future__ import annotations

import sys
import types

import pytest

import bench_extra


def test_result_line_picks_the_metric_json_line():
    out = "\n".join([
        '{"metric": "bench_total_sec", "value": 1.5, "queries": {"q1": 1.5}}',
        '{"note": "a logged dict after the result"}',
        "{not json",
        "done",
    ])
    assert bench_extra._result_line(out)["value"] == 1.5
    with pytest.raises(ValueError):
        bench_extra._result_line('{"note": 1}\n')


def test_hardware_control_adds_tools_to_sys_path_once(monkeypatch):
    fake = types.ModuleType("scaling_bench")
    fake.hardware_control = lambda cpus, reps: 0.0
    monkeypatch.setitem(sys.modules, "scaling_bench", fake)
    monkeypatch.setattr(sys, "path", [p for p in sys.path if p != bench_extra._TOOLS])
    for _ in range(3):
        bench_extra.hardware_control()
    assert sys.path.count(bench_extra._TOOLS) == 1
