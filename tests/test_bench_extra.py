"""bench_extra.py helpers: the result-line parser."""

from __future__ import annotations

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
