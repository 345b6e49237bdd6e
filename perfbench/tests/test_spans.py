"""Unit tests of the benchmark's pure helpers.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, covered, geomean, parse_sql_metric, self_times  # noqa: E402


@pytest.mark.parametrize(
    "text, want",
    [
        ("1,174", 1174.0),
        ("0", 0.0),
        ("64.1 MiB", 64.1 * (1 << 20)),
        ("0.0 B", 0.0),
        ("1035.7 KiB", 1035.7 * 1024),
        ("36 ms", 36.0),
        ("16.3 s", 16300.0),
        ("1.5 m", 90000.0),
        ("0.01 h", 36000.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "16.3 s (190 ms, 324 ms, 1.9 s (stage 22.0: task 20))",
            16300.0,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "5.6 MiB (1.2 MiB, 1.4 MiB, 1.6 MiB (stage 3.0: task 7))",
            5.6 * (1 << 20),
        ),
    ],
)
def test_parse_sql_metric_values(text, want):
    assert parse_sql_metric(text) == pytest.approx(want)


@pytest.mark.parametrize(
    "text",
    [
        None,
        "",
        "(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 13.0: task 12))",
        "n/a",
        "12 parsecs",
    ],
)
def test_parse_sql_metric_rejects_what_it_cannot_read(text):
    assert parse_sql_metric(text) is None


def test_geomean_weights_ratios_equally():
    # doubling a 0.3 s query moves the mean as much as doubling a 15 s one
    base = geomean([300.0, 15000.0])
    assert geomean([600.0, 15000.0]) == pytest.approx(base * math.sqrt(2))
    assert geomean([300.0, 30000.0]) == pytest.approx(base * math.sqrt(2))
    assert geomean([5.0]) == pytest.approx(5.0)


@pytest.mark.parametrize("bad", [[], [1.0, 0.0], [2.0, -1.0]])
def test_geomean_rejects_non_positive(bad):
    with pytest.raises(ValueError):
        geomean(bad)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4
    assert covered([(1, 2), (4, 6)], 0, 10) == 3
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span("query.q", 0.0, 10.0),
        Span("plans.build", 0.0, 6.0, parent=0),
        Span("streaming.batch", 1.0, 4.0, parent=1),
        Span("streaming.batch", 3.0, 5.0, parent=1),  # overlaps the first
        Span("streaming.addBatch", 1.0, 3.0, parent=2),
        Span("sinks.write", 7.0, 9.0, parent=0),
    ]
    assert self_times(spans) == pytest.approx([2.0, 2.0, 1.0, 2.0, 2.0, 2.0])


def test_self_time_clips_children_to_the_parent_and_skips_open_spans():
    spans = [
        Span("plans.build", 0.0, 2.0),
        # a batch rebuilt from wall-clock progress may stick out
        Span("streaming.batch", 1.5, 3.0, parent=0),
        Span("open", 0.0, None),
    ]
    assert self_times(spans) == pytest.approx([1.5, 1.5, 0.0])
