"""Pins how formatted SQL metric values are turned back into numbers.

Run with ``python3 -m pytest perfbench/tests``.  The strings are the shapes
``SQLMetrics.stringValue`` produces in Spark 4: sums with thousands
separators, single-task sizes and timings, and multi-task values whose
second line starts with the total.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkstats import parse_metric_value  # noqa: E402


@pytest.mark.parametrize(
    "text, value",
    [
        ("0", 0.0),
        ("27", 27.0),
        ("1,234,567", 1234567.0),
        ("512.0 B", 512.0),
        ("64.0 MiB", 64 * 2**20),
        ("1.5 KiB", 1536.0),
        ("2.0 GiB", 2 * 2**30),
        ("12 ms", 12.0),
        ("1.5 s", 1500.0),
        ("2.0 m", 120_000.0),
        ("total (min, med, max (stageId: taskId))\n"
         "3.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 3))", 3 * 2**20),
        ("total (min, med, max (stageId: taskId))\n"
         "1.2 s (300 ms, 400 ms, 500 ms (stage 4.0: task 17))", 1200.0),
        ("total (min, med, max (stageId: taskId))\n"
         "0 ms (0 ms, 0 ms, 0 ms (stage 2.0: task 5))", 0.0),
    ],
)
def test_parse_metric_value(text, value):
    assert parse_metric_value(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "3.0 furlongs"])
def test_parse_metric_value_rejects_unknown_shapes(text):
    with pytest.raises(ValueError):
        parse_metric_value(text)
