"""File-to-call matching for scheduled_freshness, and the interval
arithmetic the per-layer split uses."""

from __future__ import annotations

import json
import os

import pytest

from starbench.run import END_TO_END, PER_LAYER, match_calls
from starbench.trace import covered_s


def test_each_file_matches_exactly_one_call():
    landed = [0.0, 0.4, 1.0, 2.5, 2.6, 7.0]
    starts = [0.1, 1.0, 3.0, 7.5]
    matched = match_calls(landed, starts)
    assert matched == [0, 1, 1, 2, 2, 3]
    for t, c in zip(landed, matched):
        # the matched call started after the file landed, and no
        # earlier call did
        assert starts[c] >= t
        assert all(s < t for s in starts[:c])


def test_a_file_after_the_last_call_is_an_error():
    with pytest.raises(ValueError):
        match_calls([5.0], [1.0, 2.0])


def test_covered_counts_overlaps_once_and_clips():
    assert covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_s([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert covered_s([], 0, 1) == 0


def test_benchmark_json_names_the_printed_metrics():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
