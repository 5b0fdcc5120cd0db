"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.checks import check_topk_scores, diff_query, diff_states  # noqa: E402
from perfbench.stats import (  # noqa: E402
    FailureCount,
    covered_length,
    median,
    self_times,
    tail_percentile,
)
from perfbench.trace import Span, Tracer  # noqa: E402


class TestTailPercentile:
    def test_needs_more_than_ten_samples(self):
        assert tail_percentile(range(10)) is None
        assert tail_percentile([]) is None

    def test_eleven_samples_gives_the_minimum(self):
        # with 11 samples only the smallest has ten beyond it
        pct, value = tail_percentile(range(11))
        assert value == 0
        assert pct == pytest.approx(100 / 11)

    def test_hundred_samples_is_p90(self):
        pct, value = tail_percentile(range(1, 101))
        assert pct == pytest.approx(90.0)
        assert value == 90
        # exactly ten samples lie beyond the reported value
        assert sum(1 for v in range(1, 101) if v > value) == 10

    def test_order_of_input_does_not_matter(self):
        vals = [5.0, 1.0, 9.0, 3.0, 7.0] * 5
        assert tail_percentile(vals) == tail_percentile(sorted(vals))

    def test_custom_beyond(self):
        pct, value = tail_percentile(range(20), beyond=5)
        assert value == 14 and pct == pytest.approx(75.0)

    def test_median(self):
        assert median([3, 1, 2]) == 2
        assert median([4, 1, 2, 3]) == 2.5
        with pytest.raises(ValueError):
            median([])


class TestSelfTime:
    def test_union_of_overlapping_intervals(self):
        assert covered_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)

    def test_intervals_clipped_to_parent(self):
        assert covered_length([(-1, 2), (8, 12)], 0, 10) == pytest.approx(4)

    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            Span(0, "batch", 0.0, 10.0, None, "r"),
            Span(1, "commit", 2.0, 6.0, 0, "r"),
            Span(2, "write", 3.0, 5.0, 1, "r"),  # grandchild of batch
            Span(3, "fetch", 5.0, 7.0, 0, "r"),  # overlaps commit
        ]
        st = self_times(spans)
        assert st[0] == pytest.approx(10 - 5)  # children cover [2, 7]
        assert st[1] == pytest.approx(4 - 2)
        assert st[2] == pytest.approx(2)
        assert st[3] == pytest.approx(2)

    def test_tracer_nesting_and_self_time(self):
        t = Tracer("run")
        with t.span("outer"):
            with t.span("inner"):
                pass
        outer, inner = t.spans
        assert inner.parent == outer.id and outer.parent is None
        assert outer.run_id == inner.run_id == "run"
        st = self_times(t.spans)
        assert st[outer.id] + st[inner.id] == pytest.approx(outer.end - outer.start)

    def test_wrap_counts_and_restores(self):
        class Layer:
            def work(self, x):
                return x + 1

        t = Tracer("run")
        original = Layer.__dict__["work"]
        t.wrap(Layer, "work", "layer.work")
        assert Layer().work(1) == 2
        assert t.counts["layer.work_calls"] == 1
        assert [s.name for s in t.spans] == ["layer.work"]
        t.unwrap_all()
        assert Layer.__dict__["work"] is original


class TestFailureCounting:
    def test_counts(self):
        fc = FailureCount()
        for ok in (True, False, True, True):
            fc.record(ok)
        assert (fc.attempted, fc.failed) == (4, 1)
        assert fc.failed_frac == pytest.approx(0.25)

    def test_empty_is_zero(self):
        assert FailureCount().failed_frac == 0.0

    def test_state_mismatch_is_reported(self):
        a = {"fetched": [(0, "u")], "seen": {"u": 1}, "dead": []}
        b = {"fetched": [(0, "u")], "seen": {"u": 2}, "dead": []}
        assert diff_states(a, a) == []
        (issue,) = diff_states(a, b)
        assert issue.startswith("seen:")

    def test_query_diff_is_order_insensitive_with_float_tolerance(self):
        oracle = (["a", "b"], [("y", 2.0), ("x", 0.5147)])
        assert diff_query("q", ["b", "a"], [(0.5148, "x"), (2.0, "y")], oracle) == []
        # a value off by more than one rounding unit is a mismatch
        assert diff_query("q", ["b", "a"], [(0.5137, "x"), (2.0, "y")], oracle)
        # so is a different key
        assert diff_query("q", ["b", "a"], [(0.5147, "z"), (2.0, "y")], oracle)
        # an int in one engine and a decimal in the other compare as numbers
        import decimal

        assert diff_query("q", ["a", "b"], [("x", 1)], (["a", "b"], [("x", decimal.Decimal("1.00005"))])) == []

    def test_topk_check_needs_every_query_id(self):
        import numpy as np

        vectors = {i: np.array([1.0, i / 10]) for i in range(6)}

        def cos(a, b):
            x, y = vectors[a], vectors[b]
            return float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))

        cols = ["qid", "neighbor", "cosine"]
        full = [(q, n, cos(q, n)) for q, ns in ((0, (1, 2)), (3, (4, 5))) for n in ns]
        assert check_topk_scores("q", cols, full, vectors, {0, 3}, 2) == []
        # a dropped query id is a mismatch even though the rest is right
        assert check_topk_scores("q", cols, full[:2], vectors, {0, 3}, 2)
        # so is a wrong score or a short neighbour list
        assert check_topk_scores("q", cols, [(0, 1, 0.5)] + full[1:], vectors, {0, 3}, 2)
        assert check_topk_scores("q", cols, full[1:], vectors, {0, 3}, 2)
