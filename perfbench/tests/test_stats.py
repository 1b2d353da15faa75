"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.compare import verdict  # noqa: E402
from perfbench.trace import LAYER_UNITS, _union_s, attributed_s  # noqa: E402
from perfbench.workloads import compare  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile([1.0] * 99, 0.9) is None
    assert stats.tail_percentile(list(range(100)), 0.9) == pytest.approx(89.1)
    assert stats.tail_percentile([1.0] * 39, 0.75) is None
    assert stats.tail_percentile([1.0] * 40, 0.75) == 1.0


def test_percentile_interpolates():
    assert stats.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert stats.percentile([0.0, 10.0], 0.25) == 2.5
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_pass_s_is_sum_of_per_operation_medians():
    by_op = {"a": [1.0, 9.0, 2.0], "b": [5.0], "c": [0.5, 0.7]}
    # a slow outlier pass moves one operation's median, not the total
    assert stats.sum_of_medians(by_op) == pytest.approx(2.0 + 5.0 + 0.6)
    assert stats.sum_of_medians({"a": []}) == 0


def test_failed_frac_counts_against_attempted():
    assert stats.failed_frac(44, 0) == 0.0
    assert stats.failed_frac(30, 3) == pytest.approx(0.1)
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


@pytest.mark.parametrize("name,ok", [
    ("pass_s", True), ("table.commit_s.merge", True), ("spark.spill_mb", True),
    ("9lives", True), ("x" * 64, True), ("x" * 65, False), ("_lead", False),
    (".dot", False), ("has space", False), ("slash/no", False), ("", False),
])
def test_metric_name_grammar(name, ok):
    assert stats.valid_name(name) is ok


def test_benchmark_json_follows_the_grammar():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in spec[key]]
    assert all(stats.valid_name(n) for n in names)
    assert len(names) == len(set(names))
    assert {m["name"] for m in spec["per_layer"]} == set(LAYER_UNITS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])


def test_relative_spread_uses_statistics_quartiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, med, q3 = stats.quartiles(vals)
    assert stats.relative_spread(vals) == pytest.approx((q3 - q1) / med)


def test_verdicts():
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.0, 9.9, 10.1]
    assert verdict(base, [x * 0.8 for x in base], "lower", 0.1) == "improved"
    assert verdict(base, [x * 1.3 for x in base], "lower", 0.1) == "worse"
    assert verdict(base, [x * 1.02 for x in base], "lower", 0.1) == "within bound"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert verdict(noisy, [x * 1.05 for x in noisy], "lower", 0.1) == "unresolved"
    assert verdict(base, [x * 1.3 for x in base], "higher", 0.1) == "improved"
    zeros = [0.0] * 10
    assert verdict(zeros, zeros, "lower", 0.1) == "within bound"
    assert verdict(zeros, [0.0] * 8 + [0.1, 0.1], "lower", 0.1) == "within bound"
    assert verdict(zeros, [0.1] * 10, "lower", 0.1) == "worse"


def test_union_of_intervals():
    assert _union_s([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert _union_s([]) == 0


def test_wrapper_span_alone_does_not_reconcile():
    # one Engine.sql call covering the whole operation owns nothing
    assert attributed_s(0.0, 10.0, [("engine.sql", 0.0, 10.0)], [], []) == 0
    assert attributed_s(0.0, 10.0, [("engine.sql", 0.0, 10.0),
                                    ("table.commit.update", 0.1, 9.9)], [], []) == 0
    # the layers inside it do: a writer span, a job in it, a Catalyst phase
    owned = attributed_s(0.0, 10.0, [("engine.sql", 0.0, 10.0),
                                     ("table.commit.update", 0.1, 9.9),
                                     ("writer.write", 2.0, 8.0)],
                         [(3.0, 9.0)], [(0.5, 1.5)])
    assert owned == pytest.approx(8.0)
    # clipped to the operation, and overlaps counted once
    assert attributed_s(1.0, 2.0, [("operators.build", 0.0, 1.5)],
                        [(1.2, 3.0)], []) == pytest.approx(1.0)


def test_oracle_compare_is_order_insensitive_and_exact_by_default():
    assert compare(["a", "b"], [(1, 2.0), (3, 4.0)], ["b", "a"], [(4.0, 3), (2.0, 1)]) == []
    assert compare(["a"], [(1.0,)], ["a"], [(1.0 + 1e-12,)])
    assert compare(["a"], [(1.0,)], ["a"], [(1.0 + 1e-12,)], rel=1e-9) == []
    assert compare(["a"], [(1,)], ["a"], [(1,), (1,)]) == ["1 rows != oracle 2"]
    assert compare(["a"], [], ["b"], [])
