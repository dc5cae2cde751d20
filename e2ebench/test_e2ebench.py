"""Tests of the benchmark's own helpers. Run from the repository root:

    python3 -m pytest e2ebench/test_e2ebench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import run  # noqa: E402
from stats import digest, tail, union_length, unstolen  # noqa: E402
from tracing import Tracer, parse_metric  # noqa: E402


@pytest.mark.parametrize("n, value, percentile, beyond", [
    (11, 1, 100 / 11, 10),   # the smallest n that has a qualifying percentile
    (29, 19, 100 * 19 / 29, 10),
    (100, 90, 90.0, 10),
    (1000, 990, 99.0, 10),
])
def test_tail_keeps_ten_samples_beyond(n, value, percentile, beyond):
    t = tail(range(1, n + 1))
    assert (t["value"], t["beyond"], t["n"]) == (value, beyond, n)
    assert t["percentile"] == pytest.approx(percentile)


def test_tail_with_too_few_samples_reports_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == {"value": 3.0, "percentile": 100.0,
                                     "beyond": 0, "n": 3}


def test_tail_steps_down_past_ties():
    # eleven samples, the top two tied: the 11th largest (1) has all ten
    # others above it, the tie does not reduce that count
    t = tail([1] + list(range(2, 11)) + [10])
    assert t["value"] == 1 and t["beyond"] == 10
    # the tie sits at the candidate: 2,2 then nine larger -> step down to 1
    t = tail([1, 2, 2] + list(range(3, 12)))
    assert t["value"] == 1 and t["beyond"] == 11


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])


@pytest.mark.parametrize("spans, lo, hi, expected", [
    ([], 0, 10, 0.0),
    ([(1, 3), (2, 5)], 0, 10, 4.0),            # overlap counted once
    ([(1, 2), (3, 4)], 0, 10, 2.0),            # gap not counted
    ([(0, 4), (1, 2)], 0, 10, 4.0),            # nested
    ([(-5, 2), (8, 20)], 0, 10, 4.0),          # clipped to the op window
    ([(3, 3), (5, 4)], 0, 10, 0.0),            # empty and inverted spans
    ([(4, 6), (1, 2), (2, 4)], 0, 10, 5.0),    # unsorted, touching
])
def test_union_length(spans, lo, hi, expected):
    assert union_length(spans, lo, hi) == pytest.approx(expected)


@pytest.mark.parametrize("busy, idle, steal, expected", [
    (100, 0, 0, 2.0),
    (60, 20, 20, 1.5),    # a quarter of the wanted CPU time was stolen
    (30, 60, 10, 1.5),    # idle ticks do not dilute the stolen share
    (0, 100, 0, 2.0),     # nothing ran, nothing was stolen
    (0, 90, 10, 0.0),
])
def test_unstolen_scales_by_the_share_of_wanted_cpu_not_stolen(busy, idle, steal, expected):
    before = [10, 0, 5, 40, 0, 0, 0, 3]
    # busy ticks split over user, system and softirq; idle over idle and iowait
    after = [10 + busy - busy // 2 - busy // 4, 0, 5 + busy // 2, 40 + idle - idle // 3,
             idle // 3, 0, busy // 4, 3 + steal]
    assert unstolen(2.0, before, after) == pytest.approx(expected)


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
    assert digest(a) == digest(b)


def test_digest_sees_values_names_and_multiplicity():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert digest(a) != digest(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5000001]}))
    assert digest(a) != digest(a.rename(columns={"v": "w"}))
    assert digest(a) != digest(pd.concat([a, a.iloc[:1]]))


def test_digest_matches_across_engine_types():
    # Spark and DuckDB hand back equal values in different pandas types
    spark_like = pd.DataFrame({"n": np.array([3], dtype=np.int32),
                               "ts": [pd.Timestamp("2024-01-02")]})
    duck_like = pd.DataFrame({"n": np.array([3], dtype=np.int64),
                              "ts": pd.to_datetime(["2024-01-02"])})
    assert digest(spark_like) == digest(duck_like)


@pytest.mark.parametrize("text, value", [
    ("1.8 s", 1.8), ("27 ms", 0.027), ("635.5 KiB", 635.5 * 1024),
    ("1,960", 1960.0), ("0.0 B", 0.0),
    ("total (min, med, max (stageId: taskId))\n10.5 s (1 s, 2 s, 3 s (stage 1.0: task 3))",
     10.5),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_tracer_self_time_and_recursion():
    t = Tracer()
    outer = t.begin("a")
    inner = t.begin("a")
    t.end(inner)
    child = t.begin("b")
    t.end(child)
    t.end(outer)
    totals = t.layer_totals()
    assert totals["a"]["calls"] == 2 and totals["b"]["calls"] == 1
    # the nested "a" is inside the outer one, so it adds no time
    assert totals["a"]["s"] == pytest.approx(t.spans[0]["t1"] - t.spans[0]["t0"])
    assert totals["a"]["self_s"] + totals["b"]["self_s"] == pytest.approx(totals["a"]["s"])


def test_inputs_are_seeded(tmp_path):
    a = inputs.build_lake(str(tmp_path / "a"), 5, 0.001, 50, 20, replicas=2, dup_rate=0.2)
    b = inputs.build_lake(str(tmp_path / "b"), 5, 0.001, 50, 20, replicas=2, dup_rate=0.2)
    assert a == b and a["documents"] == 100
    for t in a:
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == \
            (tmp_path / "b" / f"{t}.parquet").read_bytes()
    assert inputs.adhoc_queries(5) == inputs.adhoc_queries(5)
    assert inputs.adhoc_queries(5) != inputs.adhoc_queries(6)


def test_uploads_force_every_rule_to_act(tmp_path):
    files = inputs.build_uploads(str(tmp_path), 3, rows=200,
                                 bad_email_rate=0.0, outlier_rate=0.0)
    sales = pd.read_csv(files["csv"])
    customers = pd.read_json(files["json"], lines=True)
    for emails in (sales.email, customers.email):
        assert (~emails.str.contains("@")).sum() >= 1
    z = (sales.revenue - sales.revenue.mean()) / sales.revenue.std()
    assert (z.abs() > 3).sum() >= 1


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: run.PER_LAYER[k] for k in run.REPORTED_LAYERS}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
