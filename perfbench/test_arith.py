"""Tests for the benchmark's arithmetic and bookkeeping (no Spark needed):

    python3 -m pytest perfbench/test_arith.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import arith  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402
from arith import Span  # noqa: E402
from probes import Tracer  # noqa: E402


# -- item_tail_s: highest percentile with >= 10 samples beyond it ----------

def test_tail_needs_eleven_samples():
    assert arith.tail([1.0] * 10) is None
    t = arith.tail([float(i) for i in range(11)])
    assert (t.value, t.samples) == (0.0, 11)
    assert t.percentile == pytest.approx(100 / 11)


def test_tail_leaves_exactly_ten_beyond():
    values = [float(i) for i in range(1, 101)]   # 1..100, shuffled below
    values = values[37:] + values[:37]
    t = arith.tail(values)
    assert t.value == 90.0
    assert sum(v > t.value for v in values) == 10
    assert t.percentile == 90.0
    t = arith.tail([float(i) for i in range(1, 201)])
    assert (t.value, t.percentile) == (190.0, 95.0)


# -- self time from nested spans ------------------------------------------

def test_self_time_subtracts_direct_children_once():
    spans = [
        Span("item", 0.0, 10.0, None, 0),
        Span("build", 1.0, 7.0, 0, 0),
        Span("table", 2.0, 3.0, 1, 0),
        Span("table", 2.5, 4.0, 1, 0),     # overlaps its sibling
        Span("exec", 7.0, 9.0, 0, 0),
    ]
    assert arith.self_times(spans) == pytest.approx([2.0, 4.0, 1.0, 1.5,
                                                     2.0])


def test_self_time_clips_children_to_the_parent():
    spans = [Span("a", 0.0, 5.0, None, 0), Span("b", 4.0, 6.0, 0, 0)]
    assert arith.self_times(spans)[0] == pytest.approx(4.0)


def test_build_self_time_excludes_named_descendants_at_any_depth():
    spans = [
        Span("operators.build", 0.0, 10.0, None, 0),
        Span("sources.table", 1.0, 2.0, 0, 0),
        Span("helper", 3.0, 8.0, 0, 0),
        Span("plans.checkpoint", 4.0, 6.0, 2, 0),
        Span("sources.table", 5.0, 5.5, 3, 0),   # inside the checkpoint
    ]
    got = arith.self_time_excluding(spans, 0, layers.BUILD_CHILDREN)
    assert got == pytest.approx(10.0 - 1.0 - 2.0)


def test_tracer_records_nesting_and_ids():
    ids = iter([(0, 0), (1, 3), (5, 9), (6, 9)])
    tr = Tracer(marker=lambda: next(ids))
    tr.enabled = True
    tr.item = 7
    with tr.span("item", mark=True):
        with tr.span("operators.build", mark=True):
            pass
    item, build = tr.spans
    assert (item.parent, build.parent, build.item) == (None, 0, 7)
    assert build.attrs["ids"] == ((1, 3), (5, 9))
    assert item.attrs["ids"] == ((0, 0), (6, 9))
    tr.enabled = False
    with tr.span("ignored"):
        pass
    assert len(tr.spans) == 2


# -- ratios ----------------------------------------------------------------

def test_scan_amplification():
    assert arith.scan_amplification(220_800, 5_000) == pytest.approx(44.16)
    assert arith.scan_amplification(600, 600) == 1.0
    with pytest.raises(ValueError):
        arith.scan_amplification(10, 0)


def test_slot_util():
    # 6 s of task time over 2 s on 4 cores: 6 of 8 core-seconds busy
    assert arith.slot_util(6.0, 2.0, 4) == pytest.approx(0.75)
    with pytest.raises(ValueError):
        arith.slot_util(1.0, 0.0, 4)


# -- fail_ratio: a raising item and a wrong output both count --------------

class _FakeOutput:
    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class _FakeCon:
    def __init__(self, pdf):
        self._pdf = pdf

    def execute(self, sql):
        return self

    def fetchdf(self):
        return self._pdf

    def close(self):
        pass


def test_fail_ratio_counts_raising_and_wrong_items(monkeypatch):
    pd = pytest.importorskip("pandas")
    right = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    wrong = pd.DataFrame({"k": [1, 2], "v": [0.5, 9.9]})
    monkeypatch.setattr(workloads, "duckdb_con",
                        lambda sf_dir, scratch: _FakeCon(right))

    class Q:
        oracle = "SELECT 1"

    wl = workloads.RegistryWorkload.__new__(workloads.RegistryWorkload)
    ctx = workloads.Ctx(spark=None, sf_dir="", scratch="",
                        queries={"q": Q()}, tracer=Tracer())

    def boom():
        raise RuntimeError("deliberate")

    records = [
        workloads.run_item(ctx, 1, "q", lambda: _FakeOutput(right)),
        workloads.run_item(ctx, 1, "q", boom),
        workloads.run_item(ctx, 1, "q", lambda: _FakeOutput(wrong)),
        # same rows in another order: the hash is order-insensitive
        workloads.run_item(ctx, 1, "q", lambda: _FakeOutput(right[::-1])),
    ]
    wl.check(ctx, records)
    assert [r.failed for r in records] == [False, True, True, False]
    assert "deliberate" in records[1].error
    assert "oracle" in records[2].reason
    failed = sum(r.failed for r in records)
    assert arith.fail_ratio(failed, len(records)) == 0.5
    with pytest.raises(ValueError):
        arith.fail_ratio(0, 0)


def test_curate_funnel_rules():
    ok = [("exact_dedup", 500, 498), ("near_dup_dedup", 498, 470),
          ("decontaminate", 470, 380)]
    assert workloads._funnel_problem(ok, 500, 498) is None
    assert "starts at" in workloads._funnel_problem(ok, 501, 498)
    assert "DuckDB" in workloads._funnel_problem(ok, 500, 497)
    grows = ok[:2] + [("decontaminate", 470, 471)]
    assert "monotone" in workloads._funnel_problem(grows, 500, 498)
    gap = ok[:1] + [("near_dup_dedup", 497, 470)]
    assert "monotone" in workloads._funnel_problem(gap, 500, 498)


# -- the JSON contract -----------------------------------------------------

def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import run

    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(
        layers.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(
        workloads.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
