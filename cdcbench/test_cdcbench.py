"""Smoke tests for the benchmark itself: the percentile rule, span
self-time arithmetic, open-loop lateness accounting, and one tiny run of
each workload that must print every metric with its unit.

    python3 -m pytest cdcbench/test_cdcbench.py -q -p no:cacheprovider

The pure tests take milliseconds; the tiny runs start Spark and take
about a minute each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import measure

HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------- percentile rule


@pytest.mark.parametrize("n, expected", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (200, 95.0), (1000, 99.0), (10000, 99.9), (15000, 99.9), (100000, 99.99),
])
def test_high_percentile_leaves_ten_samples_beyond(n, expected):
    p = measure.high_percentile(n)
    assert p == expected
    if p is not None:
        assert n - round(p * n / 100) >= measure.MIN_BEYOND


def test_percentile_is_nearest_rank_without_interpolation():
    values = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert measure.percentile(values, 50) == 3.0
    assert measure.percentile(values, 20) == 1.0
    assert measure.percentile(values, 21) == 2.0
    assert measure.percentile(values, 100) == 5.0
    # two batches, 6 and 4 events: the median is a batch value, not a blend
    assert measure.percentile([1.0] * 6 + [9.0] * 4, 50) == 1.0


def test_summarize_refuses_too_few_samples():
    with pytest.raises(ValueError):
        measure.summarize([1.0] * 19)
    s = measure.summarize([float(i) for i in range(40)])
    assert (s["p50"], s["high"], s["high_pct"], s["n"]) == (19.0, 29.0, 75.0, 40)


# ------------------------------------------------ span self-time arithmetic


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_the_union_of_children():
    clock = FakeClock()
    tr = measure.Tracer(clock=clock)

    def child(start, end):
        clock.t = start

        def body():
            clock.t = end
        tr.call("child", body)

    def parent():
        child(1.0, 3.0)
        child(2.0, 4.0)   # overlaps the first: counted once
        child(6.0, 7.0)
        clock.t = 10.0

    clock.t = 0.0
    tr.call("parent", parent, batch=7)
    top = tr.named("parent")[0]
    assert tr.self_time(top) == pytest.approx(10.0 - 3.0 - 1.0)
    kids = tr.named("child")
    assert all(k["parent"] == top["id"] and k["batch"] == 7 for k in kids)
    agg = tr.self_times_by_name()
    assert agg["parent"]["calls"] == 1 and agg["child"]["calls"] == 3
    assert agg["child"]["self_s"] == pytest.approx(5.0)


def test_covered_clips_to_the_parent():
    assert measure.covered([(-1.0, 2.0), (9.0, 12.0)], 0.0, 10.0) == pytest.approx(3.0)
    assert measure.covered([], 0.0, 1.0) == 0.0


def test_wrap_shadows_the_instance_method_and_keeps_the_original():
    class Table:
        def merge(self, x):
            return self.read(x) + 1

        def read(self, x):
            return x

    t = Table()
    tr = measure.Tracer()
    tr.wrap(t, "merge", "lake.merge")
    tr.wrap(t, "read", "lake.read")
    assert t.merge(1) == 2
    merge, read = tr.named("lake.merge")[0], tr.named("lake.read")[0]
    assert read["parent"] == merge["id"]
    assert tr.original(t, "merge")(1) == 2
    assert len(tr.spans) == 3  # the original's inner read still traced


# ------------------------------------------- open-loop lateness accounting


def test_open_loop_lag_counts_from_the_schedule_not_the_publish():
    due = [0.0, 3.0, 6.0]
    published = [0.1, 3.5, 6.0]           # the generator ran late twice
    starts = [0.5, 4.0, 7.0]
    commits = [2.5, 6.5, 9.0]              # batch 1 finished after segment 2 was due
    acct = measure.open_loop_accounting(due, published, starts, commits, [2, 3, 1])
    assert acct["lags"] == [2.5, 2.5, 3.5, 3.5, 3.5, 3.0]
    assert acct["gen_late_s"] == pytest.approx(0.5)
    assert acct["backlog_max"] == 1


def test_open_loop_backlog_grows_when_the_engine_falls_behind():
    due = [0.0, 1.0, 2.0, 3.0]
    starts = [0.2, 2.2, 4.2, 6.2]          # every batch takes 2 s
    commits = [2.2, 4.2, 6.2, 8.2]
    acct = measure.open_loop_accounting(due, due, starts, commits, [1, 1, 1, 1])
    assert acct["backlog_max"] == 2
    assert acct["lags"] == pytest.approx([2.2, 3.2, 4.2, 5.2])
    with pytest.raises(ValueError):
        measure.open_loop_accounting(due, due[:3], starts, commits, [1] * 4)


def test_backlog_lags_count_from_the_drain_start():
    assert measure.backlog_lags(10.0, [12.0, 15.0], [2, 1]) == [2.0, 2.0, 5.0]


# ---------------------------------------------------- tiny end-to-end runs


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["search", "tail"])
def test_tiny_run_prints_every_metric_with_its_unit(workload):
    import layers
    import run

    for trace, names in ((0, run.END_TO_END), (1, layers.PER_LAYER)):
        lines, result = _run(workload, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0
        assert result["attempted"] >= 1
        assert {k: v["unit"] for k, v in result["metrics"].items()} == names
        for name, unit in names.items():
            assert any(line.strip().startswith(f"{name} = ") and line.endswith(f" {unit}")
                       for line in lines), name
