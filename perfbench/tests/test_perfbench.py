"""Tests for the benchmark's own code; no Spark session is started.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import random
import time

import pytest

from loadgen import poisson_offsets, run_open_loop
from stats import beyond, geomean, median, percentile, reportable, tail
from spans import Tracer, self_time_by_layer, self_times, union_length
from workloads import (
    ANALYTICS, BASE_DOCS, CURATION, ID_STRIDE, RPC_BLOCK, pass_ops, rpc_plan, slice_bounds,
)


# ---------------------------------------------------------- percentile rule

def test_tail_needs_ten_samples_beyond_it():
    assert beyond(200, 0.95) == 10 and reportable(200, 0.95)
    assert beyond(199, 0.95) == 9 and not reportable(199, 0.95)
    assert tail(list(range(199)), 0.95) is None
    assert tail(list(range(200)), 0.95) == pytest.approx(percentile(list(range(200)), 0.95))
    assert reportable(100, 0.90) and not reportable(99, 0.90)


def test_median_is_always_reported():
    assert reportable(1, 0.5)
    assert tail([3.0], 0.5) == 3.0
    assert median([5.0, 1.0, 3.0, 2.0]) == 2.5
    assert tail([], 0.5) is None


def test_geomean_weighs_relative_change_equally():
    assert geomean([4.0, 1.0]) == pytest.approx(2.0)
    # halving the small value moves it as much as halving the large one
    assert geomean([100.0, 0.5]) == pytest.approx(geomean([50.0, 1.0]))
    with pytest.raises(ValueError):
        geomean([])


def test_percentile_interpolates():
    assert percentile([0.0, 10.0], 0.25) == 2.5
    with pytest.raises(ValueError):
        percentile([], 0.5)


# ------------------------------------------------- open loop, due-time latency

def test_latency_counts_from_due_time_not_send_time():
    # one connection, a 50 ms service time and arrivals 10 ms apart: each
    # request waits behind the one before it, and that wait is latency
    def send(worker, i):
        time.sleep(0.05)
        return True, i

    outcomes, late = run_open_loop([0.0, 0.01, 0.02], send, conns=1)
    assert [o.detail for o in outcomes] == [0, 1, 2]
    assert all(o.ok for o in outcomes)
    assert outcomes[2].latency >= 0.05 * 3 - 0.02 - 0.005
    assert outcomes[2].latency > (outcomes[2].done - outcomes[2].sent) + 0.05
    assert len(late) == 3 and all(x >= 0 for x in late)


def test_open_loop_does_not_wait_for_replies():
    sent_at = []

    def send(worker, i):
        sent_at.append(time.perf_counter())
        time.sleep(0.3)
        return True, None

    run_open_loop([0.0, 0.01, 0.02, 0.03], send, conns=4)
    assert max(sent_at) - min(sent_at) < 0.3  # all four sent before the first reply


def test_poisson_offsets_count_bounds_and_gaps():
    offs = poisson_offsets(random.Random(1), rate=50.0, seconds=20.0)
    assert len(offs) == 1000
    assert all(0 <= a <= b < 20.0 for a, b in zip(offs, offs[1:]))
    gaps = [b - a for a, b in zip(offs, offs[1:])]
    assert 0.018 < sum(gaps) / len(gaps) < 0.022  # exponential gaps, mean 1/rate
    assert sum(g < 0.02 * 0.6931 for g in gaps) / len(gaps) == pytest.approx(0.5, abs=0.06)


# --------------------------------------------------------------- self time

def span(sid, layer, t0, t1, parent=None):
    return (sid, f"s{sid}", layer, t0, t1, parent, "op")


def test_self_time_subtracts_the_covered_part_of_children():
    spans = [
        span(1, "a", 0.0, 10.0),
        span(2, "b", 1.0, 4.0, parent=1),
        span(3, "b", 3.0, 6.0, parent=1),  # overlaps its sibling: counted once
        span(4, "c", 9.0, 12.0, parent=1),  # overhangs its parent: clipped
        span(5, "d", 2.0, 3.0, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[5] == pytest.approx(1.0)
    by_layer = self_time_by_layer(spans)
    assert by_layer == pytest.approx({"a": 4.0, "b": 5.0, "c": 3.0, "d": 1.0})


def test_union_length():
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([]) == 0


def test_tracer_records_parent_and_op_only_when_enabled():
    t = Tracer(enabled=True)
    with t.in_op("w1"), t.span("outer", "x"):
        with t.span("inner", "y"):
            pass
    inner, outer = t.spans
    assert inner[5] == outer[0] and outer[5] is None
    assert inner[6] == outer[6] == "w1"
    off = Tracer(enabled=False)
    wrapped = off.wrap(lambda x: x + 1, "f", "z")
    assert wrapped(1) == 2 and off.spans == [] and off.counters["f.calls"] == 1


# -------------------------------------------------------- seed determinism

@pytest.mark.parametrize("workload", ["analytics", "curation"])
def test_closed_loop_passes_replay_from_the_seed(workload):
    assert [pass_ops(workload, 7, p) for p in range(4)] == [pass_ops(workload, 7, p) for p in range(4)]
    assert pass_ops(workload, 7, 1) != pass_ops(workload, 8, 1)
    mix = ANALYTICS if workload == "analytics" else CURATION
    for p in range(4):  # every pass runs the whole mix once
        names = sorted(op[1] for op in pass_ops(workload, 7, p) if op[0] == "query")
        assert names == sorted(mix)


@pytest.mark.parametrize("seed", range(12))
def test_fresh_point_read_follows_the_publish_it_reads(seed):
    for p in range(3):
        ops = pass_ops("curation", seed, p)
        (publish,) = [op for op in ops if op[0] == "publish"]
        points = [op for op in ops if op[0] == "point"]
        fresh = [op for op in points if op[1] >= BASE_DOCS]
        assert len(points) == 3 and len(fresh) == 1
        lo, hi = slice_bounds(publish[1])
        assert (p + 1) * ID_STRIDE + lo <= fresh[0][1] < (p + 1) * ID_STRIDE + hi
        assert ops.index(fresh[0]) > ops.index(publish)


def test_rpc_plan_replays_from_the_seed():
    a, b = rpc_plan(3, 3.0, 30.0), rpc_plan(3, 3.0, 30.0)
    assert a == b
    assert rpc_plan(4, 3.0, 30.0) != a
    offsets, reqs = a
    assert len(offsets) == len(reqs)
    assert len(reqs) == 90  # 3/s for 30 s, the same count every seed
    assert sorted(r["kind"] for r in reqs[:84]) == sorted(RPC_BLOCK * 7)  # whole blocks
