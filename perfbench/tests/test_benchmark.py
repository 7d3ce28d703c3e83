"""Self-tests of the benchmark's own arithmetic and spec (no Spark).

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import spans as S  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _span(kind, start, end, sid, parent=None):
    return S.Span(kind, start, end, 0, sid, parent)


# -- self time -------------------------------------------------------

def test_self_time_nested():
    tree = [
        _span("op", 0.0, 10.0, 0),
        _span("build", 0.0, 6.0, 1, parent=0),
        _span("plan", 6.0, 7.0, 2, parent=0),
        _span("execute", 7.0, 10.0, 3, parent=0),
        _span("trigger", 1.0, 4.0, 4),
        _span("fsio", 2.0, 3.0, 5),
    ]
    S.link_parents(tree, 0)
    assert tree[4].parent == 1 and tree[5].parent == 4
    st = S.self_times(tree, 0)
    assert st == pytest.approx({0: 0.0, 1: 3.0, 2: 1.0, 3: 3.0, 4: 2.0, 5: 1.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_siblings():
    # two children of one parent overlap on [5, 10): the later-starting
    # one owns the overlap, so nothing is counted twice
    tree = [
        _span("op", 0.0, 20.0, 0),
        _span("sink", 0.0, 10.0, 1, parent=0),
        _span("fsio", 5.0, 15.0, 2, parent=0),
    ]
    st = S.self_times(tree, 0)
    assert st == pytest.approx({0: 5.0, 1: 5.0, 2: 10.0})


def test_self_time_child_outside_parent_is_clipped():
    # a JVM trigger timestamp can lead the Python clock by a millisecond
    tree = [
        _span("op", 1.0, 5.0, 0),
        _span("build", 1.0, 5.0, 1, parent=0),
        _span("trigger", 0.999, 2.0, 2, parent=1),
    ]
    st = S.self_times(tree, 0)
    assert st == pytest.approx({0: 0.0, 1: 3.0, 2: 1.0})
    assert sum(st.values()) == pytest.approx(4.0)


def test_self_times_sum_to_root_wall_on_random_trees():
    import random

    rng = random.Random(7)
    for _ in range(200):
        tree = [_span("op", 0.0, 1.0, 0)]
        for sid in range(1, rng.randint(2, 12)):
            a, b = sorted(rng.uniform(-0.1, 1.1) for _ in range(2))
            tree.append(_span("x", a, b, sid))
        S.link_parents(tree, 0)
        assert sum(S.self_times(tree, 0).values()) == pytest.approx(1.0)


# -- tail rule -------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert S.tail([1.0] * 39, 0.75) is None
    assert S.tail(list(range(40)), 0.75) == pytest.approx(29.25)
    assert S.tail(list(range(99)), 0.9) is None
    assert S.tail(list(range(100)), 0.9) == pytest.approx(89.1)


def test_percentile_interpolates():
    assert S.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert S.percentile([0.0, 10.0], 0.25) == 2.5
    with pytest.raises(ValueError):
        S.percentile([], 0.5)


# -- host scaling ----------------------------------------------------

def test_host_scaled_expresses_walls_in_probe_units():
    passes = [[("a", 0.5, 0.25), ("b", 0.3, 0.1)], [("a", 1.0, 0.5)]]
    got = S.host_scaled(passes, 0.1)
    assert [[n for n, _ in p] for p in got] == [["a", "b"], ["a"]]
    assert [w for p in got for _, w in p] == pytest.approx([0.2, 0.3, 0.2])


def test_host_scaled_ignores_a_uniformly_slower_host():
    quiet = [[("a", 0.4, 0.1), ("b", 1.2, 0.12)]]
    slow = [[(n, w * 1.7, p * 1.7) for n, w, p in quiet[0]]]
    assert ([w for _, w in S.host_scaled(slow, 0.1)[0]]
            == pytest.approx([w for _, w in S.host_scaled(quiet, 0.1)[0]]))


# -- op order --------------------------------------------------------

def test_op_order_is_a_function_of_the_seed():
    ops = list(WORKLOADS["bi_dashboard"])
    first = list(itertools.islice(S.op_orders(ops, 11), 5))
    again = list(itertools.islice(S.op_orders(ops, 11), 5))
    other = list(itertools.islice(S.op_orders(ops, 12), 5))
    assert first == again
    assert first != other
    assert all(sorted(o) == sorted(ops) for o in first)


# -- metric parsing --------------------------------------------------

@pytest.mark.parametrize("text,value", [
    ("426 ms", 0.426),
    ("1018.0 KiB", 1018.0 * 1024),
    ("60,000", 60000.0),
    ("0.0 B", 0.0),
    ("total (min, med, max (stageId: taskId))\n4.0 s (1.9 s, 2.0 s)", 4.0),
    ("1.5 m", 90.0),
])
def test_parse_metric(text, value):
    assert layers.parse_metric(text) == pytest.approx(value)


# -- spec ------------------------------------------------------------

def _spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_name_in_the_spec_is_well_formed():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))


def test_spec_workloads_exist_and_tracer_emits_every_layer():
    import tracer

    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    emitted = set(tracer.SUMMED) | {"spark.slot_busy_frac",
                                    "streaming.trigger_p50_ms",
                                    "memory.peak_rss_mb"}
    assert {m["name"] for m in spec["per_layer"]} == emitted
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(
        m["bound"] for m in spec["end_to_end"])
