"""Tests of the benchmark's own measurement code.

    python3 -m pytest e2e_bench -q
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import time

import numpy as np
import pytest

from measure import percentile, poisson_schedule, self_time, tree_rss_bytes


@pytest.mark.parametrize("q", [0, 10, 25, 50, 90, 99, 100])
def test_percentile_matches_numpy(q):
    xs = list(np.random.default_rng(3).exponential(1.0, 37))
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_small_and_failed():
    assert percentile([5.0], 90) == 5.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    # a failed operation counts as slower than any limit
    assert percentile([1.0, 2.0, math.inf], 100) == math.inf
    assert percentile([1.0, 2.0, math.inf], 50) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_self_time_subtracts_covered_part_once():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)
    # overlapping children (e.g. nested actions) are counted once
    assert self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0), (4.5, 6.0)]) == pytest.approx(5.0)
    # parts outside the span do not count
    assert self_time(2.0, 4.0, [(0.0, 3.0), (3.5, 9.0)]) == pytest.approx(0.5)
    assert self_time(0.0, 1.0, [(2.0, 3.0)]) == pytest.approx(1.0)


def test_self_times_and_remainder_add_up_to_wall():
    from spans import Tracer

    tr = Tracer()
    with tr.op("op"):
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("c"):
            pass
    (op,) = tr.per_op()
    assert sum(op["self"].values()) == pytest.approx(op["wall"])
    assert set(op["self"]) == {"op", "a", "b", "c"}


def test_spans_outside_an_operation_are_not_recorded():
    from spans import Tracer

    tr = Tracer()
    wrapped = tr.wrap(lambda x: x + 1, "f")
    assert wrapped(1) == 2
    assert tr.spans == []
    with tr.op("op"):
        assert wrapped(2) == 3
    assert [s.name for s in tr.spans] == ["f", "op"]


def test_poisson_schedule_is_seeded_and_in_window():
    a = poisson_schedule([7, 4], 3.0, 200.0)
    assert a == poisson_schedule([7, 4], 3.0, 200.0)
    assert a != poisson_schedule([8, 4], 3.0, 200.0)
    assert all(0.0 <= t < 200.0 for t in a)
    assert all(x <= y for x, y in zip(a, a[1:]))
    # the offered load is the same on every seed
    assert len(a) == len(poisson_schedule([8, 4], 3.0, 200.0)) == 600
    # exponential gaps: mean 1/rate, coefficient of variation ~1
    gaps = np.diff(a)
    assert gaps.mean() == pytest.approx(1 / 3.0, rel=0.15)
    assert gaps.std() / gaps.mean() == pytest.approx(1.0, rel=0.15)
    with pytest.raises(ValueError):
        poisson_schedule(1, 0.0, 10.0)


def test_tree_rss_counts_children():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; b = bytearray(64 << 20); time.sleep(30)"],
                             stdin=subprocess.DEVNULL)
    try:
        deadline = time.monotonic() + 10
        own = tree_rss_bytes(child.pid)
        while own < (64 << 20) and time.monotonic() < deadline:
            time.sleep(0.05)
            own = tree_rss_bytes(child.pid)
        assert own >= 64 << 20
        assert tree_rss_bytes(os.getpid()) >= own
    finally:
        child.kill()
        child.wait()


def test_popularity_picks_spread_over_every_prefix():
    from corpus_gen import _van_der_corput, popularity_picks

    assert [_van_der_corput(j) for j in range(1, 8)] == [
        0.5, 0.25, 0.75, 0.125, 0.625, 0.375, 0.875]
    a = popularity_picks(384, 200)
    assert all(0 <= i < 384 for i in a)
    # Zipf(1.0) over 384 items gives the most popular one ~15% of
    # picks, and so does every prefix of the picks
    top = 1 / sum(1 / r for r in range(1, 385))
    for m in (8, 16, 21, 64, 200):
        assert abs(a[:m].count(0) - top * m) <= 1.5
    assert popularity_picks(384, 21) == a[:21]


def test_unattributed_share_counts_root_time_outside_spans():
    from spans import Tracer

    tr = Tracer()
    with tr.op("covered"):
        with tr.span("a"):
            time.sleep(0.05)
    assert tr.unattributed_share() < 0.1
    with tr.op("bare"):
        time.sleep(0.2)
    # the bare op's 0.2 s is in no span: most of the total
    assert tr.unattributed_share() > 0.6


def test_wrap_binds_arguments_by_name_for_attrs():
    from spans import Tracer

    def f(a, b, k=10):
        return a + b

    tr = Tracer()
    wrapped = tr.wrap(f, "f", lambda args, out: {"k": args["k"], "out": out})
    with tr.op("op"):
        assert wrapped(1, b=2) == 3
    (span,) = [s for s in tr.spans if s.name == "f"]
    assert span.attrs == {"k": 10, "out": 3}


def test_rank_queries_are_topical_and_never_below_k():
    import corpus_gen

    c = corpus_gen.Corpus(4, 4000)
    qs = corpus_gen.rank_queries(c, 4, 200)
    assert len({q["query"] for q in qs}) == 200
    ids = {w: i for i, w in enumerate(c.vocab)}
    head = set(c.head.tolist())
    for q in qs:
        terms = [ids[w] for w in q["query"].split()]
        assert 2 <= len(terms) <= 6
        assert terms[0] in head
        # every term has at least k postings, so the θ seed has a k-th score
        assert min(c.df[t] for t in terms) >= corpus_gen.K
        # the other terms sit mostly in one source's doc-id run
        topics = [t for t in range(corpus_gen.N_SOURCES)
                  if set(terms[1:]) <= set(c.topic_rare[t]) | set(c.topic_mid[t])]
        assert len(topics) == 1
