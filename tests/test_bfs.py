"""bfs_hops: multi-source bounded-hop distances on crafted graphs."""

import pytest

pytestmark = pytest.mark.usefixtures("spark")


def _run(spark, pairs, seeds, max_hops=None):
    from picogeojson_spark.operators.graph import bfs_hops

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], "u long, v long")
    src = spark.createDataFrame([(s,) for s in seeds], "node long")
    kw = {} if max_hops is None else {"max_hops": max_hops}
    out = bfs_hops(df, src, **kw).collect()
    return {r.node: r.hops for r in out}


def _brute(pairs, seeds, max_hops):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        frontier = {m for n in frontier for m in adj.get(n, ())
                    if m not in dist}
        dist.update((m, h) for m in frontier)
    return dist


def test_path_graph_single_source(spark):
    got = _run(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], [1], 6)
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bounded_hops_truncates_reach(spark):
    got = _run(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], [1], 2)
    assert got == {1: 0, 2: 1, 3: 2}


def test_multi_source_nearest_wins(spark):
    # seeds at both ends of a 6-path: middle nodes take the min side.
    got = _run(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], [1, 6], 6)
    assert got == {1: 0, 2: 1, 3: 2, 4: 2, 5: 1, 6: 0}


def test_disconnected_component_unreached(spark):
    got = _run(spark, [(1, 2), (10, 11)], [1], 6)
    assert got == {1: 0, 2: 1}


def test_undirected_expansion(spark):
    # edge stored as (u<v) must expand both ways: seed at the big end.
    got = _run(spark, [(1, 2), (2, 3)], [3], 6)
    assert got == {3: 0, 2: 1, 1: 2}


def test_seed_only_zero_hops(spark):
    got = _run(spark, [(1, 2)], [5], 3)
    assert got == {5: 0}


def test_cycle_no_revisit(spark):
    got = _run(spark, [(1, 2), (2, 3), (1, 3)], [1], 4)
    assert got == {1: 0, 2: 1, 3: 1}


@pytest.mark.parametrize("pairs,seeds", [
    # 15-node path from one end: every one of the default 6 rounds runs
    ([(i, i + 1) for i in range(14)], [0]),
    # two seeds on a pseudo-random graph with a pendant chain
    (sorted({(min((i * 7) % 31, (i * 11 + 4) % 31),
              max((i * 7) % 31, (i * 11 + 4) % 31)) for i in range(40)
             if (i * 7) % 31 != (i * 11 + 4) % 31}
            | {(40 + i, 41 + i) for i in range(8)} | {(0, 40)}),
     [3, 47]),
], ids=["path15", "random_with_chain"])
def test_brute_force_default_max_hops(spark, pairs, seeds):
    assert _run(spark, pairs, seeds) == _brute(pairs, seeds, 6)
