"""sssp_bounded: hand cases + brute bounded-Bellman-Ford differential."""

import pytest

from picogeojson_spark.operators.graph import sssp_bounded

EDGES = "u long, v long, w long"
NODES = "node long"


def _run(spark, edges, seeds, k):
    got = sssp_bounded(
        spark.createDataFrame(edges, EDGES),
        spark.createDataFrame([(s,) for s in seeds], NODES),
        max_rounds=k,
    ).collect()
    return {r.node: r.dist for r in got}


def _brute(edges, seeds, k):
    """D_i(v) = min path weight using <= i edges (full relaxation)."""
    nodes = {u for u, v, w in edges} | {v for u, v, w in edges} | set(seeds)
    d = {n: (0 if n in seeds else None) for n in nodes}
    for _ in range(k):
        nd = dict(d)
        for u, v, w in edges:
            for a, b in ((u, v), (v, u)):
                if d[a] is not None:
                    c = d[a] + w
                    if nd[b] is None or c < nd[b]:
                        nd[b] = c
        d = nd
    return {n: x for n, x in d.items() if x is not None}


def test_path_graph_weights(spark):
    # 0 -5- 1 -1- 2 -1- 3; seed {0}.
    edges = [(0, 1, 5), (1, 2, 1), (2, 3, 1)]
    assert _run(spark, edges, [0], 8) == {0: 0, 1: 5, 2: 6, 3: 7}


def test_weighted_shortcut_beats_fewer_hops(spark):
    # direct 0-3 costs 10; 3-leg detour costs 3 — needs >= 3 rounds.
    edges = [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1)]
    assert _run(spark, edges, [0], 1)[3] == 10
    assert _run(spark, edges, [0], 3)[3] == 3


def test_bounded_rounds_truncate(spark):
    edges = [(0, 1, 1), (1, 2, 1), (2, 3, 1)]
    got = _run(spark, edges, [0], 2)
    assert got == {0: 0, 1: 1, 2: 2}  # node 3 unreachable in 2 legs
    assert _run(spark, edges, [0], 0) == {0: 0}


def test_multi_source_and_unreachable(spark):
    edges = [(0, 1, 4), (2, 3, 1), (8, 9, 7)]
    got = _run(spark, edges, [0, 2], 8)
    assert got == {0: 0, 1: 4, 2: 0, 3: 1}
    assert 8 not in got and 9 not in got


def test_early_exit_matches_large_bound(spark):
    edges = [(0, 1, 2), (1, 2, 2)]
    assert _run(spark, edges, [0], 50) == _run(spark, edges, [0], 2)


def test_brute_differential(spark):
    edges = sorted({(min((i * 7) % 29, (i * 13 + 5) % 29),
                     max((i * 7) % 29, (i * 13 + 5) % 29),
                     1 + (i * 3) % 9)
                    for i in range(90)
                    if (i * 7) % 29 != (i * 13 + 5) % 29})
    seeds = [0, 11]
    for k in (1, 2, 4):
        assert _run(spark, edges, seeds, k) == _brute(edges, seeds, k), k
    # weighted 15-node path with costly shortcuts: distances keep
    # improving through round 11, so every round up to max_rounds runs
    path = [(i, i + 1, 1 + (i * 5) % 7) for i in range(14)]
    path += [(0, 7, 40), (3, 12, 30)]
    for k in (6, 8):
        assert _run(spark, path, [0], k) == _brute(path, [0], k), k


def test_negative_rounds_raise(spark):
    with pytest.raises(ValueError):
        sssp_bounded(
            spark.createDataFrame([], EDGES),
            spark.createDataFrame([], NODES),
            max_rounds=-1,
        )
