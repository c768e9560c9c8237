"""label_propagation: convergence on disjoint cliques, python brute
replay differential, and the cache hygiene of every iterative graph
operator (pinned loop inputs are released on return and on error)."""

import pytest

pytestmark = pytest.mark.usefixtures("spark")


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _brute_lpa(pairs, rounds):
    adj = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = {}
            for m in nbrs:
                cnt[labels[m]] = cnt.get(labels[m], 0) + 1
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            nxt[n] = best[0]
        labels = nxt
    return labels


def test_disjoint_triangles_converge_to_min_id(spark):
    from picogeojson_spark.operators.graph import label_propagation

    pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    out = {r.node: r.label
           for r in label_propagation(_edges(spark, pairs), rounds=4)
           .collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_brute_replay_differential(spark):
    from picogeojson_spark.operators.graph import label_propagation

    # deterministic pseudo-random graph with two dense blobs + a bridge
    pairs = set()
    for i in range(60):
        a = (i * 7) % 12
        b = (i * 11 + 3) % 12
        if a != b:
            pairs.add((min(a, b), max(a, b)))
        a = 20 + (i * 5) % 10
        b = 20 + (i * 13 + 1) % 10
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    pairs.add((11, 20))  # bridge
    pairs = sorted(pairs)
    for rounds in (1, 3):
        out = {r.node: r.label
               for r in label_propagation(_edges(spark, pairs),
                                          rounds=rounds).collect()}
        assert out == _brute_lpa(pairs, rounds), rounds


class _FailingLog(list):
    """An ``iteration_log`` whose second append raises: an error thrown
    from inside the round loop, after the loop inputs are pinned."""

    def append(self, rec):
        if self:
            raise RuntimeError("injected mid-loop failure")
        super().append(rec)


def _cache_cases():
    from picogeojson_spark.operators import graph as G
    from picogeojson_spark.operators.web import resolve_redirects

    def sd(spark, pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    def nodes(spark, ids, col="node"):
        return spark.createDataFrame([(i,) for i in ids], col + " long")

    path = [(i, i + 1) for i in range(6)]
    tri = [(1, 2), (2, 3), (1, 3), (3, 4)]
    return {
        "pagerank": lambda s: G.pagerank(sd(s, path), iterations=3),
        "hits": lambda s: G.hits(sd(s, path), iterations=2),
        "label_propagation": lambda s: G.label_propagation(
            _edges(s, [(1, 2), (2, 3)]), rounds=2),
        "bfs_hops": lambda s: G.bfs_hops(_edges(s, path), nodes(s, [0])),
        "sssp_bounded": lambda s: G.sssp_bounded(
            s.createDataFrame([(u, v, 2) for u, v in path],
                              "u long, v long, w long"),
            nodes(s, [0]), max_rounds=3),
        "closeness_sample": lambda s: G.closeness_sample(
            _edges(s, path), nodes(s, [0, 3], "seed")),
        "k_core": lambda s: G.k_core(_edges(s, tri), 2),
        "k_truss": lambda s: G.k_truss(_edges(s, tri), k=3),
        "resolve_redirects": lambda s: resolve_redirects(
            sd(s, path), rounds=3),
        "pagerank_raises_mid_loop": lambda s: G.pagerank(
            sd(s, path), iterations=3, iteration_log=_FailingLog()),
        "hits_raises_mid_loop": lambda s: G.hits(
            sd(s, path), iterations=3, iteration_log=_FailingLog()),
        "k_core_raises_mid_loop": lambda s: G.k_core(
            _edges(s, path), 2, max_rounds=1),
    }


@pytest.mark.parametrize("case", list(_cache_cases()))
def test_no_pinned_cache_after_return(spark, case):
    run = _cache_cases()[case]
    if case.endswith("_raises_mid_loop"):
        with pytest.raises(RuntimeError):
            run(spark)
    else:
        run(spark).collect()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "{} leaked persisted DataFrames".format(case)


def test_rounds_validation(spark):
    from picogeojson_spark.operators.graph import label_propagation

    with pytest.raises(ValueError):
        label_propagation(_edges(spark, [(1, 2)]), rounds=0)
