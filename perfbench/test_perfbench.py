"""Self-tests of the benchmark (Spark-free, about 15 s):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import numpy as np  # noqa: E402
import pytest  # noqa: E402

import expected as ref  # noqa: E402
import run  # noqa: E402
from expected import digest  # noqa: E402
from tracing import _union_length  # noqa: E402
from workloads import SIZES, WORKLOADS, EnrichJoin, Ingest  # noqa: E402

SMALL = {"pages": 150, "graph_nodes": 300, "graph_edges": 1500}


@pytest.fixture(scope="module")
def enrich_rows():
    return EnrichJoin.reference(EnrichJoin.make_inputs(5, SMALL))


@pytest.fixture(scope="module")
def ingest_rows():
    return Ingest.reference(Ingest.make_inputs(5, SMALL))


def _checker(rows):
    return run.Checker({op: digest(r) for op, r in rows.items()})


def _outputs(rows):
    return {op: digest(r) for op, r in rows.items()}


def test_correct_outputs_pass(enrich_rows, ingest_rows):
    for cls, rows in ((EnrichJoin, enrich_rows), (Ingest, ingest_rows)):
        c = _checker(rows)
        c.check(_outputs(rows))
        assert c.failed == 0 and c.attempted == len(cls.ops) + len(cls.probe_ops)


def test_planted_wrong_pip_pair_fails(enrich_rows):
    c = _checker(enrich_rows)
    bad = copy.deepcopy(enrich_rows)
    pid, poly = bad["pip_join"][0]
    bad["pip_join"].append((pid, poly + 1))
    c.check(_outputs(bad))
    assert c.failed == 1
    assert c.mismatched[0]["op"] == "pip_join"
    assert c.failed_ops_ratio > 0


def test_planted_wrong_coordinate_fails(ingest_rows):
    c = _checker(ingest_rows)
    bad = copy.deepcopy(ingest_rows)
    row = next(r for r in bad["features"] if r[ref.FEATURE_COLUMNS.index("lon")] is not None)
    i = ref.FEATURE_COLUMNS.index("lon")
    row[i] = row[i] + 1e-9
    c.check(_outputs(bad))
    assert c.failed == 1 and c.failed_ops_ratio == 1.0


def test_planted_wrong_tile_count_fails(enrich_rows):
    c = _checker(enrich_rows)
    bad = copy.deepcopy(enrich_rows)
    z, x, y, n = bad["tiling"][0]
    bad["tiling"][0] = (z, x, y, n + 1)
    c.check(_outputs(bad))
    assert [m["op"] for m in c.mismatched] == ["tiling"]
    assert c.failed_ops_ratio == pytest.approx(1 / len(enrich_rows))


def test_planted_wrong_rank_fails(enrich_rows):
    c = _checker(enrich_rows)
    bad = copy.deepcopy(enrich_rows)
    node, rank = bad["pagerank"][0]
    bad["pagerank"][0] = (node, rank + 1)
    c.check(_outputs(bad))
    assert [m["op"] for m in c.mismatched] == ["pagerank"]


def test_planted_wrong_neighbour_fails(enrich_rows):
    c = _checker(enrich_rows)
    bad = copy.deepcopy(enrich_rows)
    q, rank, nb, d2 = bad["knn"][0]
    bad["knn"][0] = (q, rank, nb + 1, d2)
    c.check(_outputs(bad))
    assert [m["op"] for m in c.mismatched] == ["knn"]


def test_unreadable_output_fails(enrich_rows):
    c = _checker(enrich_rows)
    got = _outputs(enrich_rows)
    got["serialize"] = None
    c.check(got)
    assert [m["op"] for m in c.mismatched] == ["serialize"]


def test_graph_references_on_a_small_graph():
    # 0->1, 1->2, 2->0, 2->0 again, 3->0 and a self-loop 3->3
    src = np.array([0, 1, 2, 2, 3, 3])
    dst = np.array([1, 2, 0, 0, 0, 3])
    ranks = dict(ref.pagerank_rows(src, dst))
    assert sorted(ranks) == [0, 1, 2, 3]
    assert ranks[0] > ranks[3]
    assert all(isinstance(v, int) for v in ranks.values())
    # undirected degrees 3, 2, 2, 1: at k=3 peeling removes every node
    assert ref.k_core_rows(src, dst) == []
    # a 4-clique survives k=3 with degree 3 each; a pendant node is peeled
    clique = [(a, b) for a in range(4) for b in range(4) if a < b] + [(3, 9)]
    s, d = np.array([e[0] for e in clique]), np.array([e[1] for e in clique])
    assert sorted(ref.k_core_rows(s, d)) == [(0, 3), (1, 3), (2, 3), (3, 3)]


def test_knn_reference_ranks_by_distance_then_id():
    pts = [(p, float(p % 5), 0.0) for p in range(40)]
    rows = ref.knn_rows(pts)
    queries = {r[0] for r in rows}
    assert queries == {p for p, _x, _y in pts if ref.is_knn_query(p)}
    for q in queries:
        mine = sorted(r for r in rows if r[0] == q)
        assert [r[1] for r in mine] == list(range(1, ref.KNN_K + 1))
        assert all(r[3] == 0.0 for r in mine)
        # equal distances: ties go to the smallest neighbour ids
        assert [r[2] for r in mine] == sorted(p for p in range(40) if p % 5 == q % 5)[:ref.KNN_K]


def test_failed_pass_counts_every_call():
    c = run.Checker({})
    c.fail_pass(EnrichJoin.ops)
    assert c.failed == c.attempted == len(EnrichJoin.ops)


def test_same_seed_same_inputs_and_digests():
    for cls in (Ingest, EnrichJoin):
        a = cls.make_inputs(7, SMALL)
        b = cls.make_inputs(7, SMALL)
        assert a == b
        da = {op: digest(r) for op, r in cls.reference(a).items()}
        db = {op: digest(r) for op, r in cls.reference(b).items()}
        assert da == db


def test_other_seed_other_inputs_and_digests():
    for cls in (Ingest, EnrichJoin):
        a = cls.make_inputs(7, SMALL)
        b = cls.make_inputs(8, SMALL)
        for key in a:
            assert a[key] != b[key]
        da = {op: digest(r) for op, r in cls.reference(a).items()}
        db = {op: digest(r) for op, r in cls.reference(b).items()}
        assert all(da[op] != db[op] for op in da)


def test_digest_is_order_independent_and_counts_duplicates():
    rows = [(1, 2.5, "a"), (3, None, [1, 2])]
    assert digest(rows) == digest(list(reversed(rows)))
    assert digest(rows) != digest(rows + rows[:1])


def test_pinned_digests_hold():
    from pin import PINNED_PATH, pinned_digests

    with open(PINNED_PATH) as fh:
        assert json.load(fh) == pinned_digests()


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_METRICS
    names = [w["name"] for w in bench["workloads"]]
    assert names == list(WORKLOADS) == list(SIZES)
    assert run.parse_args(["--workload", names[-1]]).workload == names[-1]


def test_union_length_merges_overlaps():
    assert _union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_length([]) == 0


def test_stop_descendants_stops_orphans():
    """A process orphaned below the run's parent (here a background sleep
    whose shell has exited) is stopped and reaped."""
    code = "\n".join([
        "import os, subprocess, run, tracing",
        "run.become_subreaper()",
        "subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 &'], check=True)",
        "assert tracing.descendants(os.getpid())",
        "run.stop_descendants(grace_s=0.2)",
        "assert not tracing.descendants(os.getpid())",
    ])
    subprocess.run([sys.executable, "-c", code], cwd=HERE, check=True, timeout=30)
