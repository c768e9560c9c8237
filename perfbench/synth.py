"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the pages corpus comes
from the engine's own generator (``sources.make_page``), the polygon layers
from a numpy ``default_rng(seed)``. The engine only ever
sees the generated tables, never the seed.
"""

from __future__ import annotations

import math

import numpy as np

#: point ids pack (page number, feature index); a page yields < 64 features
POINT_ID_STRIDE = 64
#: the convex world grid: GRID_NX x GRID_NY jittered quads
GRID_NX, GRID_NY = 36, 18
#: concave polygons with holes, ids from HOLES_ID0
HOLES_POLYS = 40
HOLES_ID0 = 100000
#: Zipf exponent of the graph's out-degree
GRAPH_ZIPF_A = 1.6


def pages(seed: int, n_pages: int):
    """The synthetic ``pages`` corpus as a list of row dicts."""
    from picogeojson_spark.sources import make_page

    return [make_page(i, seed) for i in range(n_pages)]


def point_id(url: str, feature_idx: int) -> int:
    """Stable point id of a feature row: the page number in the url's
    trailing digits times ``POINT_ID_STRIDE`` plus the feature index."""
    return int(url.rsplit("/", 1)[1]) * POINT_ID_STRIDE + int(feature_idx)


def _poly_json(rings):
    import json

    return json.dumps({"type": "Polygon", "coordinates": rings},
                      separators=(",", ":"))


def grid_layer(seed: int):
    """A convex world grid: ``GRID_NX * GRID_NY`` quads over the whole globe whose
    interior vertices are jittered by the seed (outer edges stay on the
    ±180/±90 frame), so the cells tile the world without gaps.
    Returns ``[(poly_id, geometry_json)]``."""
    rng = np.random.default_rng([seed, 1])
    nx, ny = GRID_NX, GRID_NY
    dx, dy = 360.0 / nx, 180.0 / ny
    xs = -180.0 + dx * np.arange(nx + 1)[:, None] + np.zeros((1, ny + 1))
    ys = -90.0 + dy * np.arange(ny + 1)[None, :] + np.zeros((nx + 1, 1))
    jx = rng.uniform(-0.2, 0.2, xs.shape) * dx
    jy = rng.uniform(-0.2, 0.2, ys.shape) * dy
    jx[[0, -1], :] = 0.0
    jy[:, [0, -1]] = 0.0
    xs = np.round(xs + jx, 6)
    ys = np.round(ys + jy, 6)
    out = []
    for i in range(nx):
        for j in range(ny):
            corners = [(i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1), (i, j)]
            ring = [[float(xs[a, b]), float(ys[a, b])] for a, b in corners]
            out.append((i * ny + j, _poly_json([ring])))
    return out


def _star(cx, cy, r_out, r_in, n, phase):
    ring = []
    for k in range(2 * n):
        r = r_out if k % 2 == 0 else r_in
        a = phase + math.pi * k / n
        ring.append([round(cx + r * math.cos(a), 6),
                     round(cy + r * math.sin(a), 6)])
    ring.append(list(ring[0]))
    return ring


def holes_layer(seed: int):
    """Large concave (star-shaped) polygons, each with one to three holes,
    so most cell-prefix candidates sit near a ring edge.
    Returns ``[(poly_id, geometry_json)]``; ids start at HOLES_ID0."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for p in range(HOLES_POLYS):
        cx = float(rng.uniform(-150.0, 150.0))
        cy = float(rng.uniform(-60.0, 60.0))
        r = float(rng.uniform(8.0, 20.0))
        n = int(rng.integers(6, 13))
        rings = [_star(cx, cy, r, 0.55 * r, n, float(rng.uniform(0, math.pi)))]
        for h in range(int(rng.integers(1, 4))):
            a = 2 * math.pi * h / 3 + float(rng.uniform(0, 0.5))
            hole = _star(cx + 0.3 * r * math.cos(a), cy + 0.3 * r * math.sin(a),
                         0.12 * r, 0.08 * r, 5, 0.0)
            rings.append(hole[::-1])
        out.append((HOLES_ID0 + p, _poly_json(rings)))
    return out


def zipf_graph(seed: int, n_nodes: int, n_edges: int):
    """A directed graph whose out-degree is Zipf-skewed: edge sources are
    Zipf ranks mapped through a seeded permutation of the node ids, edge
    targets are uniform. Duplicate edges and self-loops are kept; the
    operators handle both. Returns ``(src, dst)`` lists of ints."""
    rng = np.random.default_rng([seed, 3])
    ranks = np.empty(0, dtype=np.int64)
    while len(ranks) < n_edges:
        draw = rng.zipf(GRAPH_ZIPF_A, 2 * n_edges)
        ranks = np.concatenate([ranks, draw[draw <= n_nodes] - 1])
    ids = rng.permutation(n_nodes).astype(np.int64)
    src = ids[ranks[:n_edges]]
    dst = rng.integers(0, n_nodes, n_edges, dtype=np.int64)
    return src.tolist(), dst.tolist()
