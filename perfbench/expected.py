"""Spark-free expected outputs and the order-independent output digest.

Each workload's outputs are reduced to rows of plain Python values and
digested; the Spark side and the reference side below must produce equal
digests. The references use only the engine's kernel functions (``geo``,
``sources`` and the text scanner of ``operators.features``) and plain numpy:

- ingest: the per-row mining path replayed page by page, without Spark;
- PIP: every point x every polygon through the exact kernel;
- kNN: brute-force numpy distances from each sampled query to every point;
- tiles: numpy tile assignment and a counted rollup;
- serialize: the kernel codec per matched feature;
- pagerank: the integer fixed point in numpy;
- k_core: sequential peeling.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter

import numpy as np
from picogeojson_spark.geo.cells import DEFAULT_LEVEL as CELL_LEVEL

from synth import point_id

#: ``mine_features``' default cover size
COVER_MAX_CELLS = 32
TILE_Z_MIN, TILE_Z_MAX = 4, 12
KNN_K = 5
#: kNN queries are the points whose multiplicative hash of the point id
#: (mod 2**32) falls in the lowest 1/KNN_EVERY of its range
KNN_EVERY = 8
KNN_HASH_MUL = 2654435761
PAGERANK_ITERATIONS = 4
PAGERANK_DAMPING_PCT = 85
PAGERANK_SCALE = 10**12
K_CORE_K = 3


def canon(v):
    """Plain-Python form of a value as both engines return it."""
    if v is None or isinstance(v, (str, bool)):
        return v
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return [canon(x) for x in v]
    raise TypeError("cannot digest {!r}".format(type(v)))


def digest(rows) -> str:
    """Order-independent digest: row count plus the 64-bit sum of each
    canonical row's md5 prefix. Duplicate rows count."""
    total = 0
    n = 0
    for row in rows:
        blob = json.dumps(canon(row), separators=(",", ":")).encode()
        total = (total + int.from_bytes(hashlib.md5(blob).digest()[:8], "big")) % (1 << 64)
        n += 1
    return "{}:{:016x}".format(n, total)


# ------------------------------------------------------------------ ingest

def feature_rows(page_rows):
    """Replay the mining path (extract, scan, parse, cut, bbox, cells) per
    page, without Spark. Yields the features-table rows as dicts."""
    from picogeojson_spark.geo import codec
    from picogeojson_spark.geo.bounds import geometry_bbox
    from picogeojson_spark.geo.cells import cell_of, cover_bbox_ints
    from picogeojson_spark.geo.dateline import cut_dateline
    from picogeojson_spark.operators.features import iter_candidates
    from picogeojson_spark.sources import extract_text

    errors = (TypeError, ValueError, KeyError, IndexError)
    geom_opts = codec.SerializeOptions(antimeridian_cutting=False, write_bbox=False)
    for page in page_rows:
        url = page["url"]
        idx = 0
        for raw, _obj in iter_candidates(extract_text(page["html"])):
            try:
                tree = codec.loads(raw)
            except errors:
                yield _row(url, idx, error=True)
                idx += 1
                continue
            if tree["type"] == "FeatureCollection":
                units = [(f, f.get("crs")) for f in tree["features"]]
            else:
                units = [(tree, tree.get("crs"))]
            for unit, crs in units:
                pjson = fid = None
                geom = unit
                if unit["type"] == "Feature":
                    geom = unit["geometry"]
                    props = unit.get("properties")
                    pjson = json.dumps(props, sort_keys=True) if isinstance(props, dict) else None
                    fid = None if unit.get("id") is None else str(unit["id"])
                try:
                    cut = cut_dateline(geom)
                    bb = geometry_bbox(cut)
                except errors:
                    yield _row(url, idx, geom_type=geom.get("type"), props_json=pjson,
                               feature_id=fid, error=True)
                    idx += 1
                    continue
                cells = lon = lat = cell = None
                if bb is not None:
                    nd = len(bb) // 2
                    bb = (float(bb[0]), float(bb[1]), float(bb[nd]), float(bb[nd + 1]))
                    cells = cover_bbox_ints(*bb, CELL_LEVEL, COVER_MAX_CELLS)
                    lon, lat = (bb[0] + bb[2]) / 2.0, (bb[1] + bb[3]) / 2.0
                if geom["type"] == "Point":
                    lon, lat = float(geom["coordinates"][0]), float(geom["coordinates"][1])
                if lon is not None:
                    cell = int(cell_of(lon, lat, CELL_LEVEL))
                yield _row(
                    url, idx, geom_type=geom["type"],
                    geometry_json=json.dumps(codec.to_dict(cut, geom_opts, root=False),
                                             separators=(",", ":")),
                    props_json=pjson, feature_id=fid,
                    crs=json.dumps(crs, sort_keys=True) if crs is not None else None,
                    bbox=bb, lon=lon, lat=lat, cells=cells, cell=cell)
                idx += 1


FEATURE_COLUMNS = ["url", "feature_idx", "geom_type", "geometry_json", "props_json",
                   "feature_id", "crs", "bbox", "lon", "lat", "cells", "cell"]


def _row(url, idx, error=False, **cols):
    row = {c: None for c in FEATURE_COLUMNS}
    row.update(cols, url=url, feature_idx=idx)
    row["error"] = error
    return row


def feature_key(row):
    """The digested tuple of one features-table row (Spark or reference)."""
    return [row[c] for c in FEATURE_COLUMNS] + [bool(row["error"])]


def points_of(features):
    """(point_id, lon, lat) for every feature row with a location."""
    return [(point_id(f["url"], f["feature_idx"]), f["lon"], f["lat"])
            for f in features if f["lon"] is not None]


# ---------------------------------------------------------------- enrich

def pip_pairs(points, layer):
    """Every point x every polygon through the exact kernel."""
    from picogeojson_spark.geo.pip import points_in_geometry

    ids = np.array([p[0] for p in points], dtype=np.int64)
    xs = np.array([p[1] for p in points], dtype=np.float64)
    ys = np.array([p[2] for p in points], dtype=np.float64)
    out = []
    for poly_id, gj in layer:
        mask = points_in_geometry(xs, ys, json.loads(gj))
        out.extend((int(p), poly_id) for p in ids[mask])
    return out


def is_knn_query(pid):
    return (pid * KNN_HASH_MUL) % (1 << 32) < (1 << 32) // KNN_EVERY


def knn_rows(points):
    """(query_id, rank, neighbor_id, dist2) for every sampled query: the
    KNN_K nearest points by squared planar degrees, ties by neighbor id."""
    ids = np.array([p[0] for p in points], dtype=np.int64)
    xs = np.array([p[1] for p in points], dtype=np.float64)
    ys = np.array([p[2] for p in points], dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids, xs, ys = ids[order], xs[order], ys[order]
    out = []
    for qi in np.flatnonzero([is_knn_query(int(p)) for p in ids]):
        dx = xs[qi] - xs
        dy = ys[qi] - ys
        d2 = dx * dx + dy * dy
        top = np.lexsort((ids, d2))[:KNN_K]
        out.extend((int(ids[qi]), r + 1, int(ids[j]), float(d2[j]))
                   for r, j in enumerate(top))
    return out


def tile_rows(points):
    """Point counts per XYZ tile for every zoom in [TILE_Z_MIN, TILE_Z_MAX]."""
    from picogeojson_spark.geo.tiles import tile_xy

    x, y = tile_xy([p[1] for p in points], [p[2] for p in points], TILE_Z_MAX)
    out = []
    for z in range(TILE_Z_MIN, TILE_Z_MAX + 1):
        s = TILE_Z_MAX - z
        counts = Counter(zip((x >> s).tolist(), (y >> s).tolist()))
        out.extend((z, tx, ty, n) for (tx, ty), n in counts.items())
    return out


def serialized_rows(features, matched_ids):
    """(point_id, Feature JSON) for each matched feature via the codec."""
    from picogeojson_spark.geo import codec
    from picogeojson_spark.geo.algebra import make_feature

    out = []
    for f in features:
        if f["lon"] is None:
            continue
        pid = point_id(f["url"], f["feature_idx"])
        if pid not in matched_ids:
            continue
        geom = json.loads(f["geometry_json"])
        fid = f["feature_id"]
        if fid is not None:
            try:
                fid = int(fid)
            except ValueError:
                pass
        crs = json.loads(f["crs"]) if f["crs"] else None
        geom["crs"] = crs
        props = json.loads(f["props_json"]) if f["props_json"] else {}
        out.append((pid, codec.dumps(make_feature(geom, props, fid, crs))))
    return out


# ------------------------------------------------------------------ graph

def pagerank_rows(src, dst):
    """(node, rank) after PAGERANK_ITERATIONS rounds of the engine's integer
    update over the distinct edges: every step floor-divides, so numpy
    int64 replays it exactly."""
    edges = np.unique(np.stack([np.asarray(src, dtype=np.int64),
                                np.asarray(dst, dtype=np.int64)], axis=1), axis=0)
    nodes, inv = np.unique(edges, return_inverse=True)
    inv = inv.reshape(edges.shape)
    s, d = inv[:, 0], inv[:, 1]
    outdeg = np.bincount(s, minlength=len(nodes)).astype(np.int64)
    r0 = PAGERANK_SCALE // len(nodes)
    base = (r0 * (100 - PAGERANK_DAMPING_PCT)) // 100
    rank = np.full(len(nodes), r0, dtype=np.int64)
    for _ in range(PAGERANK_ITERATIONS):
        contrib = np.zeros(len(nodes), dtype=np.int64)
        np.add.at(contrib, d, rank[s] // outdeg[s])
        rank = base + (contrib * PAGERANK_DAMPING_PCT) // 100
    return list(zip(nodes.tolist(), rank.tolist()))


def k_core_rows(src, dst):
    """(node, core_degree) of the K_CORE_K-core by sequential peeling of
    the undirected multigraph: the distinct directed non-loop edges, each
    counted at both endpoints."""
    edges = {(int(u), int(v)) for u, v in zip(src, dst) if u != v}
    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    deg = {n: len(a) for n, a in adj.items()}
    todo = [n for n, d in deg.items() if d < K_CORE_K]
    gone = set(todo)
    while todo:
        n = todo.pop()
        for m in adj[n]:
            if m in gone:
                continue
            deg[m] -= 1
            if deg[m] < K_CORE_K:
                gone.add(m)
                todo.append(m)
    return [(n, sum(1 for m in adj[n] if m not in gone))
            for n in adj if n not in gone]
