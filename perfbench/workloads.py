"""The workloads: seeded inputs, one timed pass, and the output rows each
call is checked by.

A pass is a closed loop of calls into the engine's public functions; the
next call starts only after the previous result is written or collected.
``run_pass`` takes a tracer: the untraced passes get an ``OpTimer`` and
run the identical calls, the traced ones record a span (and a Spark job group)
per call, and the few traced-only extras are marked ``if tr.on``.

``make_inputs``, ``write_inputs``, ``reference`` and ``output_rows`` are
Spark-free. They run in the run's helper process (the ``helper_*``
functions at the end), so the inputs, the expected digests and the output
checks stay out of the Spark driver's memory; the pinned digests and the
self-tests call them directly.
"""

from __future__ import annotations

import os
import shutil

import expected as ref
import synth

SIZES = {
    "ingest": {"pages": 6000},
    "enrich_join": {"pages": 2000, "graph_nodes": 20000, "graph_edges": 100000},
}


def dir_bytes_files(path):
    """(bytes, data files) under a written table directory."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _write_pages(pages, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(pages), path)


def _write_edges(src, dst, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"src": src, "dst": dst}), path)


def _features_table(spark, pages_path, out_path, tr):
    """pages parquet -> mine_features -> cell column -> cell-partitioned
    features table. Traced passes materialize the features first so the
    mining and the storage write get separate spans."""
    from pyspark.sql import functions as F

    from picogeojson_spark.operators.features import mine_features
    from picogeojson_spark.operators.pip_join import cell_expr
    from picogeojson_spark.plans.spatial_layout import write_cell_partitioned

    pages = spark.read.parquet(pages_path)
    with tr.span("features"):
        feats = mine_features(pages, use_html=True)
        if tr.on:
            feats = feats.persist()
            tr.count("features.rows_out", feats.count())
    if tr.on:
        tr.count("features.error_rows", feats.filter(F.col("parse_error").isNotNull()).count())
    with tr.span("layout.write"):
        write_cell_partitioned(
            feats.withColumn("cell", cell_expr(F.col("lon"), F.col("lat"), ref.CELL_LEVEL)),
            out_path)
    if tr.on:
        feats.unpersist()
        nbytes, nfiles = dir_bytes_files(out_path)
        tr.count("layout.bytes_written", nbytes)
        tr.count("layout.files_written", nfiles)


def read_table(path, columns):
    """Rows of a written parquet table, read back with pyarrow: the check
    stays off Spark, and a struct column reads as a dict."""
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns, partitioning=None).to_pylist()


def read_features(path):
    out = []
    for d in read_table(path, ref.FEATURE_COLUMNS + ["parse_error"]):
        if d["bbox"] is not None:
            d["bbox"] = [d["bbox"][k] for k in ("xmin", "ymin", "xmax", "ymax")]
        d["error"] = d.pop("parse_error") is not None
        out.append(d)
    return out


def spark_located(spark, features_path):
    """Features with a location, keyed by their point id."""
    from pyspark.sql import functions as F

    page_no = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    pid = page_no * F.lit(synth.POINT_ID_STRIDE) + F.col("feature_idx").cast("long")
    return (spark.read.parquet(features_path)
            .where(F.col("lon").isNotNull())
            .withColumn("point_id", pid))


def output_rows(spec):
    """The rows an output spec stands for: ``("rows", rows)`` as collected,
    or ``(kind, path)`` of a table the pass wrote, read back with pyarrow."""
    kind, value = spec
    if kind == "rows":
        return value
    if kind == "features":
        return [ref.feature_key(r) for r in read_features(value)]
    if kind == "serialized":
        return [(r["point_id"], r["geojson"])
                for r in read_table(value, ["point_id", "geojson"])]
    raise ValueError(kind)


def collect(df):
    return [tuple(r) for r in df.collect()]


class Workload:
    """One workload. The Spark-free static methods build and check its
    inputs and outputs; an instance drives the engine in one session.
    ``ops`` are the calls of a timed pass, ``probe_ops`` those of
    ``run_probes``, which only traced runs make."""

    name = ""
    ops = ()
    probe_ops = ()

    def __init__(self, spark, work, seed, small):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name]
        self.small = small
        os.makedirs(work, exist_ok=True)

    def path(self, name):
        return os.path.join(self.work, name)

    def build(self, tr):
        """Setup work after synthesis; none by default."""

    def run_probes(self, tr):
        return {}

    def cleanup(self):
        shutil.rmtree(self.work, ignore_errors=True)


class Ingest(Workload):
    """pages parquet -> mine_features(use_html=True) -> cell-partitioned
    features table."""

    name = "ingest"
    ops = ("features",)

    @staticmethod
    def make_inputs(seed, size):
        return {"pages": synth.pages(seed, size["pages"])}

    @staticmethod
    def write_inputs(inputs, work):
        _write_pages(inputs["pages"], os.path.join(work, "pages.parquet"))
        return {"input_rows": len(inputs["pages"])}

    @staticmethod
    def reference(inputs):
        return {"features": [ref.feature_key(r) for r in ref.feature_rows(inputs["pages"])]}

    def run_pass(self, tr):
        _features_table(self.spark, self.path("pages.parquet"), self.path("features"), tr)
        return {"features": ("features", self.path("features"))}

    def input_rows(self):
        return self.small["input_rows"]

    def input_bytes(self):
        return os.path.getsize(self.path("pages.parquet"))

    def output_bytes(self):
        return dir_bytes_files(self.path("features"))[0]


class EnrichJoin(Workload):
    """features table -> one pip_join against two polygon layers ->
    serialize_features of the matched features to parquet. The layer
    probes, in traced runs only: knn_join on a hashed query sample,
    tile_pyramid, and pagerank and k_core on a Zipf graph."""

    name = "enrich_join"
    ops = ("pip_join", "serialize")
    probe_ops = ("knn", "tiling", "pagerank", "k_core")

    @staticmethod
    def make_inputs(seed, size):
        return {"pages": synth.pages(seed, size["pages"]),
                "grid": synth.grid_layer(seed),
                "holes": synth.holes_layer(seed),
                "edges": synth.zipf_graph(seed, size["graph_nodes"], size["graph_edges"])}

    @staticmethod
    def write_inputs(inputs, work):
        _write_pages(inputs["pages"], os.path.join(work, "pages.parquet"))
        _write_edges(*inputs["edges"], os.path.join(work, "edges.parquet"))
        return {"grid": inputs["grid"], "holes": inputs["holes"]}

    @staticmethod
    def reference(inputs):
        feats = list(ref.feature_rows(inputs["pages"]))
        points = ref.points_of(feats)
        pairs = ref.pip_pairs(points, inputs["grid"] + inputs["holes"])
        return {
            "pip_join": pairs,
            "serialize": ref.serialized_rows(feats, {p for p, _ in pairs}),
            "knn": ref.knn_rows(points),
            "tiling": ref.tile_rows(points),
            "pagerank": ref.pagerank_rows(*inputs["edges"]),
            "k_core": ref.k_core_rows(*inputs["edges"]),
        }

    def build(self, tr):
        """Write the features table with the ingest code. A traced run
        traces this build, so the mining and layout figures also exist on
        this workload."""
        _features_table(self.spark, self.path("pages.parquet"), self.path("features"), tr)
        self.polys = {k: self.spark.createDataFrame(self.small[k],
                                                    "poly_id long, geometry_json string")
                      for k in ("grid", "holes")}
        self.polys["all"] = self.polys["grid"].union(self.polys["holes"])
        self.n_points = spark_located(self.spark, self.path("features")).count()

    def points(self):
        return spark_located(self.spark, self.path("features")).select("point_id", "lon", "lat")

    def run_pass(self, tr):
        from picogeojson_spark.operators.pip_join import (
            pip_join, point_ancestors_df, polygon_cover_df)
        from picogeojson_spark.operators.serialize import serialize_features

        spark = self.spark
        points = self.points()
        out = {}
        # one call against both layers: a call per layer does not fit the
        # run budget; the traced counts split them by layer
        with tr.span("pip_join"):
            out["pip_join"] = collect(pip_join(points, self.polys["all"]))
        if tr.on:
            for layer in ("grid", "holes"):
                # candidate count: the public cover joined with the point
                # ancestors, the same equi-join pip_join refines
                cover = polygon_cover_df(self.polys[layer])
                tr.count("pip_join.cover_rows." + layer, cover.count())
                tr.count("pip_join.candidates." + layer,
                         point_ancestors_df(points).join(cover, "cell").count())
                tr.count("pip_join.pairs." + layer, sum(
                    (poly < synth.HOLES_ID0) == (layer == "grid") for _, poly in out["pip_join"]))
        matched_ids = sorted({p for p, _ in out["pip_join"]})
        with tr.span("serialize"):
            matched = spark.createDataFrame([(p,) for p in matched_ids], "point_id long")
            located = spark_located(spark, self.path("features"))
            (serialize_features(located.join(matched, "point_id", "left_semi"))
             .select("point_id", "geojson")
             .write.mode("overwrite").parquet(self.path("serialized")))
        if tr.on:
            tr.count("serialize.bytes_out", dir_bytes_files(self.path("serialized"))[0])
        specs = {op: ("rows", rows) for op, rows in out.items()}
        specs["serialize"] = ("serialized", self.path("serialized"))
        return specs

    def run_probes(self, tr):
        """The calls measured per layer only: they do not fit the run
        budget of the timed passes."""
        from pyspark.sql import functions as F

        from picogeojson_spark.operators.graph import k_core, pagerank
        from picogeojson_spark.operators.knn import knn_join
        from picogeojson_spark.operators.tiling import tile_pyramid

        points = self.points()
        out = {}
        is_query = (F.pmod(F.col("point_id") * F.lit(ref.KNN_HASH_MUL), F.lit(1 << 32))
                    < F.lit((1 << 32) // ref.KNN_EVERY))
        with tr.span("knn"):
            out["knn"] = collect(knn_join(
                points.where(is_query).withColumnRenamed("point_id", "query_id"),
                points.withColumnRenamed("point_id", "neighbor_id"), k=ref.KNN_K))
        with tr.span("tiling"):
            out["tiling"] = collect(tile_pyramid(points, ref.TILE_Z_MIN, ref.TILE_Z_MAX)
                                    .select("tile_z", "tile_x", "tile_y", "n_points"))
        tr.count("tiling.tiles_out", len(out["tiling"]))
        edges = self.spark.read.parquet(self.path("edges.parquet"))
        log = []
        with tr.span("graph.pagerank"):
            out["pagerank"] = collect(pagerank(
                edges, iterations=ref.PAGERANK_ITERATIONS, damping_pct=ref.PAGERANK_DAMPING_PCT,
                scale=ref.PAGERANK_SCALE, iteration_log=log))
        tr.count("graph.rounds", log)
        with tr.span("graph.k_core"):
            out["k_core"] = collect(k_core(
                edges.select(F.col("src").alias("u"), F.col("dst").alias("v")), ref.K_CORE_K))
        return {op: ("rows", rows) for op, rows in out.items()}

    def input_rows(self):
        return self.n_points

    def input_bytes(self):
        return dir_bytes_files(self.path("features"))[0]

    def output_bytes(self):
        return dir_bytes_files(self.path("serialized"))[0]


WORKLOADS = {w.name: w for w in (Ingest, EnrichJoin)}


# ----------------------------------------------- the run's helper process

_INPUTS = {}


def helper_synthesize(name, seed, work):
    """Generate the workload's inputs, write its input files under ``work``
    and return the small inputs the driver needs; keeps the inputs for
    ``helper_expected``."""
    cls = WORKLOADS[name]
    inputs = cls.make_inputs(seed, SIZES[name])
    _INPUTS[name, seed] = inputs
    os.makedirs(work, exist_ok=True)
    return cls.write_inputs(inputs, work)


def helper_expected(name, seed):
    """Expected digest per op of the inputs ``helper_synthesize`` made."""
    rows = WORKLOADS[name].reference(_INPUTS[name, seed])
    return {op: ref.digest(r) for op, r in rows.items()}


def helper_digests(specs):
    """Digest per op of a pass's outputs; None where reading them failed."""
    import traceback

    out = {}
    for op, spec in specs.items():
        try:
            out[op] = ref.digest(output_rows(spec))
        except Exception:
            traceback.print_exc()
            out[op] = None
    return out
