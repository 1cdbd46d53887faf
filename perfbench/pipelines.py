"""Workloads and the job pipelines they run.

Each pipeline makes the same public calls, with the same defaults, as the
``main()`` of the matching ``jobs/run_*.py``: ``load_rects``, the
operator, ``coarse_cell_col`` and ``resumable_write``.  A pipeline is
split into the steps the traced run materializes one prefix at a time:
``sources`` (the loaded rect frames), ``cover`` (the cell-cover explode
the operator starts from), ``operator`` (the call plus the output frame)
and ``manifest`` (the resumable write).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobs._common import coarse_cell_col, load_query_points, load_query_rects, load_rects
from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.cover import with_cover_cells
from rtree_cpp_spark.operators.knn import knn
from rtree_cpp_spark.operators.range_query import range_query
from rtree_cpp_spark.operators.spatial_join import spatial_join_salted
from rtree_cpp_spark.operators.tiles import cover_tiles

# jobs/_common.py base_parser and jobs/run_join.py defaults
GRID_LEVEL = 6
EXTENT = 1024.0
COARSE_LEVEL = 3
HOT_THRESHOLD = 100_000
N_SALT = 16


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    pipelines: tuple[str, ...]
    n_a: int
    n_b: int = 0
    n_range: int = 0
    n_knn: int = 0
    cluster_frac: float = 0.0
    cluster_diam: float = 8.0
    max_dim: float = 4.0
    hot_threshold: int = HOT_THRESHOLD

    def scaled(self, scale: float) -> "Workload":
        """Same workload with every input size (and the hot threshold,
        which is a count of A rects per cell) multiplied by ``scale``."""
        if scale == 1.0:
            return self

        def s(n: int) -> int:
            return max(1, round(n * scale)) if n else 0

        return Workload(
            self.name, self.why, self.pipelines, s(self.n_a), s(self.n_b),
            s(self.n_range), s(self.n_knn), self.cluster_frac, self.cluster_diam,
            self.max_dim, s(self.hot_threshold),
        )


# Sizes keep a warm iteration at a few seconds on local[4], so that a
# run of a few tens of seconds holds several closed-loop iterations.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "join_uniform",
            "uniform rects: the join+tiling job; the census finds no hot cell, "
            "so cover, exchange, refine and the parquet sink carry the time",
            ("join", "tiles"), n_a=200_000, n_b=100_000,
        ),
        Workload(
            "join_skewed",
            "20% of rects in three hot spots: the census finds hot cells, so "
            "the salting branch runs and candidates per output row are high",
            ("join",), n_a=50_000, n_b=25_000, cluster_frac=0.2,
            cluster_diam=24.0, max_dim=1.0, hot_threshold=200,
        ),
        Workload(
            "query_batch",
            "range and kNN query batches over join_uniform's A: the driver-"
            "resident kNN round loop and broadcast query side, no A x B shuffle",
            ("range", "knn"), n_a=200_000, n_range=2_000, n_knn=500,
        ),
    )
}


def input_seeds(seed: int) -> dict[str, int]:
    """Per-table generator seeds.  The synth hashes use seed+0..seed+13,
    so tables get seeds 100 apart to keep their streams independent."""
    base = 1000 * seed
    return {"a": base + 100, "b": base + 200, "range": base + 300, "knn": base + 400}


def grid() -> Grid:
    return Grid(GRID_LEVEL, EXTENT)


def _part(g: Grid, cell) -> "F.Column":
    return coarse_cell_col(g, COARSE_LEVEL, cell)


@dataclass(frozen=True)
class Pipeline:
    """One job pipeline.

    ``load`` returns the named frames the job reads; ``cover`` the
    cover-exploded frames its operator starts from, or None when the
    operator is the cover itself (tiles); ``output`` calls the operator
    and returns the frame handed to ``resumable_write``.
    """

    name: str
    stage: str
    layer: str
    load: Callable[[SparkSession, dict], dict]
    cover: Callable[[dict, Grid], list] | None
    output: Callable[[dict, Grid, Workload], DataFrame]


def _load_ab(spark, paths):
    return {"a": load_rects(spark, paths["a"], "parquet"), "b": load_rects(spark, paths["b"], "parquet")}


def _join_output(f, g, w):
    pairs = spatial_join_salted(
        f["a"], f["b"], g, hot_threshold=w.hot_threshold, n_salt=N_SALT, keep_cell=True
    )
    return pairs.withColumn("part", _part(g, F.col("cell"))).drop("cell")


def _tiles_output(f, g, w):
    return cover_tiles(f["a"], g).withColumn("part", _part(g, F.col("cell")))


def _range_output(f, g, w):
    queries = f["queries"]
    hits = range_query(f["a"], queries, g)
    qcell = queries.select(
        "query_id",
        g.cell_of_point_col(
            (F.col("min_x") + F.col("max_x")) / 2, (F.col("min_y") + F.col("max_y")) / 2
        ).alias("qcell"),
    )
    return (
        hits.join(F.broadcast(qcell), "query_id")
        .withColumn("part", _part(g, F.col("qcell")))
        .drop("qcell")
    )


def _knn_output(f, g, w):
    queries = f["queries"]  # carries its own k column, as run_knn.py expects
    result = knn(f["a"], queries, g)
    qcell = queries.select("query_id", g.cell_of_point_col(F.col("x"), F.col("y")).alias("qcell"))
    return (
        result.join(F.broadcast(qcell), "query_id")
        .withColumn("part", _part(g, F.col("qcell")))
        .drop("qcell")
    )


PIPELINES = {
    p.name: p
    for p in (
        Pipeline(
            "join", "spatial_join_rect", "operators.spatial_join", _load_ab,
            lambda f, g: [with_cover_cells(f["a"], g), with_cover_cells(f["b"], g)],
            _join_output,
        ),
        Pipeline(
            "tiles", "tiles_cover", "operators.cover",
            lambda spark, paths: {"a": load_rects(spark, paths["a"], "parquet")},
            None,
            _tiles_output,
        ),
        Pipeline(
            "range", "range_query", "operators.range_query",
            lambda spark, paths: {
                "a": load_rects(spark, paths["a"], "parquet"),
                "queries": load_query_rects(spark, paths["range"]),
            },
            lambda f, g: [with_cover_cells(f["a"], g)],
            _range_output,
        ),
        Pipeline(
            "knn", "knn", "operators.knn",
            lambda spark, paths: {
                "a": load_rects(spark, paths["a"], "parquet"),
                "queries": load_query_points(spark, paths["knn"]),
            },
            lambda f, g: [with_cover_cells(f["a"], g)],
            _knn_output,
        ),
    )
}
