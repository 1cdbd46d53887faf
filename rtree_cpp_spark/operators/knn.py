"""Exact k-nearest-neighbors — reference K1, best-first search at
src/rtree/builders/RTreeBulkLoad.cpp:238-302.

Distributed re-expression (SURVEY.md K1): **batched cell-disk doubling**.
All queries advance together; the driver loop iterates over *rounds*
(O(log grid)), never over queries or data rows:

    round(ρ): every open query explodes to its Chebyshev-disk cells
              (radius ρ, JVM `sequence` explode) → broadcast-join against
              the cover-exploded data → exact squared distance (double) →
              window rank (sq_dist, doc_id) → per-query stats.
    stop(q):  k candidates found AND k-th sq_dist <= d_out², where d_out
              is the exact distance from the query point to the boundary
              of the gathered square (sides at the domain edge count as
              +inf — nothing lives beyond).  Any rect outside the square
              is farther than d_out, so the top-k is provably exact.

Ties at the k-th distance break deterministically by ``doc_id`` —
documented deviation from the reference's heap-order ties (and its
early-termination bound bug, RTreeBulkLoad.cpp:284-295, SURVEY.md K2).
Distances are computed in float64 (more precise than the reference's
float32; on the float32-exact fixture lattice the two agree).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.functions.geometry import sq_dist_col
from rtree_cpp_spark.operators.cover import with_cover_cells

KNN_SCHEMA = "query_id string, doc_id string, sq_dist double, rank int"


def _disk_cells_df(qdf: DataFrame, grid: Grid) -> DataFrame:
    """Explode (query_id, x, y, k, qcx, qcy, rho) to its disk cells."""
    n = grid.n
    gx0 = F.greatest(F.lit(0), F.col("qcx") - F.col("rho"))
    gx1 = F.least(F.lit(n - 1), F.col("qcx") + F.col("rho"))
    gy0 = F.greatest(F.lit(0), F.col("qcy") - F.col("rho"))
    gy1 = F.least(F.lit(n - 1), F.col("qcy") + F.col("rho"))
    return (
        qdf.withColumn("_gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("_gy", F.explode(F.sequence(gy0, gy1)))
        .withColumn("cell", F.col("_gx") * F.lit(n) + F.col("_gy"))
        .drop("_gx", "_gy")
    )


def knn(
    data_rects: DataFrame,
    queries: DataFrame,
    grid: Grid,
    initial_radius: int = 1,
) -> DataFrame:
    """data_rects(doc_id, min_x..max_y) x queries(query_id, x, y, k)
    → (query_id, doc_id, sq_dist, rank), exact, rank 1..k ascending.

    The query batch (like the reference's query file, src/Main.cpp:216)
    is driver-resident; the DATA side is never collected.  The per-query
    top-k is a JVM ``row_number`` over (sq_dist, doc_id), so the whole
    round stays in codegen.
    """
    import pandas as pd

    spark = data_rects.sparkSession
    d = with_cover_cells(data_rects, grid).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        qp = queries.select("query_id", "x", "y", "k").toPandas()
        if len(qp) == 0:
            return spark.createDataFrame([], KNN_SCHEMA)
        qp["qcx"] = grid.cx_of(qp["x"].to_numpy())
        qp["qcy"] = grid.cx_of(qp["y"].to_numpy())
        qp["rho"] = initial_radius
        open_mask = np.ones(len(qp), dtype=bool)
        s, n = grid.cell_size, grid.n
        # Finished queries' top-k rows come BACK TO THE DRIVER each round:
        # they are <= k x |queries| rows (the query batch is driver-
        # resident by design, like the reference's query file), so a
        # round's candidate join executes exactly once — no lazy union
        # that would replay every round's join at the final action.
        parts: list[pd.DataFrame] = []

        while open_mask.any():
            sub = qp.loc[open_mask, ["query_id", "x", "y", "k", "qcx", "qcy", "rho"]]
            qdf = spark.createDataFrame(sub)
            cand = d.join(F.broadcast(_disk_cells_df(qdf, grid)), "cell").dropDuplicates(
                ["query_id", "doc_id"]
            )
            scored = cand.withColumn(
                "sq_dist",
                sq_dist_col(
                    F.col("x").cast("double"), F.col("y").cast("double"),
                    F.col("min_x").cast("double"), F.col("min_y").cast("double"),
                    F.col("max_x").cast("double"), F.col("max_y").cast("double"),
                ),
            )
            w = Window.partitionBy("query_id").orderBy("sq_dist", "doc_id")
            ranked = (
                scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= F.col("k"))
                .select("query_id", "doc_id", "sq_dist", "rank")
            )
            # ONE action per round: the ranked top-k is small, and both
            # the stop-rule stats and the finished results come from it.
            rank_pdf = ranked.toPandas()
            grouped = rank_pdf.groupby("query_id")["sq_dist"]
            cnts = grouped.size().to_dict()
            kths = grouped.max().to_dict()
            done_ids = []
            for i in np.flatnonzero(open_mask):
                qid = qp["query_id"].iat[i]
                rho = int(qp["rho"].iat[i])
                qcx, qcy = int(qp["qcx"].iat[i]), int(qp["qcy"].iat[i])
                x, y, k = float(qp["x"].iat[i]), float(qp["y"].iat[i]), int(qp["k"].iat[i])
                full = qcx - rho <= 0 and qcx + rho >= n - 1 and qcy - rho <= 0 and qcy + rho >= n - 1
                cnt, kth = cnts.get(qid, 0), kths.get(qid, math.inf)
                d_out = min(
                    (x - (qcx - rho) * s) if qcx - rho > 0 else math.inf,
                    (((qcx + rho + 1) * s) - x) if qcx + rho < n - 1 else math.inf,
                    (y - (qcy - rho) * s) if qcy - rho > 0 else math.inf,
                    (((qcy + rho + 1) * s) - y) if qcy + rho < n - 1 else math.inf,
                )
                if full or (cnt >= k and kth <= d_out * d_out):
                    done_ids.append(qid)
                    open_mask[i] = False
                else:
                    qp.loc[qp.index[i], "rho"] = rho * 2
            if done_ids:
                parts.append(rank_pdf[rank_pdf["query_id"].isin(done_ids)])

        if not parts:
            return spark.createDataFrame([], KNN_SCHEMA)
        return spark.createDataFrame(pd.concat(parts, ignore_index=True), KNN_SCHEMA)
    finally:
        d.unpersist(blocking=False)


def knn_join(
    a_rects: DataFrame,
    b_rects: DataFrame,
    grid: Grid,
    k: int,
    initial_radius: int = 1,
) -> DataFrame:
    """kNN JOIN: for each A doc, its k nearest B docs by squared
    centroid→rect distance → (query_id=a_doc_id, doc_id=b_doc_id,
    sq_dist, rank).

    Composes the reference's centroid rule (a query rect collapses to
    its center, src/Main.cpp:126-129) with the batched disk-doubling
    kernel — A plays the query file, B the dataset.  The A batch is
    collected to the driver like any query batch; suitable for the
    reference-style regimes (|A| up to ~10^5 driver-resident queries);
    beyond that, :func:`knn_join_frontier` keeps the queries distributed."""
    centroids = a_rects.select(
        F.col("doc_id").alias("query_id"),
        ((F.col("min_x") + F.col("max_x")) / F.lit(2.0)).alias("x"),
        ((F.col("min_y") + F.col("max_y")) / F.lit(2.0)).alias("y"),
        F.lit(k).alias("k"),
    )
    return knn(b_rects, centroids, grid, initial_radius)


def knn_join_frontier(
    a_rects: DataFrame,
    b_rects: DataFrame,
    grid: Grid,
    k: int,
    initial_radius: int = 1,
) -> DataFrame:
    """kNN join with the query FRONTIER kept distributed — the 100 TB
    path past driver residency.

    :func:`knn` holds the query batch in driver pandas.  Here ALL
    queries advance through the SAME O(log grid) rounds as one
    DataFrame:

        round(ρ): open frontier explodes to its disk cells (JVM
                  ``sequence``) → ONE join against the cover-exploded
                  data → window top-k (materialized once per round via
                  localCheckpoint) → per-query (count, k-th distance)
                  aggregate joined back to the frontier;
        stop(q):  the exact same rule as :func:`knn` — full-domain
                  coverage OR (k found AND k-th sq_dist <= d_out²) —
                  evaluated as COLUMNS, never on the driver.

    The only driver-side value per round is the open-query count; the
    arithmetic (float64 sq_dist, (sq_dist, doc_id) ties, d_out from the
    gathered-square boundary with domain edges at +inf) is identical to
    :func:`knn`, so results equal :func:`knn_join` row-for-row
    (pytest-asserted).  Finished queries' top-k rows are checkpointed
    per round (each small: <= k rows/query) and unioned at the end —
    no round's candidate join is ever replayed."""
    spark = a_rects.sparkSession
    n, s = grid.n, grid.cell_size
    d = with_cover_cells(b_rects, grid).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        frontier = (
            a_rects.select(
                F.col("doc_id").alias("query_id"),
                ((F.col("min_x") + F.col("max_x")) / F.lit(2.0)).cast("double").alias("x"),
                ((F.col("min_y") + F.col("max_y")) / F.lit(2.0)).cast("double").alias("y"),
                F.lit(k).alias("k"),
            )
            .withColumn("qcx", grid.cx_col(F.col("x")))
            .withColumn("qcy", grid.cx_col(F.col("y")))
            .withColumn("rho", F.lit(initial_radius))
            .localCheckpoint()
        )
        frontier_cols = ["query_id", "x", "y", "k", "qcx", "qcy", "rho"]
        parts: list[DataFrame] = []
        while frontier.count() > 0:
            cand = d.join(_disk_cells_df(frontier, grid), "cell").dropDuplicates(
                ["query_id", "doc_id"]
            )
            scored = cand.withColumn(
                "sq_dist",
                sq_dist_col(
                    F.col("x"), F.col("y"),
                    F.col("min_x").cast("double"), F.col("min_y").cast("double"),
                    F.col("max_x").cast("double"), F.col("max_y").cast("double"),
                ),
            )
            w = Window.partitionBy("query_id").orderBy("sq_dist", "doc_id")
            # materialize the round's top-k ONCE: the stop-rule stats and
            # the finished-query results both read this checkpoint
            ranked = (
                scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= F.col("k"))
                .select("query_id", "doc_id", "sq_dist", "rank")
                .localCheckpoint()
            )
            stats = ranked.groupBy("query_id").agg(
                F.count("*").alias("_cnt"), F.max("sq_dist").alias("_kth")
            )
            rho, qcx, qcy = F.col("rho"), F.col("qcx"), F.col("qcy")
            full = (
                (qcx - rho <= 0) & (qcx + rho >= n - 1)
                & (qcy - rho <= 0) & (qcy + rho >= n - 1)
            )
            inf = F.lit(float("inf"))
            d_out = F.least(
                F.when(qcx - rho > 0, F.col("x") - (qcx - rho).cast("double") * s).otherwise(inf),
                F.when(qcx + rho < n - 1, (qcx + rho + 1).cast("double") * s - F.col("x")).otherwise(inf),
                F.when(qcy - rho > 0, F.col("y") - (qcy - rho).cast("double") * s).otherwise(inf),
                F.when(qcy + rho < n - 1, (qcy + rho + 1).cast("double") * s - F.col("y")).otherwise(inf),
            )
            # coalesce: a query with NO stats row (empty disk) must land
            # in exactly one branch — NULL done would drop it from both
            done = F.coalesce(
                full | ((F.col("_cnt") >= F.col("k")) & (F.col("_kth") <= d_out * d_out)),
                F.lit(False),
            )
            fr = (
                frontier.join(stats, "query_id", "left")
                .withColumn("_done", done)
                .localCheckpoint()
            )
            parts.append(
                ranked.join(fr.where(F.col("_done")).select("query_id"), "query_id")
                .localCheckpoint()
            )
            frontier = (
                fr.where(~F.col("_done"))
                .withColumn("rho", F.col("rho") * 2)
                .select(*frontier_cols)
                .localCheckpoint()
            )
        if not parts:
            return spark.createDataFrame([], KNN_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    finally:
        d.unpersist(blocking=False)


def idw_interpolate(
    data_rects: DataFrame,
    queries: DataFrame,
    values: DataFrame,
    grid: Grid,
    k: int = 8,
) -> DataFrame:
    """Inverse-distance-weighted interpolation at query points — the
    spatial-analytics composition on top of exact kNN: estimate a field
    value at each query point from its k nearest docs' values.

        idw(q) = sum_i v_i / (1 + d2_i)  /  sum_i 1 / (1 + d2_i)

    over the k nearest (reference squared-distance P4, no sqrt; the +1
    regularizer keeps exact hits finite).  Both folds run in RANK order
    (array_sort on (rank, ...) then a left fold), so the double result
    is bit-identical to the oracle's ORDER BY rnk list_reduce — FP
    addition order is pinned, not left to partitioning.

    ``values`` is (doc_id, value).  Scale shape: one kNN (disk-doubling
    rounds) + one broadcastable value join + one groupBy(query_id) whose
    input is <= k rows per query."""
    qk = queries.select("query_id", "x", "y").withColumn("k", F.lit(k))
    nn = knn(data_rects, qk, grid)
    withv = nn.join(values, "doc_id").select(
        "query_id",
        F.struct(
            F.col("rank").alias("rank"),
            F.col("sq_dist").cast("double").alias("sq_dist"),
            F.col("value").cast("double").alias("value"),
        ).alias("s"),
    )
    folded = withv.groupBy("query_id").agg(
        F.array_sort(F.collect_list("s")).alias("arr"),
        F.count("*").alias("n_neighbors"),
    )
    num = F.aggregate(
        "arr", F.lit(0.0), lambda acc, s: acc + s["value"] / (F.lit(1.0) + s["sq_dist"])
    )
    den = F.aggregate(
        "arr", F.lit(0.0), lambda acc, s: acc + F.lit(1.0) / (F.lit(1.0) + s["sq_dist"])
    )
    return folded.select(
        "query_id", (num / den).alias("idw_value"), F.col("n_neighbors").cast("int").alias("n_neighbors")
    )
