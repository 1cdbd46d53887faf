"""Distributed spatial (intersection) join — reference J1,
dual-tree DFS at src/rtree/builders/RTreeBulkLoad.cpp:304-379.

Plan:  both sides cover-exploded to cells → equi-join on ``cell``
(sort-merge at scale, AQE skew-split as backstop) → exact closed-bound
predicate → reference-point dedup.  Hot cells ("dense urban tiles",
north_star) additionally get **explicit salting**: the build side hashes
doc_id into ``n_salt`` buckets, the probe side fans out over all buckets
— only for cells whose candidate count exceeds a threshold, discovered
by a cheap pre-aggregation.  Salting (and its census) only runs when
the cell join is a shuffle join: when either side fits Spark's
``spark.sql.autoBroadcastJoinThreshold``, the plain cell join is
broadcast and there is no shuffle partition to split.

Exactly-once pairs: a pair intersecting in several shared cells is kept
only in the cell of its reference point — no ``distinct`` shuffle
(SURVEY.md J1).  Output is directed A→B like the reference's multimap.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.functions.geometry import contains_col, intersects_col
from rtree_cpp_spark.operators.cover import ref_point_cell_col, with_cover_cells


def _a_side(a_rects: DataFrame, grid: Grid) -> DataFrame:
    # no fan_out here: every rect-join variant shuffles on its cell key,
    # which re-parallelizes the heavy side regardless of scan splits; a
    # pre-explode repartition measured as pure overhead (~0.4s at sf0.1).
    # fan_out belongs on broadcast/no-shuffle kernel pipelines (pip_join).
    return with_cover_cells(
        a_rects.select(
            F.col("doc_id").alias("a_doc_id"),
            F.col("min_x").alias("a_min_x"),
            F.col("min_y").alias("a_min_y"),
            F.col("max_x").alias("a_max_x"),
            F.col("max_y").alias("a_max_y"),
        ),
        grid,
        prefix="a_",
    )


def _b_side(b_rects: DataFrame, grid: Grid) -> DataFrame:
    return with_cover_cells(
        b_rects.select(
            F.col("doc_id").alias("b_doc_id"),
            F.col("min_x").alias("b_min_x"),
            F.col("min_y").alias("b_min_y"),
            F.col("max_x").alias("b_max_x"),
            F.col("max_y").alias("b_max_y"),
        ),
        grid,
        prefix="b_",
    )


def _refine(joined: DataFrame, grid: Grid, keep_cell: bool = False) -> DataFrame:
    # Containment fast-path (reference R2 analog, RTreeBulkLoad.cpp:
    # 158-164): if either rect contains the shared cell's closed box, the
    # other rect — which touches that box by cover construction — must
    # intersect it; the exact predicate short-circuits.  Correctness-
    # neutral (same caveat as range_query: geometry must intersect the
    # grid domain, the Grid clamping contract).
    box = grid.cell_box_cols(F.col("cell"))
    a_covers_cell = contains_col(
        F.col("a_min_x"), F.col("a_min_y"), F.col("a_max_x"), F.col("a_max_y"), *box
    )
    hit = intersects_col(
        F.col("a_min_x"), F.col("a_min_y"), F.col("a_max_x"), F.col("a_max_y"),
        F.col("b_min_x"), F.col("b_min_y"), F.col("b_max_x"), F.col("b_max_y"),
    )
    ref_cell = ref_point_cell_col(
        grid, F.col("a_min_x"), F.col("a_min_y"), F.col("b_min_x"), F.col("b_min_y")
    )
    out_cols = ["a_doc_id", "b_doc_id"] + (["cell"] if keep_cell else [])
    return joined.where((F.col("cell") == ref_cell) & (a_covers_cell | hit)).select(*out_cols)


def spatial_join(
    a_rects: DataFrame, b_rects: DataFrame, grid: Grid, keep_cell: bool = False
) -> DataFrame:
    """Unsalted cell equi-join (AQE skew-join is the only skew defense).

    ``keep_cell=True`` keeps the reference-point cell on each pair —
    the per-cell lineage key jobs partition their output by."""
    return _refine(
        _a_side(a_rects, grid).join(_b_side(b_rects, grid), "cell"), grid, keep_cell
    )


def spatial_join_bucketed(
    spark, table_a: str, table_b: str, grid: Grid, keep_cell: bool = False
) -> DataFrame:
    """Spatial join over two cover-bucketed tables written by
    ``plans.layout.write_bucketed_cover`` (prefixes "a_"/"b_"): the cell
    sort-merge join runs with NO exchange on either side — the cover
    explode and the shuffle were paid once at write time.  Output rows
    are identical to :func:`spatial_join` on the same inputs (same
    refine predicate + reference-point dedup); asserted by
    tests/test_streaming_and_layout.py on plan ("no Exchange") and
    values.  This is the repeated-join fast path a persistent index
    earns (the reference keeps its R-tree in memory between queries;
    Spark keeps the bucketed layout on disk)."""
    return _refine(spark.table(table_a).join(spark.table(table_b), "cell"), grid, keep_cell)


def distance_join(
    a_rects: DataFrame,
    b_rects: DataFrame,
    grid: Grid,
    max_dist: float,
) -> DataFrame:
    """DISTANCE join: (a_doc_id, b_doc_id, sq_dist) for pairs whose
    centroids lie within ``max_dist`` (Euclidean; emitted distance is
    squared, like every reference distance — Rectangle.h:92-112, no
    sqrt).  The range-join analog the reference lacks, built from the
    same cell machinery: A centroids explode to the Chebyshev disk of
    radius ceil(max_dist/cell_size) around their cell, B centroids sit
    in their single primary cell, candidates meet by cell equi-join and
    refine exactly.  Each true pair meets in EXACTLY one cell (B's
    primary), so there is no dedup pass at all (the pip_join property).

    Scale: disk explode multiplies A by (2r+1)^2 where r = ceil(d/s) —
    choose the grid so max_dist ≈ one cell (r=1 → 9x) and the join
    shuffles only (doc_id, cx, cy); AQE skew-join backstops hot disks."""
    import math

    r = max(1, math.ceil(max_dist / grid.cell_size))
    n = grid.n
    a_cx, a_cy = (
        (F.col("min_x") + F.col("max_x")) / 2.0,
        (F.col("min_y") + F.col("max_y")) / 2.0,
    )
    a = a_rects.select(
        F.col("doc_id").alias("a_doc_id"),
        a_cx.alias("ax"), a_cy.alias("ay"),
        grid.cx_col(a_cx).alias("_qcx"), grid.cx_col(a_cy).alias("_qcy"),
    )
    gx0 = F.greatest(F.lit(0), F.col("_qcx") - F.lit(r))
    gx1 = F.least(F.lit(n - 1), F.col("_qcx") + F.lit(r))
    gy0 = F.greatest(F.lit(0), F.col("_qcy") - F.lit(r))
    gy1 = F.least(F.lit(n - 1), F.col("_qcy") + F.lit(r))
    a = (
        a.withColumn("_gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("_gy", F.explode(F.sequence(gy0, gy1)))
        .withColumn("cell", F.col("_gx") * F.lit(n) + F.col("_gy"))
        .select("a_doc_id", "ax", "ay", "cell")
    )
    b_cx, b_cy = (
        (F.col("min_x") + F.col("max_x")) / 2.0,
        (F.col("min_y") + F.col("max_y")) / 2.0,
    )
    b = b_rects.select(
        F.col("doc_id").alias("b_doc_id"),
        b_cx.alias("bx"), b_cy.alias("by"),
        grid.cell_of_point_col(b_cx, b_cy).alias("cell"),
    )
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    sq = dx * dx + dy * dy
    return (
        a.join(b, "cell")
        .withColumn("sq_dist", sq)
        .where(F.col("sq_dist") <= F.lit(float(max_dist) * float(max_dist)))
        .select("a_doc_id", "b_doc_id", "sq_dist")
    )


def spatial_join_adaptive(
    a_rects: DataFrame,
    b_rects: DataFrame,
    grid: Grid,
    hot_threshold: int = 10_000,
    levels_finer: int = 2,
    sample_fraction: float = 1.0,
    keep_cell: bool = False,
) -> DataFrame:
    """Cell join with MIXED-RESOLUTION adaptive cells: coarse cells whose
    A-side candidate count exceeds ``hot_threshold`` are subdivided
    ``levels_finer`` levels finer, and candidates inside them meet at the
    fine resolution instead.

    This is the structural skew defense the reference's STR packing gets
    by construction — leaf extent adapts to local density (the sqrt-slab
    + cap-64 rule, RTreeBulkLoad.cpp:29-60): where salting merely
    RE-SHARDS a hot cell's nA x nB candidate cross-product over more
    tasks, subdivision SHRINKS it — locally-uniform data inside a hot
    cell drops to ~(nA x nB) / 4^levels_finer candidate pairs, because
    pairs that never share a fine cell are never generated at all
    (measured: scripts/adaptive_scale_run.py, BENCH/adaptive_scale.json).

    Mechanics (all one shuffle, no distinct):
      1. coarse cover-explode both sides (the plain-join candidate key);
      2. census the A side per coarse cell (optionally on a seeded
         sample, threshold scaled) -> broadcast hot-cell set;
      3. rows in a hot coarse cell REPLACE the coarse key with the fine
         cells of their cover CLIPPED to that coarse cell's children
         (cell-prefix arithmetic: children of (cx, cy) at +k levels are
         [cx<<k, (cx<<k)+2^k-1] x same for y); non-hot rows keep the
         coarse key.  Fine keys live at ``OFFSET + fine_cell`` with
         OFFSET = n^2 so the two key spaces never collide;
      4. equi-join on the mixed key; exactly-once via the reference-point
         rule evaluated AT THE ROW'S OWN RESOLUTION: a fine-keyed pair
         survives iff its key is the fine cell of the reference point, a
         coarse-keyed pair iff its key is the coarse cell of it.  A true
         pair's reference cell is hot or not — exactly one branch can
         ever match, so no pair is emitted twice across resolutions.

    Output rows are identical to :func:`spatial_join` (pytest-asserted
    on a skewed fixture); ``keep_cell`` returns the COARSE reference
    cell, the same lineage key the other variants expose.
    """
    joined = _adaptive_candidates(
        a_rects, b_rects, grid, hot_threshold, levels_finer, sample_fraction
    )
    rx = F.greatest(F.col("a_min_x"), F.col("b_min_x"))
    ry = F.greatest(F.col("a_min_y"), F.col("b_min_y"))
    ref_coarse = grid.cell_of_point_col(rx, ry)
    keep = adaptive_keep_col(grid, levels_finer, rx, ry)
    hit = intersects_col(
        F.col("a_min_x"), F.col("a_min_y"), F.col("a_max_x"), F.col("a_max_y"),
        F.col("b_min_x"), F.col("b_min_y"), F.col("b_max_x"), F.col("b_max_y"),
    )
    out_cols = ["a_doc_id", "b_doc_id"]
    if keep_cell:
        return joined.where(keep & hit).select(*out_cols, ref_coarse.alias("cell"))
    return joined.where(keep & hit).select(*out_cols)


def hot_cells(census_src: DataFrame, threshold: float, tag: Column) -> DataFrame | None:
    """The hot-cell census: cells of ``census_src`` holding more than
    ``threshold`` rows, as a local frame ``(cell, tag)``, or None when
    none is hot.  ONE collect feeds both sides' broadcasts (Spark does
    not reuse the exchange across them) and leaves nothing cached;
    pandas makes it an Arrow local relation, where a list would be an
    RDD read through a Python worker at every broadcast."""
    census = (
        census_src.groupBy("cell")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > threshold)
        .select("cell")
    )
    rows = census.collect()
    if not rows:
        return None
    pdf = pd.DataFrame(rows, columns=census.columns)
    return census_src.sparkSession.createDataFrame(pdf, census.schema).select("cell", tag)


def salted_join(a: DataFrame, b: DataFrame, hot: DataFrame) -> DataFrame:
    """Cell join re-sharded by the broadcast ``hot`` set (columns
    ``cell, _n_salt``) for :func:`spatial_join_salted`: A
    rows of a hot cell hash into one of its ``_n_salt`` buckets, B rows
    fan out over all of them; every other row keeps salt 0."""
    a = a.join(F.broadcast(hot), "cell", "left").withColumn(
        "salt",
        F.when(F.col("_n_salt").isNull(), F.lit(0)).otherwise(
            F.pmod(F.xxhash64("a_doc_id"), F.col("_n_salt")).cast("int")
        ),
    ).drop("_n_salt")
    b = (
        b.join(F.broadcast(hot), "cell", "left")
        .withColumn(
            "salt",
            F.explode(
                F.when(F.col("_n_salt").isNull(), F.array(F.lit(0))).otherwise(
                    F.sequence(F.lit(0), F.col("_n_salt") - 1)
                )
            ),
        )
        .drop("_n_salt")
    )
    return a.join(b, ["cell", "salt"])


def adaptive_rekey(
    df: DataFrame, p: str, grid: Grid, hot: DataFrame, levels_finer: int
) -> DataFrame:
    """Mixed-resolution rekey shared by the rect and polygon adaptive
    joins: rows whose coarse ``cell`` is in the broadcast ``hot`` set
    (columns ``cell, _hot=true``) REPLACE it with the fine cells of
    their bbox cover CLIPPED to that coarse cell's children (cell-prefix
    arithmetic); every other row keeps the coarse key.  Fine keys live
    at ``n^2 + fine_cell`` so the two key spaces never collide.  ``p``
    is the bbox column prefix (``a_``/``b_``)."""
    if levels_finer < 1:
        raise ValueError(f"levels_finer must be >= 1, got {levels_finer}")
    fine = Grid(grid.level + levels_finer, grid.extent)
    m = 1 << levels_finer  # fine cells per coarse cell per axis
    offset = grid.n * grid.n  # fine keys start above every coarse id
    ccy = F.pmod(F.col("cell"), F.lit(grid.n))
    ccx = ((F.col("cell") - ccy) / F.lit(grid.n)).cast("long")
    fx0, fx1 = fine.cx_col(F.col(f"{p}min_x")), fine.cx_col(F.col(f"{p}max_x"))
    fy0, fy1 = fine.cx_col(F.col(f"{p}min_y")), fine.cx_col(F.col(f"{p}max_y"))
    # fine cover clipped to this coarse cell's children — non-empty
    # by cover construction (the rect covers the coarse cell, and
    # clamping is applied identically at both levels)
    lo_x = F.greatest(fx0, ccx * m)
    hi_x = F.least(fx1, ccx * m + F.lit(m - 1))
    lo_y = F.greatest(fy0, ccy * m)
    hi_y = F.least(fy1, ccy * m + F.lit(m - 1))
    hot_flag = F.coalesce(F.col("_hot"), F.lit(False))
    one = F.array(F.lit(-1).cast("long"))
    return (
        df.join(F.broadcast(hot), "cell", "left")
        .withColumn("_fx", F.explode(F.when(hot_flag, F.sequence(lo_x, hi_x)).otherwise(one)))
        .withColumn("_fy", F.explode(F.when(hot_flag, F.sequence(lo_y, hi_y)).otherwise(one)))
        .withColumn(
            "key",
            F.when(
                F.coalesce(F.col("_hot"), F.lit(False)),
                F.lit(offset) + F.col("_fx") * F.lit(fine.n) + F.col("_fy"),
            ).otherwise(F.col("cell")),
        )
        .drop("cell", "_hot", "_fx", "_fy")
    )


def adaptive_keep_col(grid: Grid, levels_finer: int, rx, ry):
    """Exactly-once rule for mixed-resolution candidates: a pair
    survives iff its key is the cell of its reference point (rx, ry)
    evaluated AT THE ROW'S OWN RESOLUTION.  A true pair's reference
    cell is hot or not — exactly one branch can ever match, so no pair
    is emitted twice across resolutions."""
    fine = Grid(grid.level + levels_finer, grid.extent)
    offset = grid.n * grid.n
    return F.when(
        F.col("key") >= offset,
        F.col("key") == F.lit(offset) + fine.cell_of_point_col(rx, ry),
    ).otherwise(F.col("key") == grid.cell_of_point_col(rx, ry))


def _adaptive_candidates(
    a_rects: DataFrame,
    b_rects: DataFrame,
    grid: Grid,
    hot_threshold: int,
    levels_finer: int,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """The adaptive join's candidate stage (mixed-key equi-join, before
    the exactly-once + exact-predicate refine) — exposed so tests and
    scale runs can measure the candidate-pair REDUCTION subdivision buys
    over salting (which re-shards but never shrinks this count)."""
    a = _a_side(a_rects, grid)
    census_src = (
        a
        if sample_fraction >= 1.0
        else _a_side(a_rects.sample(fraction=sample_fraction, seed=42), grid)
    )
    hot = hot_cells(census_src, hot_threshold * sample_fraction, F.lit(True).alias("_hot"))
    # Empty-census fast path: nothing subdivides, so the mixed-key
    # rekey is the identity on the coarse key — join directly and skip
    # both sides' broadcast join + explode machinery.  Downstream,
    # adaptive_keep_col's coarse branch IS the plain reference-point
    # rule (no key ever reaches the fine offset), so output rows are
    # unchanged.
    if hot is None:
        return a.withColumnRenamed("cell", "key").join(
            _b_side(b_rects, grid).withColumnRenamed("cell", "key"), "key"
        )
    return adaptive_rekey(a, "a_", grid, hot, levels_finer).join(
        adaptive_rekey(_b_side(b_rects, grid), "b_", grid, hot, levels_finer), "key"
    )


def _fits_broadcast(df: DataFrame) -> bool:
    """Whether ``df`` is small enough for Spark to broadcast it in a
    join: Catalyst's static size estimate against the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (the ``JoinSelection``
    rule; -1 disables it).  Plans the frame but runs no job."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 <= size <= conf.autoBroadcastJoinThreshold()


def spatial_join_salted(
    a_rects: DataFrame,
    b_rects: DataFrame,
    grid: Grid,
    hot_threshold: int = 10_000,
    n_salt: int = 16,
    keep_cell: bool = False,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """Cell join with explicit hot-cell salting (north_rule requirement).

    Cells whose A-side candidate count exceeds ``hot_threshold`` are
    split ``n_salt`` ways: A rows hash into a salt bucket, B rows fan out
    over all buckets for that cell.  Salting only *re-partitions* the
    same candidate pairs, so result rows are identical to the unsalted
    join (asserted by tests/test_spatial_ops.py::test_salted_join_equals_unsalted
    on a skewed fixture) — which is
    also why ``sample_fraction < 1`` is safe: at 10^12 docs the hot-cell
    census runs on a seeded sample (threshold scaled by the fraction)
    instead of a second full cover-explode of A, and any sampling error
    only shifts which cells get salted, never which pairs come out.

    Census and salt only run when neither cover-exploded side fits
    Spark's ``spark.sql.autoBroadcastJoinThreshold`` (Catalyst's static
    size estimate, no job): otherwise the plain cell join is returned,
    which Spark broadcasts, so ``hot_threshold``, ``n_salt`` and
    ``sample_fraction`` have no effect (asserted by
    tests/test_spatial_ops.py::test_salted_join_broadcast_skips_census).
    A threshold of -1 always takes the census path.
    """
    a = _a_side(a_rects, grid)
    b = _b_side(b_rects, grid)
    # A broadcast join has no shuffle partition for salting to split: the
    # census would be a wasted Spark action, and the salt's left joins
    # inflate the size estimate into a sort-merge join.
    if _fits_broadcast(a) or _fits_broadcast(b):
        return _refine(a.join(b, "cell"), grid, keep_cell)
    census_src = (
        a
        if sample_fraction >= 1.0
        else _a_side(a_rects.sample(fraction=sample_fraction, seed=42), grid)
    )
    hot = hot_cells(census_src, hot_threshold * sample_fraction, F.lit(n_salt).alias("_n_salt"))
    # Empty-census fast path: with no hot cells the salt column is the
    # constant 0 on both sides and the (cell, salt) join degenerates to
    # the plain cell join — skip both broadcast joins and the B-side
    # fan-out entirely, so on uniform data salting costs exactly one
    # census pass over the (sampled) A cover and nothing else.
    if hot is None:
        return _refine(a.join(b, "cell"), grid, keep_cell)
    return _refine(salted_join(a, b, hot), grid, keep_cell)
