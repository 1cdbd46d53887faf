#!/usr/bin/env python
"""kNN-join execution-regime scale evidence.

Runs the SAME kNN join (|A| = 100k query rects, |B| = 1M data rects,
k = 5) through both execution regimes and reports wall + result
checksums:

- ``batched``   — knn_join: the whole A batch driver-resident (the
                  reference-style query-file contract);
- ``frontier``  — knn_join_frontier: the frontier stays a DataFrame,
                  every query advances through shared rounds, no
                  driver residency.

Inputs are deterministic functions of the row index on the 0.25
lattice over [0,1024)^2 (parallelism-independent; same conventions as
the gate's rect sources).  All regimes must produce IDENTICAL rows —
the script fails loudly on any count/checksum divergence, so the perf
numbers are only ever published for verified-equal outputs.

Prints one JSON line; curated results live in BENCH/BASELINE.md.
Env: KNN_SCALE_A (default 100000), KNN_SCALE_B (default 1000000),
     SPARK_GRAFT_CPUS (default 16),
     KNN_SCALE_REGIMES (comma list to run a subset, e.g. "batched,frontier"
     — partial runs skip the identity gate and the JSON artifact merges
     into any existing BENCH/knn_scale.json walls).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from rtree_cpp_spark.functions.cells import Grid  # noqa: E402
from rtree_cpp_spark.operators.knn import (  # noqa: E402
    knn_join,
    knn_join_frontier,
)

GRID = Grid(6)  # 64x64 cells of 16.0 over [0,1024)^2 — the gate grid


def synth_rects(spark: SparkSession, n: int, prefix: str, spread: int):
    """Deterministic rects: min corner on the 0.25 lattice from hashed
    row index, width/height 0.25..4.0.  ``spread`` decorrelates the A
    and B point patterns."""
    h = F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit(spread)), 4080 * 4)
    hy = F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit(spread + 1)), 4080 * 4)
    w = (F.pmod(F.col("id"), 16) + 1).cast("double") * 0.25
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id")).alias("doc_id"),
        (h.cast("double") * 0.0625).alias("min_x"),
        (hy.cast("double") * 0.0625).alias("min_y"),
        (h.cast("double") * 0.0625 + w).alias("max_x"),
        (hy.cast("double") * 0.0625 + w).alias("max_y"),
    )


def checksum(df) -> tuple[int, int]:
    """(row_count, order-independent value checksum) over ALL output
    columns — sq_dist included: every regime runs the same float64
    arithmetic, so even the doubles must agree bit-for-bit."""
    joined = F.concat_ws(
        "|",
        F.col("query_id"),
        F.col("doc_id"),
        F.col("sq_dist").cast("string"),  # same engine both sides: the
        # string form is a faithful witness of the double bits here
        F.col("rank").cast("string"),
    )
    h = F.conv(F.substring(F.md5(F.encode(joined, "utf-8")), 1, 15), 16, 10).cast("long")
    row = df.select(h.alias("h")).agg(
        F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x")
    ).collect()[0]
    return int(row["n"]), int(row["x"]) if row["x"] is not None else 0


def main() -> None:
    n_a = int(os.environ.get("KNN_SCALE_A", "100000"))
    n_b = int(os.environ.get("KNN_SCALE_B", "1000000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("knn-scale-run")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # materialize inputs once so every regime times the JOIN, not the gen
    a = synth_rects(spark, n_a, "qa", 11).localCheckpoint()
    b = synth_rects(spark, n_b, "db", 97).localCheckpoint()

    regimes: list[tuple[str, object]] = [
        ("batched", lambda: knn_join(a, b, GRID, k=5)),
        ("frontier", lambda: knn_join_frontier(a, b, GRID, k=5)),
    ]
    subset = os.environ.get("KNN_SCALE_REGIMES")
    if subset:
        want = {s.strip() for s in subset.split(",")}
        regimes = [r for r in regimes if r[0] in want]
    walls: dict[str, float] = {}
    sums: dict[str, tuple[int, int]] = {}
    for name, make in regimes:
        t0 = time.perf_counter()
        sums[name] = checksum(make())
        walls[name] = round(time.perf_counter() - t0, 2)
        print(f"{name:<10} wall={walls[name]:>7.2f}s rows={sums[name][0]} "
              f"checksum={sums[name][1]}", flush=True)

    base = next(iter(sums.values()))
    mismatches = [n for n, s in sums.items() if s != base]
    outp = Path(__file__).resolve().parent.parent / "BENCH" / "knn_scale.json"
    out = {
        "n_a": n_a,
        "n_b": n_b,
        "k": 5,
        "cpus": cpus,
        "rows": base[0],
        "walls_sec": walls,
        "checksums": {n: s[1] for n, s in sums.items()},
        "all_regimes_identical": not mismatches,
        "mismatches": mismatches,
    }
    if subset and outp.exists():
        prev = json.loads(outp.read_text())
        if (prev.get("n_a"), prev.get("n_b"), prev.get("cpus")) == (n_a, n_b, cpus):
            out["walls_sec"] = {**prev.get("walls_sec", {}), **walls}
            out["checksums"] = {**prev.get("checksums", {}), **out["checksums"]}
            allsums = out["checksums"]
            first = next(iter(allsums.values()))
            out["mismatches"] = [n for n, c in allsums.items() if c != first]
            out["all_regimes_identical"] = not out["mismatches"]
    print(json.dumps(out), flush=True)
    outp.write_text(json.dumps(out) + "\n")
    spark.stop()
    if mismatches:
        sys.exit(1)


if __name__ == "__main__":
    main()
