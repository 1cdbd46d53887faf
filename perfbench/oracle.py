"""Independent expected results and output checks.

Expected results come from the generator's rect arrays
(``synth.rects_for_indices``), never from the engine's extract or cover:

- joins and range queries: a closed-bound predicate join in DuckDB,
  reduced to a row count and an order-insensitive hash of every output
  row, output partition key included;
- tiles: a vectorized numpy cover of the same rects;
- kNN: ``oracle.brute.knn_brute`` in float64, compared on
  (query_id, doc_id, rank, part).

The output of an iteration is read back from its parquet files and
reduced the same way.
"""

from __future__ import annotations

import glob
import os
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import duckdb
import numpy as np
import pandas as pd

from oracle.brute import knn_brute
from perfbench.pipelines import COARSE_LEVEL, EXTENT, GRID_LEVEL, Workload, input_seeds
from rtree_cpp_spark.sources.synth import (
    rects_for_indices,
    synth_knn_queries_pdf,
    synth_range_queries_pdf,
)

N_CELLS = 1 << GRID_LEVEL
CELL = EXTENT / N_CELLS
SHIFT = GRID_LEVEL - COARSE_LEVEL

# output columns hashed per pipeline, in the order they are hashed
HASH_COLS = {
    "join": "a_doc_id, b_doc_id, part",
    "tiles": "cell, doc_id, part",
    "range": "query_id, doc_id, part",
}


def connect(tmp_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    os.makedirs(tmp_dir, exist_ok=True)
    return duckdb.connect(config={"threads": threads, "temp_directory": tmp_dir})


def _cx_sql(v: str) -> str:
    return f"LEAST({N_CELLS - 1}, GREATEST(0, CAST(FLOOR(({v}) / {CELL!r}) AS BIGINT)))"


def _part_sql(x: str, y: str) -> str:
    """Coarse lineage cell of the point (x, y): the output partition key."""
    return f"(({_cx_sql(x)} >> {SHIFT}) << {COARSE_LEVEL}) + ({_cx_sql(y)} >> {SHIFT})"


def _cx(v: np.ndarray) -> np.ndarray:
    return np.clip(np.floor(v / CELL).astype(np.int64), 0, N_CELLS - 1)


def _part(cx: np.ndarray, cy: np.ndarray) -> np.ndarray:
    return ((cx >> SHIFT) << COARSE_LEVEL) + (cy >> SHIFT)


def rect_table(prefix: str, n: int, seed: int, w: Workload) -> pd.DataFrame:
    """The rects ``synth_docs_df_vec(prefix, n, seed, ...)`` writes."""
    r = rects_for_indices(np.arange(n), seed, w.cluster_frac, w.cluster_diam, w.max_dim, EXTENT)
    return pd.DataFrame({"idx": np.arange(n), "doc_id": [f"{prefix}{i:08d}" for i in range(n)], **r})


def cover(t: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Closed cell cover of every rect: (row, cx, cy), one entry per cell."""
    cx0, cx1 = _cx(t["min_x"].to_numpy()), _cx(t["max_x"].to_numpy())
    cy0, cy1 = _cx(t["min_y"].to_numpy()), _cx(t["max_y"].to_numpy())
    h = cy1 - cy0 + 1
    cnt = (cx1 - cx0 + 1) * h
    row = np.repeat(np.arange(len(t)), cnt)
    off = np.arange(int(cnt.sum())) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return row, cx0[row] + off // h[row], cy0[row] + off % h[row]


def _cell_counts(t: pd.DataFrame) -> np.ndarray:
    _, cx, cy = cover(t)
    return np.bincount(cx * N_CELLS + cy, minlength=N_CELLS * N_CELLS)


def _count_hash(con, sql: str) -> dict:
    n, h = con.execute(sql).fetchone()
    return {"rows": int(n), "hash": str(int(h or 0))}


def _intersect_sql(l: str, r: str) -> str:
    return (
        f"{l}.max_x >= {r}.min_x AND {l}.min_x <= {r}.max_x AND "
        f"{l}.max_y >= {r}.min_y AND {l}.min_y <= {r}.max_y"
    )


def _knn_brute_parallel(a: pd.DataFrame, q: pd.DataFrame, workers: int) -> pd.DataFrame:
    """``knn_brute`` in float64 over query chunks in worker processes.
    Integer doc ids sort like the zero-padded doc_id strings and make the
    tie-break sort inside knn_brute much cheaper."""
    rects = a[["idx", "min_x", "min_y", "max_x", "max_y"]].rename(columns={"idx": "doc_id"})
    chunks = np.array_split(np.arange(len(q)), workers)
    with ProcessPoolExecutor(workers, mp_context=get_context("spawn")) as pool:
        futures = [pool.submit(knn_brute, rects, q.iloc[c], np.float64) for c in chunks if len(c)]
        return pd.concat([f.result() for f in futures], ignore_index=True)


def expected(w: Workload, seed: int, con, workers: int) -> tuple[dict, pd.DataFrame | None, dict]:
    """(expected count+hash per pipeline, expected kNN rows, workload properties)."""
    s = input_seeds(seed)
    a = rect_table("A", w.n_a, s["a"], w)
    exp, props, knn_rows = {}, {}, None
    n_a_cells = _cell_counts(a)
    props["hot_cells"] = int((n_a_cells > w.hot_threshold).sum())
    props["cover_fanout_a"] = float(n_a_cells.sum() / w.n_a)
    con.register("a", a)
    if "join" in w.pipelines:
        b = rect_table("B", w.n_b, s["b"], w)
        con.register("b", b)
        exp["join"] = _count_hash(
            con,
            f"SELECT count(*), sum(hash(a.doc_id, b.doc_id, "
            f"{_part_sql('greatest(a.min_x, b.min_x)', 'greatest(a.min_y, b.min_y)')})) "
            f"FROM a JOIN b ON {_intersect_sql('a', 'b')}",
        )
        props["join_candidates_per_row"] = float(
            (n_a_cells * _cell_counts(b)).sum() / max(1, exp["join"]["rows"])
        )
    if "tiles" in w.pipelines:
        row, cx, cy = cover(a)
        tiles = pd.DataFrame(
            {"cell": cx * N_CELLS + cy, "doc_id": a["doc_id"].to_numpy()[row], "part": _part(cx, cy)}
        )
        con.register("tiles", tiles)
        exp["tiles"] = _count_hash(con, "SELECT count(*), sum(hash(cell, doc_id, part)) FROM tiles")
    if "range" in w.pipelines:
        q = synth_range_queries_pdf(w.n_range, s["range"])
        con.register("q", q)
        exp["range"] = _count_hash(
            con,
            f"SELECT count(*), sum(hash(q.query_id, a.doc_id, "
            f"{_part_sql('(q.min_x + q.max_x) / 2', '(q.min_y + q.max_y) / 2')})) "
            f"FROM q JOIN a ON {_intersect_sql('q', 'a')}",
        )
        props["range_candidates_per_row"] = float(
            (n_a_cells * _cell_counts(q)).sum() / max(1, exp["range"]["rows"])
        )
    if "knn" in w.pipelines:
        q = synth_knn_queries_pdf(w.n_knn, s["knn"])
        got = _knn_brute_parallel(a, q, workers)
        qpart = dict(zip(q["query_id"], _part(_cx(q["x"].to_numpy()), _cx(q["y"].to_numpy()))))
        knn_rows = pd.DataFrame(
            {
                "query_id": got["query_id"].to_numpy(),
                "doc_id": a["doc_id"].to_numpy()[got["doc_id"].to_numpy(dtype=np.int64)],
                "rank": got["rank"].to_numpy(dtype=np.int64),
                "part": got["query_id"].map(qpart).to_numpy(dtype=np.int64),
            }
        )
        exp["knn"] = {"rows": len(knn_rows)}
    return exp, knn_rows, props


def _files(out_dir: str) -> str:
    return os.path.join(out_dir, "**", "*.parquet")


def check(pipeline: str, out_dir: str, exp: dict, con, knn_rows: pd.DataFrame | None) -> str | None:
    """None when the written output matches the expected result, else why not."""
    if not glob.glob(_files(out_dir), recursive=True):
        return "no parquet output" if exp["rows"] else None
    src = f"read_parquet('{_files(out_dir)}', hive_partitioning = true)"
    if pipeline == "knn":
        got = con.execute(
            f"SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, CAST(part AS BIGINT) AS part "
            f"FROM {src} ORDER BY query_id, rank"
        ).df()
        want = knn_rows.sort_values(["query_id", "rank"]).reset_index(drop=True)
        if len(got) != len(want):
            return f"{len(got)} rows, expected {len(want)}"
        for c in ("query_id", "doc_id", "rank", "part"):
            bad = np.flatnonzero(got[c].to_numpy() != want[c].to_numpy())
            if len(bad):
                return f"{len(bad)} rows differ in {c}, first at {want.iloc[bad[0]].to_dict()}"
        return None
    cols = ", ".join(
        f"CAST({c} AS BIGINT)" if c in ("part", "cell") else c for c in HASH_COLS[pipeline].split(", ")
    )
    got = _count_hash(con, f"SELECT count(*), sum(hash({cols})) FROM {src}")
    if got != exp:
        return f"rows/hash {got['rows']}/{got['hash']}, expected {exp['rows']}/{exp['hash']}"
    return None


def parquet_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(_files(out_dir), recursive=True))
