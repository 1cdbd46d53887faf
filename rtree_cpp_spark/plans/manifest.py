"""Per-partition lineage + metrics manifest with resume (north_rule;
SURVEY.md section 7.6).

One manifest row per (run_id, stage, partition_key): status, rows,
wall_ms, attempt, finished_at.  A resumable stage:

  1. lists its partition keys,
  2. anti-joins keys already 'done' in the manifest,
  3. writes each pending key's output via dynamic partition overwrite
     (idempotent under retry — a re-run of a half-written key simply
     overwrites it),
  4. appends 'done' manifest rows with row counts.

Storage is parquet (append-only) per the storage contract in
docs/STORAGE.md (which also gives the 1:1 Iceberg mapping).
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

@contextmanager
def dynamic_overwrite(spark: SparkSession):
    """Scope partitionOverwriteMode=dynamic to a write: the session
    default is restored on exit, so a later plain partitioned overwrite
    keeps its full-replace (static) semantics."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


MANIFEST_SCHEMA = (
    "run_id string, stage string, partition_key long, status string, "
    "output_rows long, wall_ms long, attempt int, finished_at double"
)


def _exists(spark: SparkSession, path: str) -> bool:
    """``FileSystem.exists`` on the path's own filesystem: no Spark job."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Empty only when the path does not exist (a fresh run); any other
    read error raises, or the next run would silently redo every key."""
    if not _exists(spark, manifest_path):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.parquet(manifest_path)


def done_keys(spark: SparkSession, manifest_path: str, run_id: str, stage: str) -> list[int]:
    if not _exists(spark, manifest_path):
        return []
    rows = (
        spark.read.parquet(manifest_path)
        .where((F.col("run_id") == run_id) & (F.col("stage") == stage) & (F.col("status") == "done"))
        .select("partition_key")
        .distinct()
        .collect()
    )
    return [r["partition_key"] for r in rows]


def append_manifest(spark: SparkSession, manifest_path: str, rows: list[tuple]) -> None:
    """Append one batch as ONE parquet file, built from pandas (an Arrow
    local relation; a list would round-trip through a Python worker)."""
    pdf = pd.DataFrame(rows, columns=[c.split()[0] for c in MANIFEST_SCHEMA.split(", ")])
    spark.createDataFrame(pdf, MANIFEST_SCHEMA).coalesce(1).write.mode("append").parquet(manifest_path)


def resumable_write(
    df: DataFrame,
    out_path: str,
    key_col: str,
    manifest_path: str,
    run_id: str,
    stage: str,
    keys_per_batch: int = 64,
    fail_after_batches: int | None = None,
) -> dict:
    """Write ``df`` partitioned by ``key_col``, resumably.

    Keys are processed in deterministic sorted batches; each batch is an
    idempotent dynamic-partition overwrite followed by a manifest append.
    On a re-run with the same (run_id, stage), completed keys are skipped
    (anti-join against the manifest).  ``fail_after_batches`` injects a
    crash for the resume test.

    Returns {written_keys, skipped_keys, output_rows}.

    A ``rebalance`` hint on ``key_col`` below the persist clusters the
    output: each key is written by one task, so a batch writes one file
    per key plus one manifest file (AQE may still split an oversized key).
    A missing manifest path means a fresh run, answered without a Spark
    job; any other manifest read error aborts the write.  A manifest
    row's ``wall_ms`` is the wall time of the batch that wrote its key:
    every key of one batch carries the same value.

    The upstream plan executes exactly ONCE: ``df`` is persisted and
    materialized by a single per-key count aggregation (which also yields
    the key list and all manifest row counts), so every batch write is a
    scan of the cache, not a re-execution of the upstream job (at scale
    the upstream is the salted spatial join — re-running it per batch
    would multiply the dominant stage by the batch count).  The key list
    is driver-resident by design: keys are coarse lineage cells, bounded
    by the coarse grid (≤ 4^coarse_level ≤ 4096), never data rows.
    """
    spark = df.sparkSession
    df = df.hint("rebalance", key_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        counts = {r[0]: r[1] for r in df.groupBy(key_col).count().collect()}
        all_keys = sorted(counts)
        done = set(done_keys(spark, manifest_path, run_id, stage))
        pending = [k for k in all_keys if k not in done]
        written, out_rows = [], 0
        batches = [pending[i : i + keys_per_batch] for i in range(0, len(pending), keys_per_batch)]
        for bi, batch in enumerate(batches):
            if fail_after_batches is not None and bi >= fail_after_batches:
                raise RuntimeError(f"injected failure before batch {bi} (resume test)")
            t0 = time.perf_counter()
            with dynamic_overwrite(spark):
                df.where(F.col(key_col).isin(batch)).write.mode("overwrite").partitionBy(
                    key_col
                ).parquet(out_path)
            wall = int((time.perf_counter() - t0) * 1000)
            now = time.time()
            append_manifest(
                spark,
                manifest_path,
                [
                    (run_id, stage, int(k), "done", int(counts.get(k, 0)), wall, 1, now)
                    for k in batch
                ],
            )
            written.extend(batch)
            out_rows += sum(counts.get(k, 0) for k in batch)
        return {"written_keys": written, "skipped_keys": sorted(done), "output_rows": out_rows}
    finally:
        df.unpersist(blocking=False)


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
