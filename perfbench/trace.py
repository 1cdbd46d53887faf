"""The traced run: per-layer spans and counters, recorded from outside.

A traced iteration materializes each successive prefix of a pipeline into
a ``noop`` sink: the loaded frames (``sources``), their cell cover
(``operators.cover``), the operator's output frame (the operator layer)
and finally the ``resumable_write`` (``plans.manifest``).  Every public
call gets its own span, including the eager ones (``knn`` runs all its
rounds, ``spatial_join_salted`` its census, inside the call), and every
step runs under its own Spark job group.

A layer's step re-executes the prefix before it, so its self time is the
step's duration minus the time the previous prefix took to materialize.
Per iteration the self times of all layers add up to the load calls,
the operator calls and the writes: what an untraced iteration runs.

Which end-to-end metric each layer should move, and where:

==========================  =============================  ====================================
layer                       should move                    on workload
==========================  =============================  ====================================
sources                     docs_per_s, queries_per_s      all, in proportion to its share
operators.cover             docs_per_s                     join_uniform (join sides and tiles)
operators.spatial_join      docs_per_s                     join_skewed; unchanged on join_uniform
operators.range_query       queries_per_s                  query_batch
operators.knn               queries_per_s                  query_batch; absent from the joins
plans.manifest              wall_s, out_bytes_per_row      all; smallest in query_batch's kNN half
spark (status store)        wall_s, peak_rss_mb            join_skewed (skew), join_uniform (volume)
bench (this harness)        none                           all
==========================  =============================  ====================================
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench.sparkstats import NO_JOIN_PUSHDOWN, StatusStore, join_rows

LAYERS = (
    "sources", "operators.cover", "operators.spatial_join",
    "operators.range_query", "operators.knn", "plans.manifest",
)


def _materialize(df) -> int:
    """Run ``df`` into a noop sink; its row count, observed on the way."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
    return int(obs.get["rows"])


class _Spans:
    def __init__(self, iteration: str):
        self.iteration = iteration
        self.rows: list[dict] = []

    def add(self, name: str, parent: str, start: float, end: float) -> float:
        self.rows.append(
            {"iteration": self.iteration, "name": name, "parent": parent, "start": start, "end": end}
        )
        return end - start


def traced_iteration(b, tag: str) -> dict:
    sc = b.spark.sparkContext
    b.fresh(tag)
    spans = _Spans(tag)
    self_s = dict.fromkeys(LAYERS, 0.0)
    counts: dict[str, float] = {}
    results, info = {}, {}

    def group(name: str) -> str:
        sc.setJobGroup(name, name)
        return name

    t_iter = time.perf_counter()
    for p in b.pipes:
        pre = f"{tag}.{p.name}"
        t_pipe = time.perf_counter()
        # sources: the load calls, then their frames
        group(f"{pre}.sources")
        t0 = time.perf_counter()
        frames = p.load(b.spark, b.paths)
        t1 = time.perf_counter()
        rows_in = {k: _materialize(df) for k, df in frames.items()}
        t2 = time.perf_counter()
        # Spark's stage inputBytes undercounts vectorized parquet reads,
        # so count the bytes of the files the loaded frames scan
        counts["bytes_read"] = counts.get("bytes_read", 0) + sum(
            os.path.getsize(f.removeprefix("file://")) for df in frames.values() for f in df.inputFiles()
        )
        spans.add(f"{pre}.sources.call", f"{pre}.sources", t0, t1)
        prev_mat = spans.add(f"{pre}.sources.materialize", f"{pre}.sources", t1, t2)
        self_s["sources"] += spans.add(f"{pre}.sources", pre, t0, t2)
        # cover: for tiles the cover is the operator, so this is the output frame
        group(f"{pre}.cover")
        t0 = time.perf_counter()
        covered = p.cover(frames, b.grid) if p.cover else [p.output(frames, b.grid, b.w)]
        t1 = time.perf_counter()
        cover_rows = sum(_materialize(df) for df in covered)
        t2 = time.perf_counter()
        spans.add(f"{pre}.cover.call", f"{pre}.cover", t0, t1)
        mat = spans.add(f"{pre}.cover.materialize", f"{pre}.cover", t1, t2)
        self_s["operators.cover"] += spans.add(f"{pre}.cover", pre, t0, t2) - prev_mat
        prev_mat = mat
        counts["cover_rows"] = counts.get("cover_rows", 0) + cover_rows
        counts["cover_in"] = counts.get("cover_in", 0) + rows_in["a"] + rows_in.get("b", 0)
        counts["source_rows"] = counts.get("source_rows", 0) + sum(rows_in.values())
        out = covered[0]
        if p.cover:
            group(f"{pre}.call")
            t0 = time.perf_counter()
            out = p.output(frames, b.grid, b.w)
            t1 = time.perf_counter()
            group(f"{pre}.noop")
            _materialize(out)
            t2 = time.perf_counter()
            info[p.name] = {"call_s": spans.add(f"{pre}.op.call", f"{pre}.op", t0, t1)}
            mat = spans.add(f"{pre}.op.materialize", f"{pre}.op", t1, t2)
            self_s[p.layer] += spans.add(f"{pre}.op", pre, t0, t2) - prev_mat
            prev_mat = mat
        group(f"{pre}.manifest")
        t0 = time.perf_counter()
        results[p.name] = b.write(out, p, tag)
        t1 = time.perf_counter()
        self_s["plans.manifest"] += spans.add(f"{pre}.manifest", pre, t0, t1) - prev_mat
        spans.add(pre, tag, t_pipe, t1)
    wall = time.perf_counter() - t_iter
    spans.add(tag, "", t_iter, t_iter + wall)
    chk = b.check(tag, results)
    for p in b.pipes:
        out_dir, manifest_dir = b.dirs(tag, p)
        files = [os.path.join(d, f) for top in (out_dir, manifest_dir) for d, _, fs in os.walk(top) for f in fs]
        counts["bytes_written"] = counts.get("bytes_written", 0) + sum(map(os.path.getsize, files))
        counts["files_written"] = counts.get("files_written", 0) + len(files)
    counters = _store_counters(b, tag, info)
    b.fresh(tag)
    return {"ok": chk["ok"], "wall": wall, "self_s": self_s, "counts": {**counts, **counters},
            "spans": spans.rows}


def _store_counters(b, tag: str, info: dict) -> dict:
    """Per-layer counters from Spark's status stores for one traced iteration."""
    store = StatusStore(b.spark)
    store.drain()
    groups = {f"{tag}.{p.name}.{s}" for p in b.pipes for s in ("call", "noop", "manifest")}
    jobs = store.jobs(groups)
    execs = store.executions(groups)

    def stages(g: str) -> list[dict]:
        return store.stages([s for job in jobs[g] for s in job])

    c = {}
    for p in b.pipes:
        pre = f"{tag}.{p.name}"
        c[f"{p.name}.actions"] = len(execs[f"{pre}.manifest"])
        if p.name not in info:
            continue
        c[f"{p.name}.call_s"] = info[p.name]["call_s"]
        c[f"{p.name}.call_actions"] = len(execs[f"{pre}.call"])
        c[f"{p.name}.call_jobs"] = len(jobs[f"{pre}.call"])
        call_joins = [join_rows(e) for e in execs[f"{pre}.call"]]
        c[f"{p.name}.call_candidates"] = sum(call_joins)
        c[f"{p.name}.call_rounds"] = sum(1 for n in call_joins if n)
        noop = stages(f"{pre}.noop")
        c[f"{p.name}.shuffle_bytes"] = sum(s["shuffleWriteBytes"] for s in stages(f"{pre}.call") + noop)
        exchange = [s for s in noop if s["shuffleReadBytes"]]
        if exchange:
            q = store.task_quantiles(max(exchange, key=lambda s: s["shuffleReadBytes"]))
            c[f"{p.name}.task_skew"] = q["run_max"] / q["run_med"] if q["run_med"] else 0.0
    return c


def probe_candidates(b, p) -> int:
    """Candidate pairs of one pipeline's operator: the output rows of its
    join node, with the refine filter kept out of the join condition.
    Untimed; runs once per traced invocation."""
    g = f"probe.{p.name}"
    b.spark.catalog.clearCache()
    b.spark.sparkContext.setJobGroup(g, g)
    b.spark.conf.set("spark.sql.optimizer.excludedRules", NO_JOIN_PUSHDOWN)
    try:
        _materialize(p.output(p.load(b.spark, b.paths), b.grid, b.w))
    finally:
        b.spark.conf.unset("spark.sql.optimizer.excludedRules")
    store = StatusStore(b.spark)
    store.drain()
    return max((join_rows(e) for e in store.executions({g})[g]), default=0)


def _spark_counters(b, tag: str, wall: float) -> dict:
    """Runtime totals of one untraced iteration, from its job group."""
    store = StatusStore(b.spark)
    store.drain()
    stages = store.stages([s for job in store.jobs({tag})[tag] for s in job])
    task_s = sum(s["executorRunTime"] for s in stages) / 1000.0
    peak = max((store.task_quantiles(s)["peak_mem_max"] for s in stages), default=0.0)
    return {
        "spark.task_s": task_s,
        "spark.cpu_util": task_s / (wall * b.cores),
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "spark.spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spark.peak_exec_mem_mb": peak / 2**20,
    }


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(b, plain: list[dict], traced: list[dict], control_s: float) -> dict:
    """Every per-layer metric: medians over the iterations that returned.
    A layer the workload does not run reads 0."""
    plain = [r for r in plain if r["wall"] is not None]
    traced = [t for t in traced if t["wall"] is not None]
    names = [p.name for p in b.pipes]
    rows = {n: b.expected[n]["rows"] for n in names}

    def med(key: str) -> float:
        return _med([t["counts"].get(key, 0.0) for t in traced])

    def self_s(layer: str) -> float:
        return _med([t["self_s"][layer] for t in traced])

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    cand = {p.name: probe_candidates(b, p) for p in b.pipes if p.name in ("join", "range")}
    knn_cand = med("knn.call_candidates")
    m = {
        "sources.self_s": (self_s("sources"), "s"),
        "sources.rows": (med("source_rows"), "rows"),
        "sources.bytes_read": (med("bytes_read"), "bytes"),
        "operators.cover.self_s": (self_s("operators.cover"), "s"),
        "operators.cover.rows": (med("cover_rows"), "rows"),
        "operators.cover.fanout": (ratio(med("cover_rows"), med("cover_in")), "cells/rect"),
        "operators.spatial_join.plan_s": (med("join.call_s"), "s"),
        "operators.spatial_join.plan_actions": (med("join.call_actions"), "actions"),
        "operators.spatial_join.self_s": (self_s("operators.spatial_join"), "s"),
        "operators.spatial_join.candidates": (cand.get("join", 0), "pairs"),
        "operators.spatial_join.useful_ratio": (ratio(rows.get("join", 0), cand.get("join", 0)), "ratio"),
        "operators.spatial_join.shuffle_bytes": (med("join.shuffle_bytes"), "bytes"),
        "operators.spatial_join.task_skew": (med("join.task_skew"), "ratio"),
        "operators.range_query.self_s": (self_s("operators.range_query"), "s"),
        "operators.range_query.candidates": (cand.get("range", 0), "pairs"),
        "operators.range_query.useful_ratio": (ratio(rows.get("range", 0), cand.get("range", 0)), "ratio"),
        "operators.knn.call_s": (med("knn.call_s"), "s"),
        "operators.knn.spark_jobs": (med("knn.call_jobs"), "jobs"),
        "operators.knn.rounds": (med("knn.call_rounds"), "rounds"),
        "operators.knn.candidates": (knn_cand, "pairs"),
        "operators.knn.useful_ratio": (ratio(rows.get("knn", 0), knn_cand), "ratio"),
        "plans.manifest.self_s": (self_s("plans.manifest"), "s"),
        "plans.manifest.actions": (_med([sum(t["counts"][f"{n}.actions"] for n in names) for t in traced]), "actions"),
        "plans.manifest.bytes_written": (med("bytes_written"), "bytes"),
        "plans.manifest.files_written": (med("files_written"), "files"),
    }
    spark = [_spark_counters(b, r["tag"], r["wall"]) for r in plain]
    units = {"task_s": "s", "cpu_util": "ratio", "gc_s": "s", "spill_bytes": "bytes",
             "shuffle_write_bytes": "bytes", "peak_exec_mem_mb": "MB"}
    for k, u in units.items():
        m[f"spark.{k}"] = (_med([s[f"spark.{k}"] for s in spark]), u)

    wall = _med([r["wall"] for r in plain])
    traced_wall = _med([t["wall"] for t in traced])
    explained = sum(self_s(layer) for layer in LAYERS)
    m["bench.wall_s"] = (wall, "s")
    m["bench.traced_wall_s"] = (traced_wall, "s")
    m["bench.unattributed_s"] = (wall - explained, "s")
    m["bench.trace_overhead_s"] = (traced_wall - wall, "s")
    m["bench.cpu_control_s"] = (control_s, "s")

    spans_file = b.work.parent / f"spans-{b.w.name}-s{b.args.seed}.jsonl"
    with open(spans_file, "w") as f:
        for t in traced:
            for span in t["spans"]:
                f.write(json.dumps(span) + "\n")
    print(f"trace: layer self times sum to {explained:.4f}s; untraced wall {wall:.4f}s "
          f"= sum + bench.unattributed_s {wall - explained:.4f}s; traced wall {traced_wall:.4f}s "
          f"= untraced wall + bench.trace_overhead_s {traced_wall - wall:.4f}s; "
          f"{len(traced)} traced, {len(plain)} untraced iterations; spans in {spans_file.name}")
    return m
