#!/usr/bin/env python3
"""Job-pipeline benchmark of the spatial engine.

    python3 perfbench/run.py --workload join_uniform --seed 1 --seconds 20 --trace 0

One warm ``local[4]`` session and one client in a closed loop: the next
iteration starts only after the previous one has returned.  An iteration
makes the public calls of the matching ``jobs/run_*.py`` ``main()``
(``load_rects``, the operator with the job's defaults, ``coarse_cell_col``,
``resumable_write`` into a fresh output and manifest) and every output is
checked against an independent oracle (``perfbench/oracle.py``) outside
the timed window.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced iterations with traced ones that materialize each prefix of the
pipeline (sources, cover, operator, manifest) into a ``noop`` sink, each
step under its own Spark job group, and prints the per-layer metrics.

Inputs and expected results are cached per (workload, seed) under
``perfbench/.cache``, built by a child process outside every timed window
and outside ``setup_s``.  Scratch output goes to ``perfbench/.work``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The exit code is 0 only when every iteration passed its check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
CORES = 4
# the jobs' --shuffle-partitions flag sized to local[4], as the tests and
# bench.py size it; Spark's default of 200 writes ~200 tiny files per key
SHUFFLE_PARTITIONS = 8
# untimed iterations in setup: the first is cold (Python workers, class
# loading, codegen) and takes three to four warm ones; the second is
# still ~40% slower than a warm one
WARMUPS = 2


def process_age_s() -> float:
    """Seconds since this process was created."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(work: Path) -> None:
    """Keep Spark, DuckDB and temp files inside ``work``; give Spark's
    Python workers the repo on their import path."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    # the heap is pinned: with G1 resizing it, peak RSS differed by 15%
    # between runs of the same workload
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-memory 2g",
            "--conf spark.ui.enabled=false",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
            f"--conf 'spark.driver.extraJavaOptions=-Xms2g -Djava.io.tmpdir={tmp}'",
            "pyspark-shell",
        ]
    )
    sys.path.insert(0, str(ROOT))


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every input size (tests run at 0.01)")
    p.add_argument("--drop-row", action="store_true",
                   help="self-test: delete one output row before the check")
    p.add_argument("--prepare", action="store_true",
                   help="internal: build the (workload, seed) cache and exit")
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------


def start_session(name: str):
    from jobs._common import build_session

    return build_session(
        f"perfbench-{name}", argparse.Namespace(master=f"local[{CORES}]", shuffle_partitions=SHUFFLE_PARTITIONS)
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its children exit."""
    from pyspark import SparkContext

    from perfbench.sparkstats import descendants

    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    kids = descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


# ---------------------------------------------------------------------------
# inputs and expected results
# ---------------------------------------------------------------------------


def cache_dir(args) -> Path:
    tag = f"{args.workload}-s{args.seed}" + ("" if args.scale == 1.0 else f"-x{args.scale:g}")
    return BENCH / ".cache" / tag


class _GeneratorOnly:
    """Stands in for the SparkSession handed to ``synth_docs_df_vec``: it
    keeps the pandas generator the function passes to ``mapInPandas``, so
    the benchmark runs that generator itself, without a JVM."""

    def range(self, start, end, numPartitions=None):
        return self

    def mapInPandas(self, gen, schema):
        self.gen = gen
        return self


def write_docs(path: Path, prefix: str, n: int, seed: int, w) -> None:
    """The docs ``synth_docs_df_vec(spark, prefix, n, seed, ...)`` yields,
    as one parquet file per ``spark.range`` partition of a local[CORES]
    session: the same rows, and the same number of read splits."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rtree_cpp_spark.sources.synth import synth_docs_df_vec

    gen = synth_docs_df_vec(
        _GeneratorOnly(), prefix, n, seed=seed,
        cluster_frac=w.cluster_frac, cluster_diam=w.cluster_diam, max_dim=w.max_dim,
    ).gen
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    path.mkdir()
    for k, ids in enumerate(np.array_split(np.arange(n, dtype=np.int64), CORES)):
        for pdf in gen(iter([pd.DataFrame({"id": ids})])):
            table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
            pq.write_table(table, path / f"part-{k:05d}.parquet")


def prepare(args, work: Path) -> None:
    """Generate the inputs with the synth generators and compute the
    expected results; publish them atomically into the cache."""
    from perfbench import oracle
    from perfbench.pipelines import WORKLOADS, input_seeds
    from rtree_cpp_spark.sources.synth import synth_knn_queries_pdf, synth_range_queries_pdf

    w = WORKLOADS[args.workload].scaled(args.scale)
    final = cache_dir(args)
    tmp = final.with_name(f"{final.name}.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    s = input_seeds(args.seed)
    write_docs(tmp / "a", "A", w.n_a, s["a"], w)
    if w.n_b:
        write_docs(tmp / "b", "B", w.n_b, s["b"], w)
    for name, make, n in (("range", synth_range_queries_pdf, w.n_range),
                          ("knn", synth_knn_queries_pdf, w.n_knn)):
        if n:
            (tmp / name).mkdir()
            make(n, s[name]).to_parquet(tmp / name / "part-00000.parquet", index=False)
    con = oracle.connect(str(work / "duckdb"), CORES)
    exp, knn_rows, props = oracle.expected(w, args.seed, con, CORES)
    con.close()
    if knn_rows is not None:
        knn_rows.to_parquet(tmp / "knn_expected.parquet", index=False)
    (tmp / "expected.json").write_text(json.dumps({"expected": exp, "properties": props}))
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def ensure_cache(args) -> float:
    """Build the cache in a child process when missing; its duration."""
    if (cache_dir(args) / "expected.json").exists():
        return 0.0
    t0 = time.perf_counter()
    cmd = [sys.executable, str(Path(__file__).resolve()), "--prepare",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--scale", str(args.scale)]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# the benchmark proper
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, args, work: Path):
        import pandas as pd

        from perfbench import oracle
        from perfbench.pipelines import PIPELINES, WORKLOADS, grid

        self.args = args
        self.work = work
        self.w = WORKLOADS[args.workload].scaled(args.scale)
        self.pipes = [PIPELINES[p] for p in self.w.pipelines]
        self.grid = grid()
        cache = cache_dir(args)
        self.paths = {k: str(cache / k) for k in ("a", "b", "range", "knn")}
        meta = json.loads((cache / "expected.json").read_text())
        self.expected, self.properties = meta["expected"], meta["properties"]
        knn_file = cache / "knn_expected.parquet"
        self.knn_rows = pd.read_parquet(knn_file) if knn_file.exists() else None
        self.con = oracle.connect(str(work / "duckdb"), CORES)
        self.cores = CORES
        self.spark = None
        self.n_iter = 0
        self.failures: list[str] = []

    # -- one iteration ------------------------------------------------------

    def dirs(self, tag: str, p) -> tuple[str, str]:
        base = self.work / "out" / tag / p.name
        return str(base / "data"), str(base / "manifest")

    def write(self, df, p, tag: str) -> dict:
        from rtree_cpp_spark.plans.manifest import new_run_id, resumable_write

        out, manifest = self.dirs(tag, p)
        return resumable_write(df, out, "part", manifest, new_run_id(), p.stage)

    def check(self, tag: str, results: dict) -> dict:
        """Check every pipeline's output; return its parquet bytes and rows."""
        from perfbench import oracle

        if self.args.drop_row:
            drop_one_row(self.dirs(tag, self.pipes[0])[0])
        problems, nbytes, rows = [], 0, 0
        for p in self.pipes:
            exp = self.expected[p.name]
            res = results[p.name]
            out = self.dirs(tag, p)[0]
            if res["skipped_keys"]:
                problems.append(f"{p.name}: resume skipped {len(res['skipped_keys'])} keys")
            if res["output_rows"] != exp["rows"]:
                problems.append(f"{p.name}: output_rows {res['output_rows']} != {exp['rows']}")
            why = oracle.check(p.name, out, exp, self.con, self.knn_rows)
            if why:
                problems.append(f"{p.name}: {why}")
            nbytes += oracle.parquet_bytes(out)
            rows += exp["rows"]
        if problems:
            self.failures.append(f"{tag}: " + "; ".join(problems))
            print(f"CHECK FAILED {tag}: {'; '.join(problems)}", file=sys.stderr)
        return {"ok": not problems, "bytes": nbytes, "rows": rows}

    def fresh(self, tag: str) -> None:
        shutil.rmtree(self.work / "out" / tag, ignore_errors=True)
        self.spark.catalog.clearCache()  # each iteration is one job run: no warm census cache

    def iteration(self, tag: str) -> dict:
        """One untraced closed-loop iteration: wall time plus its check."""
        self.fresh(tag)
        self.spark.sparkContext.setJobGroup(tag, tag)
        results = {}
        t0 = time.perf_counter()
        for p in self.pipes:
            frames = p.load(self.spark, self.paths)
            results[p.name] = self.write(p.output(frames, self.grid, self.w), p, tag)
        wall = time.perf_counter() - t0
        chk = self.check(tag, results)
        shutil.rmtree(self.work / "out" / tag, ignore_errors=True)
        return {"tag": tag, "wall": wall, **chk}

    # -- setup and loops ----------------------------------------------------

    def setup(self, t_origin: float, t_prepare: float) -> float:
        """Seconds from process start until the session is ready and the
        untimed warm-up iterations have run, minus the cache build.  One
        setup per run: a second would cost more than the timed window."""
        self.spark = start_session(self.w.name)
        self.session_s = time.perf_counter() - t_origin - t_prepare
        self.warmup_walls = [self.iteration(f"warmup{k}")["wall"] for k in range(WARMUPS)]
        return time.perf_counter() - t_origin - t_prepare

    def loop(self, seconds: float, traced: bool) -> tuple[list[dict], list[dict]]:
        """Closed loop for ``seconds``; with ``traced`` every other
        iteration is a traced one.  Returns (untraced, traced) records;
        an iteration that raised is recorded as failed, without a wall."""
        from perfbench.trace import traced_iteration

        plain, spans = [], []
        t_end = time.perf_counter() + seconds
        while True:
            i = self.n_iter
            self.n_iter += 1
            kind, run = (spans, traced_iteration) if traced and i % 2 else (plain, Bench.iteration)
            tag = f"{'t' if kind is spans else 'u'}{i}"
            try:
                kind.append(run(self, tag))
            except Exception:
                traceback.print_exc()
                self.failures.append(f"{tag}: raised")
                kind.append({"tag": tag, "ok": False, "wall": None})
            if time.perf_counter() >= t_end and (not traced or spans):
                return plain, spans


def drop_one_row(out_dir: str) -> None:
    """Rewrite the first output parquet file without its last row."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True))
    for f in files:
        t = pq.read_table(f)
        if t.num_rows:
            pq.write_table(t.slice(0, t.num_rows - 1), f)
            return


def cpu_control_s() -> float:
    """Wall time of a fixed single-thread numpy burn: tells a slow machine
    from a slow plan.  Diagnostic only."""
    import numpy as np

    a = np.arange(1_000_000, dtype=np.float64) * 1e-6
    t0 = time.perf_counter()
    for _ in range(60):
        a = np.sqrt(a * a + 1.0) - 1.0
    return time.perf_counter() - t0


def walls(records: list[dict]) -> list[float]:
    return [r["wall"] for r in records if r["wall"] is not None]


def end_to_end(b: Bench, plain: list[dict], setup_s: float, rss_mb: float) -> dict:
    w = b.w
    wall = median(walls(plain)) or float("nan")
    docs = w.n_a + w.n_b
    # a join answers one window query over B per A rect
    queries = w.n_range + w.n_knn if w.n_range or w.n_knn else w.n_a
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (docs / wall, "docs/s"),
        "queries_per_s": (queries / wall, "queries/s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "out_bytes_per_row": (
            median([r["bytes"] / max(1, r["rows"]) for r in plain if "bytes" in r]), "bytes"),
    }


def report(b: Bench, plain: list[dict], traced: list[dict], setup_s: float, elapsed: float) -> None:
    ws = walls(plain)
    n = len(ws)
    q1, q2, q3 = quartiles(ws) if ws else (0.0, 0.0, 0.0)
    tail = "no percentile has 10 samples beyond it"
    if n > 10:
        pct = 100.0 * (1 - 10 / n)
        tail = f"p{pct:g} {sorted(ws)[n - 11]:.4f}s"
    attempted = len(plain) + len(traced)
    failed = sum(not r["ok"] for r in plain + traced)
    print(f"workload {b.w.name} seed {b.args.seed}: closed loop, 1 client, local[{CORES}], "
          f"{len(plain)} untraced and {len(traced)} traced iterations in {elapsed:.1f}s")
    print(f"wall_s n={n} median {q2:.4f}s p25 {q1:.4f}s p75 {q3:.4f}s; {tail}")
    print("wall_s samples " + " ".join(f"{x:.3f}" for x in ws))
    print(f"setup_s {setup_s:.3f}s (session start {b.session_s:.3f}s, warm-up iterations "
          + " ".join(f"{x:.3f}s" for x in b.warmup_walls) + ")")
    print(f"failed_frac {failed / attempted:g} ({failed}/{attempted})")
    print("properties " + json.dumps(b.properties, sort_keys=True))


def main(argv=None) -> int:
    t_origin = time.perf_counter() - process_age_s()
    args = parse_args(argv)
    work = BENCH / ".work" / str(os.getpid())
    configure_env(work)
    try:
        from perfbench.pipelines import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        if args.prepare:
            prepare(args, work)
            return 0
        return run(args, work, t_origin)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path, t_origin: float) -> int:
    from perfbench.sparkstats import peak_rss_mb
    from perfbench.trace import layer_metrics

    t_prepare = ensure_cache(args)
    b = Bench(args, work)
    try:
        setup_s = b.setup(t_origin, t_prepare)
        control = cpu_control_s() if args.trace else 0.0
        t0 = time.perf_counter()
        plain, traced = b.loop(args.seconds, bool(args.trace))
        elapsed = time.perf_counter() - t0
        if args.trace:
            metrics = layer_metrics(b, plain, traced, control)
        else:
            metrics = end_to_end(b, plain, setup_s, peak_rss_mb(b.spark.sparkContext._gateway.proc.pid))
    finally:
        if b.spark is not None:
            stop_session(b.spark)
        b.con.close()
    report(b, plain, traced, setup_s, elapsed)
    for name, (value, unit) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit}")
    attempted = len(plain) + len(traced)
    failed = sum(not r["ok"] for r in plain + traced)
    print(json.dumps({
        "correct": failed == 0 and not b.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 and not b.failures else 1


if __name__ == "__main__":
    sys.exit(main())
