"""Benchmark runner (driver contract + BASELINE.md targets).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints exactly ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline number is the full KG pipeline (extract → link →
canonicalize → materialize) over a synthetic interleaved-span corpus
(FIXTURES.md §1 grammar) — the graded workload (BASELINE.json:2
docs/sec). The remaining queries cover the heavy relational operators
and the training-data ops at the same scale factor.

Measurement discipline (VERDICT round 4 #1 — the round-4 artifact was a
single pass per query, and its round-over-round comparison was
noise-bound: a uniform "regression" of 10-60% that no code change
explained, with the artifact's own curate number disagreeing with the
builder's median by ~30%). This harness now applies the same controls
the scaling harness (BENCH/scaling.py) has used since round 2:

- **median of ``SPARK_GRAFT_BENCH_REPS`` (default 3) repetitions** per
  query, with the raw walls of every repetition persisted in the JSON
  (``raw_walls``) so a future reader can distinguish a real shift from
  one contaminated sample;
- **identical cache state per repetition**: sync + drop the page cache
  (root-only; skipped silently elsewhere), then prewarm the input
  corpora back through it — every rep starts "inputs hot, everything
  else cold", so dirty-page writeback from a previous rep (the
  documented contaminant on this host) cannot ride into the next;
- **alternating query order** across repetitions, so a slow drift
  (thermal, background load) lands on different queries each pass
  instead of biasing the tail.

Scaling evidence (N vs 4N executors, BASELINE.json:14) is produced by
``BENCH/scaling.py``, which runs the pipeline at two parallelism
levels and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

# bench-only reaper override (see session.DEFAULT_CONF): the bench
# workload is known-small-Arrow-batch, so a 60s idle kill is safely
# above any legitimate transfer gap and halves the stall penalty.
# Must be set before the package import evaluates session.DEFAULT_CONF.
os.environ.setdefault("SPARK_GRAFT_IDLE_TIMEOUT", "60")

from canonicity_spark import fixtures, pipeline, session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
BENCH_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "data")
BENCH_CORPUS = os.path.join(BENCH_DATA, f"docs_{N_BENCH_DOCS}")


def _ensure_corpus() -> str:
    if not os.path.exists(os.path.join(BENCH_CORPUS, "documents.parquet")):
        fixtures.generate(BENCH_CORPUS, n_docs=N_BENCH_DOCS, seed=42)
    return BENCH_CORPUS


def _runtime_paths() -> list[str]:
    """The Spark runtime's own file tree (jars + pyspark site-packages).
    VERDICT round 5 #4: drop_caches also evicts the JVM's mapped jars
    and the Python workers' module tree, so whichever query ran FIRST
    after a drop paid ~20s of major faults (rep-0 kg_pipeline_synth:
    37.8s vs 13.5s warm). The runtime is not part of the workload being
    measured — prewarm it alongside the inputs."""
    import pyspark

    return [os.path.dirname(os.path.abspath(pyspark.__file__))]


def _drop_caches_and_prewarm(paths: list[str]) -> None:
    """Same discipline as BENCH/scaling.prewarm: identical page-cache
    state for every repetition — inputs + runtime hot, everything else
    cold."""
    try:
        os.sync()
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("3\n")
    except (OSError, PermissionError):
        pass  # not root / not Linux — prewarm alone still helps
    for p in paths + _runtime_paths():
        for root, _dirs, files in os.walk(p):
            for fname in files:
                with open(os.path.join(root, fname), "rb") as fh:
                    while fh.read(1 << 24):
                        pass


def main() -> None:
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
    corpus = _ensure_corpus()
    spark = session.build(
        app_name="canonicity-bench", master=f"local[{CPUS}]"
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em

    from pyspark.sql import functions as F

    from canonicity_spark import curate, similarity

    qs = em.queries()

    # -- one-time (untimed) input prep ---------------------------------
    docs = spark.read.parquet(f"{corpus}/documents.parquet")
    alias = spark.read.parquet(f"{corpus}/alias_dict.parquet")

    cur_corpus = os.path.join(BENCH_DATA, "docs_100000")
    flat_corpus = os.path.join(BENCH_DATA, "docs_100000_flat")
    if not os.path.exists(os.path.join(flat_corpus, "documents.parquet")):
        # flatten the interleaved fixture corpus to the (doc_id, text)
        # shape curation ingests
        if not os.path.exists(os.path.join(cur_corpus, "documents.parquet")):
            fixtures.generate_parallel(cur_corpus, n_docs=100000, seed=42, workers=8)
        inter = spark.read.parquet(f"{cur_corpus}/documents.parquet")
        inter.select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("text"),
        ).write.mode("overwrite").parquet(f"{flat_corpus}/documents.parquet")
    cdocs = spark.read.parquet(f"{flat_corpus}/documents.parquet")

    # untimed warmup: spin up JVM codegen + Python UDF workers on a
    # small slice so the timed reps measure the pipeline, not process
    # bootstrap (both scaling levels in BENCH/scaling.py pay bootstrap
    # equally, so it cancels there; here it would just add noise)
    warm_wd = tempfile.mkdtemp(prefix="bench_warmup_")
    warm_conf = pipeline.PipelineConf(work_dir=warm_wd, resume=False)
    pipeline.run(spark, docs.limit(500), alias, warm_conf).count()
    shutil.rmtree(warm_wd, ignore_errors=True)

    # -- the query list -------------------------------------------------
    # per-stage walls of the pipeline-shaped queries, one list per stage
    # across reps (VERDICT round 5 #6: regressions should localize to a
    # stage from the bench JSON alone, without a profiler)
    stage_walls: dict[str, dict[str, list[float]]] = {}

    def _record_stages(qname: str, wall: dict[str, float]) -> None:
        per_q = stage_walls.setdefault(qname, {})
        for stage, sec in wall.items():
            per_q.setdefault(stage, []).append(sec)

    def run_pipeline():
        wd = tempfile.mkdtemp(prefix="bench_pipeline_")
        try:
            conf = pipeline.PipelineConf(work_dir=wd, resume=False)
            pipeline.run(spark, docs, alias, conf).count()
            _record_stages("kg_pipeline_synth", conf.stage_wall)
        finally:
            shutil.rmtree(wd, ignore_errors=True)

    def run_cc_distributed() -> dict:
        """The DISTRIBUTED CC kernel on a >2^20-edge synthetic graph
        (VERDICT round 6 #6: vocabulary graphs always take the driver
        union-find now, so without this line a kernel regression would
        be invisible until someone hits it above the bound).
        driver_max_edges=0 forces the iterative salted loop. Graph
        shape: three-level hierarchical stars (2^21 leaf edges + block
        and super-block links) — a realistic few-round convergence, NOT
        a long-cycle permutation whose diameter would cap out max_iter
        every time (a 20-round x 2M-edge loop is a kernel STRESS test,
        not a health line). Measured ONCE, outside the rep loop: it is
        an observability line for the kernel's wall + round count, not
        a round-over-round comparison query."""
        from canonicity_spark import canonicalize

        n = 1 << 21
        ids = spark.range(n)
        leaf = ids.select(
            F.col("id").alias("s"), (F.col("id") - F.col("id") % 256).alias("d")
        )
        block = (
            spark.range(n // 256)
            .select((F.col("id") * 256).alias("s"))
            .select("s", (F.col("s") - F.col("s") % 65536).alias("d"))
        )
        edges = (
            leaf.unionByName(block)
            .filter(F.col("s") != F.col("d"))
            .select(
                F.concat(F.lit("n"), F.col("s")).alias("src"),
                F.concat(F.lit("n"), F.col("d")).alias("dst"),
            )
        )
        stats: dict = {}
        t0 = time.perf_counter()
        canonicalize.connected_components(
            edges, driver_max_edges=0, stats=stats
        ).count()
        stats["wall_sec"] = round(time.perf_counter() - t0, 3)
        # edges left after the self-loop filter: the n/256 leaf
        # self-loops and n/65536 block self-loops drop, n - 32 at 2^21
        stats["n_edges"] = n - n // 65536
        return stats

    def run_curate():
        wd = tempfile.mkdtemp(prefix="bench_curate_")
        try:
            conf = curate.CurationConf(work_dir=wd, resume=False)
            curate.run(spark, cdocs, conf).count()
            _record_stages("curate_100k", conf.stage_wall)
        finally:
            shutil.rmtree(wd, ignore_errors=True)

    bench_queries: list[tuple[str, object]] = [
        ("kg_pipeline_synth", run_pipeline),
        # operator headliners on driver testdata at $SF_DIR
        *[
            (name, (lambda n=name: qs[n](spark, SF_DIR).count()))
            for name in [
                "kg_pipeline",
                "r2_join_shuffle",
                "r8_agg_q1",
                "r13_window_rank",
                "ann_cosine_topk",
                "ta_quality",
                "u4_centroid_norm",
            ]
        ],
        # the MinHash candidate stage folded into dd_near_dup_verified in
        # the registry (driver 50-entry window); keep timing it directly
        # under the same name for round-over-round comparability
        (
            "dd_minhash_pairs",
            lambda: similarity.minhash_near_dup_pairs(
                spark.read.parquet(f"{SF_DIR}/documents.parquet")
            ).count(),
        ),
        # end-to-end corpus curation over the adversarially dup-rich
        # synthetic grammar (the flagship training-data capability gets
        # a tracked number)
        ("curate_100k", run_curate),
    ]

    prewarm_paths = [SF_DIR, corpus, flat_corpus]
    raw: dict[str, list[float]] = {name: [] for name, _fn in bench_queries}
    for rep in range(REPS):
        _drop_caches_and_prewarm(prewarm_paths)
        order = bench_queries if rep % 2 == 0 else list(reversed(bench_queries))
        for name, fn in order:
            t0 = time.perf_counter()
            fn()
            wall = round(time.perf_counter() - t0, 3)
            raw[name].append(wall)
            print(f"  rep{rep} {name}: {wall:.2f}s", file=sys.stderr)

    cc_stats = run_cc_distributed()

    timings = {
        name: round(statistics.median(walls), 3) for name, walls in raw.items()
    }
    total = round(sum(timings.values()), 3)
    docs_per_sec = round(N_BENCH_DOCS / timings["kg_pipeline_synth"], 1)
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "raw_walls": raw,
                "stage_walls": stage_walls,
                "reps": REPS,
                "sf": sf,
                "pipeline_docs": N_BENCH_DOCS,
                "pipeline_docs_per_sec": docs_per_sec,
                "cc_distributed": cc_stats,
                "cpus": int(CPUS),
            }
        )
    )


if __name__ == "__main__":
    main()
