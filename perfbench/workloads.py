"""Workload inputs, operations, output checks and traced layer passes.

Two workloads, each a closed loop of one client (the next operation
starts when the previous one returns):

- ``kg_build``: one operation is ``pipeline.run`` over an interleaved
  ``fixtures.generate`` corpus (the paper's headline workload; extract,
  link, canonicalize on its driver path, materialize, io_catalog).
- ``curate_dedup``: one operation is ``curate.run`` over the same kind of
  corpus flattened to (doc_id, text) (similarity's banding, candidate
  self-join and verify dominate; extract and link do no work).

The traced run of each workload adds layer passes that the untraced runs
do not pay for: the stage-by-stage drive, the band kernel timing, the
distributed connected-components path (kg_build) and the streaming
micro-batch path with its archive probes (curate_dedup).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import re
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from canonicity_spark import (
    cache,
    canonicalize,
    curate,
    extract,
    fixtures,
    link,
    materialize,
    pipeline,
    similarity,
    streaming,
)
from canonicity_spark.io_catalog import ParquetCatalog

WORKLOADS = ("kg_build", "curate_dedup")

# Corpus size per workload, and the distributed-CC probe's node count
# (a power of two >= 2^16: the graph has n / 65536 components).
SIZES = {
    "full": {"kg_build": 5000, "curate_dedup": 10000, "cc_nodes": 1 << 16,
             "stream_budget_s": 10.0},
    "tiny": {"kg_build": 300, "curate_dedup": 400, "cc_nodes": 1 << 16,
             "stream_budget_s": 1.0},
}
WARMUP_DOCS = 500
MIN_TRIPLE_PR = 0.95
# Streaming probe batch sizes: log-uniform over this range, so batches
# run from tens of docs to ~2000.
STREAM_BATCH_RANGE = (20, 2000)

# kg_build stages in pipeline.run order -> the layer that computes them.
KG_STAGE_LAYER = {
    "parsed": "extract",
    "mentions": "extract",
    "raw_triples": "extract",
    "surface_links": "link",
    "labels": "canonicalize",
    "surface_map": "canonicalize",
    "triples": "materialize",
    "entities": "canonicalize",
}
# Session overrides pipeline.run scopes to one stage (its stage_conf).
KG_STAGE_CONF = {
    "surface_links": {
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true"
    },
}
CURATE_STAGE_LAYER = {s: "curate" for s in curate.STAGES} | {"near_pairs": "similarity"}
LAYER_GROUPS = ["extract", "link", "canonicalize", "materialize", "similarity",
                "curate", "streaming"]


@dataclass
class Inputs:
    docs: object  # DataFrame the operation reads
    warm: object  # WARMUP_DOCS-row slice of the same corpus, for warm-up
    n_docs: int
    alias: object = None
    golden: set = field(default_factory=set)
    flat_rows: list = field(default_factory=list)
    sample_texts: list = field(default_factory=list)  # for the band kernel


# -- inputs ------------------------------------------------------------

def _flatten(docs: pa.Table) -> pa.Table:
    """Interleaved documents -> (doc_id, text): text spans joined by a
    space, the shape curation ingests."""
    ids, texts = [], []
    for row in docs.to_pylist():
        ids.append(row["doc_id"])
        texts.append(" ".join(s["text"] for s in row["spans"]
                              if s["kind"] == "text" and s["text"]))
    return pa.table({"doc_id": pa.array(ids, pa.string()),
                     "text": pa.array(texts, pa.string())})


def make_input_files(workload: str, seed: int, n_docs: int, out_dir: str) -> dict:
    """Generate the seeded corpus (pure Python, no Spark) and write the
    operation input plus a warm-up slice. Returns file paths."""
    fixtures.generate(out_dir, n_docs=n_docs, seed=seed)
    docs = pq.read_table(os.path.join(out_dir, "documents.parquet"))
    if workload == "curate_dedup":
        docs = _flatten(docs)
    paths = {"docs": os.path.join(out_dir, "input.parquet"),
             "warm": os.path.join(out_dir, "warm.parquet"),
             "alias": os.path.join(out_dir, "alias_dict.parquet"),
             "golden": os.path.join(out_dir, "golden_triples.parquet")}
    # same row-group size as fixtures.generate, so scans split alike
    pq.write_table(docs, paths["docs"], row_group_size=2048)
    pq.write_table(docs.slice(0, WARMUP_DOCS), paths["warm"], row_group_size=2048)
    return paths


def load_inputs(spark, workload: str, paths: dict, n_docs: int) -> Inputs:
    inp = Inputs(docs=spark.read.parquet(paths["docs"]),
                 warm=spark.read.parquet(paths["warm"]), n_docs=n_docs)
    table = pq.read_table(paths["docs"])
    if workload == "kg_build":
        inp.alias = spark.read.parquet(paths["alias"])
        gold = pq.read_table(paths["golden"], columns=["subj", "pred", "obj"])
        inp.golden = set(zip(*(gold.column(c).to_pylist() for c in gold.column_names)))
        table = _flatten(table.slice(0, WARMUP_DOCS))
    else:
        inp.flat_rows = table.to_pylist()
    inp.sample_texts = table.column("text").to_pylist()[:WARMUP_DOCS]
    return inp


# -- operations --------------------------------------------------------

def run_op(spark, workload: str, inp: Inputs, work_dir: str, warm: bool = False) -> dict:
    """One operation of the workload, exactly as a user calls it.
    Returns the conf's public per-stage walls."""
    docs = inp.warm if warm else inp.docs
    if workload == "kg_build":
        conf = pipeline.PipelineConf(work_dir=work_dir, resume=False)
        pipeline.run(spark, docs, inp.alias, conf)
    else:
        conf = curate.CurationConf(work_dir=work_dir, resume=False)
        curate.run(spark, docs, conf)
    return dict(conf.stage_wall)


def drive_kg(spark, inp: Inputs, work_dir: str, tracer, cc_stats: dict) -> None:
    """pipeline.run's stage graph, driven by the benchmark: each stage
    calls its layer's public function, then ParquetCatalog.write_stage,
    with one span per call and the stage's Spark jobs tagged with its
    layer. The output is checked against the untraced operation's, so
    a drift from pipeline.run shows as a failed check."""
    conf = pipeline.PipelineConf(work_dir=work_dir, resume=False)
    cat = ParquetCatalog(work_dir, fingerprint=pipeline.input_fingerprint(inp.docs, conf))

    def stage(name: str, compute):
        layer = KG_STAGE_LAYER[name]
        overrides = KG_STAGE_CONF.get(name, {})
        saved = {k: spark.conf.get(k, None) for k in overrides}
        pins = cache.mark()
        with tracer.span(f"stage.{name}", group=layer):
            for k, v in overrides.items():
                spark.conf.set(k, v)
            try:
                with tracer.span(f"{layer}.call.{name}"):
                    df = compute()
                with tracer.span("io_catalog.write_stage"):
                    out = cat.write_stage(df, name)
            finally:
                for k, v in saved.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
            cache.release_new(pins)
        return out

    docs = extract.ensure_parallelism(inp.docs, "doc_id")
    with tracer.span("op.kg_build"):
        parsed = stage("parsed", lambda: extract.parsed_sentences(docs))
        mentions = stage("mentions", lambda: extract.extract_mentions(parsed))
        raw = stage("raw_triples", lambda: extract.extract_text_triples(parsed)
                    .unionByName(extract.extract_media_triples(docs)))
        links = stage("surface_links", lambda: link.run(mentions, inp.alias, tau=conf.tau))
        labels = stage("labels", lambda: canonicalize.connected_components(
            canonicalize.build_edges(links), max_iter=conf.cc_max_iter,
            use_salting=conf.use_salting, stats=cc_stats))
        smap = stage("surface_map", lambda: canonicalize.surface_entity_map(labels))
        stage("triples", lambda: materialize.run(raw, smap,
                                                 skew_threshold=conf.m1_skew_threshold))
        stage("entities", lambda: canonicalize.canonical_entities(
            smap, mentions, None, surface_freq=links.select("norm_surface", "freq")))


def drive_curate(spark, inp: Inputs, work_dir: str, tracer) -> dict:
    """curate.run one stage per call (``stop_after`` + resume), one span
    per stage, the near_pairs stage's jobs tagged ``similarity`` and the
    rest ``curate``. Its gate, exact and cluster steps are not public
    functions, so the stages are driven through curate.run itself."""
    conf = curate.CurationConf(work_dir=work_dir, run_id="traced", resume=True)
    with tracer.span("op.curate_dedup"):
        for name in curate.STAGES:
            conf.stop_after = name
            with tracer.span(f"stage.{name}", group=CURATE_STAGE_LAYER[name]):
                curate.run(spark, inp.docs, conf)
    return dict(conf.stage_wall)


# -- output checks -----------------------------------------------------

def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(("\t".join(map(str, r)) + "\n").encode())
    return h.hexdigest()[:16]


def _read_stage(work_dir: str, name: str) -> pa.Table:
    return pq.read_table(os.path.join(work_dir, name))


def _norm(t: str | None) -> str:
    """Curation's text normalization (Spark's trim strips spaces only,
    Java's \\s is the ASCII whitespace class)."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", (t or "").lower().strip(" "))


def check_op(workload: str, inp: Inputs, work_dir: str) -> dict:
    """Check one operation's committed output. Returns {"ok", "digest",
    ...}; the digests of every operation on one input must agree."""
    if workload == "kg_build":
        t = _read_stage(work_dir, "triples")
        got = set(zip(t.column("subj").to_pylist(), t.column("pred").to_pylist(),
                      t.column("obj").to_pylist()))
        tp = len(got & inp.golden)
        p = tp / len(got) if got else 0.0
        r = tp / len(inp.golden) if inp.golden else 0.0
        return {"ok": p >= MIN_TRIPLE_PR and r >= MIN_TRIPLE_PR,
                "precision": round(p, 4), "recall": round(r, 4),
                "digest": _digest(got)}
    cur = _read_stage(work_dir, "curated")
    ids = cur.column("doc_id").to_pylist()
    kept = set(ids)
    # exact dedup held: no two curated docs share normalized text
    exact_ok = len({_norm(t) for t in cur.column("text").to_pylist()}) == len(ids)
    # near dedup held: no verified near-dup pair kept both of its docs
    pairs = _read_stage(work_dir, "near_pairs")
    near_ok = not any(a in kept and b in kept for a, b in
                      zip(pairs.column("doc_a").to_pylist(), pairs.column("doc_b").to_pylist()))
    return {"ok": exact_ok and near_ok and 0 < len(ids) <= inp.n_docs,
            "curated": len(ids), "digest": _digest((i,) for i in ids)}


def written_files(work_dir: str) -> tuple[int, int]:
    """(data bytes, data files) under a work dir; manifests and Spark's
    marker/checksum files excluded."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(work_dir):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return n_bytes, n_files


# -- traced layer passes -----------------------------------------------

def band_us_per_doc(texts: list[str], reps: int = 3) -> float:
    """link.band_hashes_of_text in-process at the document-dedup
    geometry, median of ``reps`` passes over ``texts``."""
    k, bands, rows = similarity.DOC_MINHASH_K, similarity.DOC_BANDS, similarity.DOC_ROWS
    a, b = link._hash_params(k)
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for t in texts:
            link.band_hashes_of_text(_norm(t), a, b, k, bands, rows, 5, 4 * k)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / len(texts) * 1e6


def star_edges(spark, n: int):
    """Three-level hierarchical star over n nodes (leaf -> block of 256
    -> super-block of 65536), self-loops removed: n - n/65536 edges,
    n/65536 components."""
    from pyspark.sql import functions as F

    leaf = spark.range(n).select(F.col("id").alias("s"),
                                 (F.col("id") - F.col("id") % 256).alias("d"))
    block = (spark.range(n // 256).select((F.col("id") * 256).alias("s"))
             .select("s", (F.col("s") - F.col("s") % 65536).alias("d")))
    return (leaf.unionByName(block).filter(F.col("s") != F.col("d"))
            .select(F.concat(F.lit("n"), F.col("s")).alias("src"),
                    F.concat(F.lit("n"), F.col("d")).alias("dst")))


def dist_cc_probe(spark, n: int, tracer) -> dict:
    """canonicalize.connected_components on the distributed path
    (driver_max_edges=0). Checked: exactly n/65536 components over
    n - n/65536 edges."""
    edges = star_edges(spark, n)
    stats: dict = {}
    with tracer.span("canonicalize.dist_cc", group="canonicalize.dist"):
        labels = canonicalize.connected_components(edges, driver_max_edges=0, stats=stats)
        n_comp = labels.select("label").distinct().count()
    wall = tracer.total("canonicalize.dist_cc")
    n_edges = edges.count()
    return {"ok": n_comp == n // 65536 and n_edges == n - n // 65536,
            "s": wall, "rounds": stats.get("rounds", 0), "edges": n_edges,
            "path": stats.get("path")}


def candidate_pairs(spark, work_dir: str, tracer) -> tuple[int, int]:
    """(LSH candidate pairs with no threshold, verified pairs) for the
    curate op committed in ``work_dir``."""
    exact_kept = spark.read.parquet(os.path.join(work_dir, "exact_kept"))
    with tracer.span("similarity.candidates", group="similarity.candidates"):
        n_cand = similarity.minhash_near_dup_pairs(exact_kept).count()
    with open(os.path.join(work_dir, "near_pairs", "_COMMIT.json")) as f:
        n_verified = json.load(f)["rows_out"]
    return n_cand, n_verified


def against_probe(spark, inp: Inputs, tracer, n_index: int, n_new: int) -> float:
    """similarity.build_minhash_index over the first ``n_index`` docs,
    then one minhash_near_dup_against probe with the next ``n_new``;
    returns the probe's wall."""
    rows = inp.flat_rows
    indexed = spark.createDataFrame(rows[:n_index], "doc_id string, text string")
    new = spark.createDataFrame(rows[n_index:n_index + n_new], "doc_id string, text string")
    with tracer.span("similarity.build_index", group="similarity.against"):
        index = similarity.build_minhash_index(indexed)
    with tracer.span("similarity.against", group="similarity.against"):
        similarity.minhash_near_dup_against(index, new, threshold=0.9).count()
    return tracer.total("similarity.against")


def error_class(exc: BaseException) -> str:
    found = re.findall(r"\bjava\.lang\.\w+Error\b", str(exc))
    return found[-1] if found else type(exc).__name__


def streaming_probe(spark, inp: Inputs, work_dir: str, tracer, seed: int,
                    budget_s: float) -> dict:
    """Closed loop of micro-batches through streaming.process_batch into
    a fresh archive with compaction after every committed batch, until
    ``budget_s`` is spent (at least two batches). Batch sizes are drawn
    log-uniform from STREAM_BATCH_RANGE with the run's seed; a batch
    that raises counts as failed, with its error class. Checked: the
    archive equals a one-shot curate.run over the committed batches."""
    rng = random.Random(seed)
    lo, hi = (math.log(x) for x in STREAM_BATCH_RANGE)
    conf = streaming.StreamConf(work_dir=os.path.join(work_dir, "archive"), compact_every=1)
    rows, offset = inp.flat_rows, 0
    walls, compact, errors, committed = [], [], [], []
    t_start = time.perf_counter()
    batch_id = 0
    while batch_id < 2 or time.perf_counter() - t_start < budget_s:
        size = min(int(math.exp(rng.uniform(lo, hi))), len(rows) - offset)
        if size <= 0:
            break
        batch = rows[offset:offset + size]
        offset += size
        df = spark.createDataFrame(batch, "doc_id string, text string")
        t0 = time.perf_counter()
        try:
            with tracer.span("streaming.batch", group="streaming"):
                st = streaming.process_batch(spark, df, batch_id, conf)
        except Exception as exc:  # a failed batch is a measured outcome
            errors.append({"batch": batch_id, "docs": size, "error": error_class(exc),
                           "s": round(time.perf_counter() - t0, 3)})
        else:
            wall = time.perf_counter() - t0
            walls.append(wall)
            committed.extend(batch)
            if "compaction" in st:
                compact.append(wall - st["wall_sec"])
        batch_id += 1
    cat = streaming.make_catalog(conf)
    bases, live = streaming.archive_parts(cat)
    ok = True
    if committed:
        # the soak test's property, on the batches that committed
        arch_ids = set()
        for prefix in bases + live:
            part = spark.read.parquet(os.path.join(conf.work_dir, f"{prefix}_curated"))
            arch_ids |= {r.doc_id for r in part.select("doc_id").collect()}
        one = curate.CurationConf(work_dir=os.path.join(work_dir, "oneshot"), resume=False)
        union = spark.createDataFrame(committed, "doc_id string, text string")
        ref = {r.doc_id for r in curate.run(spark, union, one).select("doc_id").collect()}
        ok = arch_ids == ref
    return {"ok": ok, "batches": batch_id, "walls": walls, "compact": compact,
            "errors": errors, "bases": len(bases)}
