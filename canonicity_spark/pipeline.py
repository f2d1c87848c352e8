"""End-to-end pipeline orchestration (SURVEY.md §3 EP1/EP3).

Stage graph (each stage a pure DataFrame transform, checkpointed via
the catalog, skipped on resume if already committed — BASELINE.json:14):

    docs ──extract──▶ mentions, raw_triples
    mentions ──link──▶ surface_links
    mentions ⋈ links ──canonicalize──▶ labels, mention_map
    raw_triples ⋈ mention_map ──materialize──▶ triples, entities
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from canonicity_spark import cache, canonicalize, extract, link, materialize, session
from canonicity_spark.io_catalog import ParquetCatalog, StageCatalog


@dataclass
class PipelineConf:
    work_dir: str
    run_id: str | None = None
    tau: float = 0.6
    cc_max_iter: int = 20
    use_salting: bool = True
    # opt-in M1 hot-key split (skew.hot_key_join) for celebrity-skewed
    # corpora whose surface map exceeds the broadcast threshold; output
    # is identical, only the physical join strategy changes — so it is
    # deliberately NOT part of the resume fingerprint
    m1_skew_threshold: int | None = None
    resume: bool = True
    # stop after this stage (for kill/resume tests); None = run all
    stop_after: str | None = None
    # backend selection: (conf, fingerprint) -> StageCatalog; None =
    # ParquetCatalog over work_dir. The whole stage graph goes through
    # the shared StageCatalog protocol, so swapping in IcebergCatalog
    # (production) or a test fake is config-only.
    catalog_factory: Callable[["PipelineConf", str], StageCatalog] | None = None
    stages_run: list[str] = field(default_factory=list)
    stage_wall: dict[str, float] = field(default_factory=dict)


STAGES = [
    "parsed",
    "mentions",
    "raw_triples",
    "surface_links",
    "labels",
    "surface_map",
    "triples",
    "entities",
]


def input_fingerprint(docs: DataFrame, conf: PipelineConf) -> str:
    """Identity of (input, semantics-affecting config) for resume safety.

    Resuming into a work dir left by a DIFFERENT input or config must
    not silently reuse stale stage outputs (ADVICE round 1). The
    fingerprint covers the scan's file set (exact for parquet inputs;
    empty for in-memory test frames, where schema still guards), the
    input schema, and every conf knob that changes stage outputs.
    Driver-side only — zero Spark jobs.
    """
    ident = {
        "files": sorted(docs.inputFiles()),
        "schema": docs.schema.jsonValue(),
        "tau": conf.tau,
        "cc_max_iter": conf.cc_max_iter,
        "use_salting": conf.use_salting,
    }
    return hashlib.sha256(json.dumps(ident, sort_keys=True).encode()).hexdigest()[:16]


def run(
    spark: SparkSession,
    docs: DataFrame,
    alias_dict: DataFrame,
    conf: PipelineConf,
    entity_pool: DataFrame | None = None,
) -> DataFrame:
    """Run (or resume) the pipeline; returns the triples DataFrame."""
    fingerprint = input_fingerprint(docs, conf)
    if conf.catalog_factory is not None:
        cat = conf.catalog_factory(conf, fingerprint)
    else:
        cat = ParquetCatalog(
            conf.work_dir, run_id=conf.run_id, fingerprint=fingerprint
        )

    # Per-stage session-conf overrides, applied around compute+write and
    # restored after. surface_links: the linker operates at VOCABULARY
    # scale, where the wall is task-wave latency, not work — letting AQE
    # re-plan inside its pinned subtrees (surfaces/banded/best) collapses
    # dozens of near-empty 64-partition waves (measured 4.8s -> 2.5s at
    # 20k docs). Deliberately NOT global: on candidate-scale cached
    # plans the same flag defeats cache reuse (curate near_pairs
    # measured 25s -> 200s+), so it must stay scoped to stages whose
    # pins are known-small.
    stage_conf: dict[str, dict[str, str]] = {
        "surface_links": {
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true"
        },
    }

    def stage(name: str, compute) -> DataFrame:
        if conf.resume and cat.stage_committed(name):
            return cat.read_stage(spark, name)
        t0 = time.perf_counter()
        pins_before = cache.mark()
        with session.scoped_conf(spark, **stage_conf.get(name, {})):
            df = compute()
            conf.stages_run.append(name)
            out = cat.write_stage(df, name)
        conf.stage_wall[name] = round(time.perf_counter() - t0, 3)
        # the stage output is checkpoint-backed now — release the pins
        # THIS stage created (link's surfaces/best etc.), and only
        # those: an unscoped unpin_all here would also strip pins owned
        # by unrelated lazy operators in the session (ADVICE round 2)
        cache.release_new(pins_before)
        return out

    def check_stop(name: str):
        if conf.stop_after == name:
            raise _StopAfter(name)

    # P5: widen a narrow scan before the UDF stages (no-op when the
    # input already has >= cores partitions)
    docs = extract.ensure_parallelism(docs, "doc_id")

    try:
        # The parse runs ONCE, materialized as its own stage table
        # (round 1 re-parsed per extract stage; a zstd parquet stage
        # write + columnar read-back is measured cheaper than a second
        # full parse, unlike the in-memory .persist() that round 1
        # correctly rejected — row-oriented cache blocks of ~2 rows/doc
        # were memory-bandwidth/GC-bound). Also gives resume a
        # checkpoint BEFORE the derive stages.
        parsed = stage("parsed", lambda: extract.parsed_sentences(docs))
        check_stop("parsed")

        mentions = stage("mentions", lambda: extract.extract_mentions(parsed))
        check_stop("mentions")
        raw_triples = stage(
            "raw_triples",
            lambda: extract.extract_text_triples(parsed).unionByName(
                extract.extract_media_triples(docs)
            ),
        )
        check_stop("raw_triples")

        surface_links = stage(
            "surface_links", lambda: link.run(mentions, alias_dict, tau=conf.tau)
        )
        check_stop("surface_links")

        labels = stage(
            "labels",
            lambda: canonicalize.connected_components(
                canonicalize.build_edges(surface_links),
                max_iter=conf.cc_max_iter,
                use_salting=conf.use_salting,
            ),
        )
        check_stop("labels")

        surface_map = stage(
            "surface_map", lambda: canonicalize.surface_entity_map(labels)
        )
        check_stop("surface_map")

        triples = stage(
            "triples",
            lambda: materialize.run(
                raw_triples, surface_map, skew_threshold=conf.m1_skew_threshold
            ),
        )
        check_stop("triples")

        stage(
            "entities",
            # freq comes off the vocabulary-sized surface_links stage
            # (the linker aggregated it from mention scale already) —
            # no second scan of the mention-scale table
            lambda: canonicalize.canonical_entities(
                surface_map,
                mentions,
                entity_pool,
                surface_freq=surface_links.select("norm_surface", "freq"),
            ),
        )
        return triples
    except _StopAfter:
        # simulated kill for resume tests: stages up to stop_after are
        # committed, everything later is not.
        return None


class _StopAfter(Exception):
    pass
