"""Canonicalization stage (SURVEY.md §2.E G1–G8).

Spec: BASELINE.json:6 — "canonicalization as clustering over the
entity-mention similarity graph (connected components / iterative label
propagation on a salted-key edge DataFrame)" with "skew salting for hot
entities".

Scale design:
- The similarity graph is relational: an edge DataFrame, processed with
  iterative joins — no GraphX/GraphFrames (not available, SURVEY §1.1).
- Connected components = iterative min-label propagation. Each round is
  join + **salted two-phase min-aggregation** (hot entities have huge
  degree — Zipf skew — so the partial aggregate runs on (node, salt)
  first, collapsing hot keys before the final per-node min; AQE only
  splits skewed *joins*, not aggregations, hence the explicit salt).
- ``localCheckpoint(eager=True)`` every round truncates the logical
  plan — without it Catalyst re-optimizes a plan that doubles per
  iteration and the job dies at scale (SURVEY §4, the one place naive
  Spark falls over).
- Convergence: count of changed labels per round (a driver action per
  round, O(log diameter) rounds; star-shaped link graphs converge in
  ≤2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from canonicity_spark import session

ENT_PREFIX = "ent:"


SURF_PREFIX = "surf:"

#: Edge-count bound under which connected_components finishes on the
#: driver (see its docstring). 2^20 edges collect as ~32 MB of Arrow —
#: bounded, never data-scale: the vocabulary contraction upstream
#: (build_edges runs on distinct surfaces, not mentions) already did
#: the distributed size reduction, exactly the "contract big, finish
#: the small remainder centrally" CC shape from the MapReduce-CC
#: literature. Above the bound the iterative distributed kernel runs.
DRIVER_CC_MAX_EDGES = 1 << 20


def build_edges(surface_links: DataFrame) -> DataFrame:
    """G1/G2 — the similarity graph, at *surface* granularity.

    Scale decision: clustering runs over the distinct-surface vocabulary
    (``surf:<norm_surface>`` ↔ ``ent:<entity_id>`` edges), NOT over
    individual mentions. Every linking signal is a function of the
    normalized surface (link.py resolves per distinct surface), so the
    mention-level graph is the surface-level graph with each surface
    node replicated once per occurrence — same components, 10^6-ish
    nodes instead of 10^12. Mentions get their component label back via
    a single equi-join in mention_entity_map. Node namespaces (surf:/
    ent:) keep ids collision-free. Canonical edge form: src < dst, no
    self-loops, deduped.
    """
    raw = surface_links.select(
        F.concat(F.lit(SURF_PREFIX), F.col("norm_surface")).alias("a"),
        F.concat(F.lit(ENT_PREFIX), F.col("entity_id")).alias("b"),
        F.col("score").alias("w"),
        F.lit("link").alias("etype"),
    )
    return (
        raw.select(
            F.least("a", "b").alias("src"),
            F.greatest("a", "b").alias("dst"),
            "w",
            "etype",
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _salted_min(df: DataFrame, key: str, value: str, n_salts: int) -> DataFrame:
    """G6 — two-phase min aggregation: partial min on (key, salt) then
    final min on key. Salt is derived from the *value* so rows of a hot
    key spread across reducers in phase one."""
    partial = (
        df.withColumn("_salt", F.pmod(F.xxhash64(F.col(value)), F.lit(n_salts)))
        .groupBy(key, "_salt")
        .agg(F.min(value).alias(value))
    )
    return partial.groupBy(key).agg(F.min(value).alias(value))


def _driver_union_find(spark, pdf, node_t) -> DataFrame:
    """Small-graph finish: union-find with min-root merge over already-
    collected (src, dst) rows — the root of every set is its minimum
    node id, so the result is bit-identical to converged min-label
    propagation (UTF-8 byte order, which Spark's string min uses,
    equals code-point order, which Python's ``<`` uses). Output sorted
    for cross-run determinism of the materialized layout, and returned
    as an Arrow-built LocalRelation (createDataFrame from pandas),
    which — unlike a parallelized list, whose default size estimate is
    Long.Max — carries its real byte size, so downstream joins against
    the labels (M1's vocabulary-map broadcast, curate/streaming
    representative joins) keep auto-broadcasting exactly as they do
    when the labels arrive from a parquet stage read."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["src"], pdf["dst"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    schema = StructType(
        [StructField("node", node_t, False), StructField("label", node_t, False)]
    )
    rows = sorted((n, find(n)) for n in list(parent))
    out = pd.DataFrame(rows, columns=["node", "label"])
    return spark.createDataFrame(out, schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    n_salts: int = 16,
    use_salting: bool = True,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """G3/G5 — labels(node, label), label = min node id in the component.

    Generic min-label propagation over an undirected edge list;
    semantically identical with salting on or off (tested as a property
    in tests/props). Returns after the first round with zero changes.

    Two-level execution (round 6): when the edge set is at most
    ``driver_max_edges`` rows, the components are finished with a
    driver-side union-find instead of the iterative loop — the same
    runtime size-based strategy choice a broadcast-join threshold makes,
    with the same character: the SMALL side is bounded (≤ ~32 MB of
    Arrow at the default), output is identical (pinned by unit +
    property tests against the distributed path), and the distributed
    kernel remains the path for graphs above the bound. Why it matters:
    each propagation round is a driver-blocking join + aggregate +
    convergence count, so a vocabulary-scale graph (the pipeline's case
    — build_edges contracts mentions to distinct surfaces first) paid
    ~6-10 scheduling round-trips of pure latency; that latency is the
    pipeline's largest parallelism-independent cost, which a cluster
    cannot scale away. ``max_iter`` stays a distributed-loop safeguard
    (G4): the driver path always returns converged labels, and no
    caller uses the cap to request partial propagation.

    ``stats``: optional dict the call fills with {"path": "driver" |
    "distributed", "rounds": N} — observability for benches (VERDICT
    round 6 #6: the graded bench always takes the driver path, so the
    iterative kernel's wall and round count were measured nowhere).
    """
    spark = edges.sparkSession
    if driver_max_edges > 0:
        # One fetch decides the strategy AND feeds the small path: pull
        # at most bound+1 rows; if the limit wasn't hit, those rows ARE
        # the edge set and the union-find runs on them directly — the
        # round-6 shape (count() then toPandas()) executed the whole
        # edge-producing DAG twice when the frame wasn't pinned (e.g.
        # streaming/curate candidate joins).  LIMIT is only
        # order-unstable in WHICH rows it keeps past the cutoff; below
        # the cutoff it returns the complete set, so determinism is
        # unaffected on the path that uses the rows.
        probe = (
            edges.select("src", "dst").limit(driver_max_edges + 1).toPandas()
        )
        if len(probe) <= driver_max_edges:
            if stats is not None:
                stats.update(path="driver", rounds=1)
            return _driver_union_find(
                spark, probe, edges.schema["src"].dataType
            )
    # Round 8: the distributed loop runs with AQE's parallelismFirst
    # RESTORED for its duration. The session default
    # (parallelismFirst=false, see session.py) is right for the
    # pipeline's vocabulary-scale stages — but those take the driver
    # union-find; every graph that reaches THIS loop is >driver_max_edges
    # (≥ 2^20 edges), where size-first coalescing collapsed each round's
    # ~100 MB aggregate shuffle to 1-3 tasks on a 32-core host (event-
    # log measured: 8-11 s stage walls carrying 10-25 s of CPU each —
    # the whole kernel was running nearly serial).
    with session.scoped_conf(
        edges.sparkSession, **{session.PARALLELISM_FIRST: "true"}
    ):
        return _cc_distributed_loop(
            edges, max_iter, n_salts, use_salting, stats
        )


def _cc_distributed_loop(
    edges: DataFrame,
    max_iter: int,
    n_salts: int,
    use_salting: bool,
    stats: dict | None,
) -> DataFrame:
    """The iterative min-label-propagation kernel (see
    connected_components — this body only runs above the driver bound)."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(eager=True)
    # Round 8: the per-round propagation join is a sortless
    # SHUFFLE_HASH join (build = node-scale labels, stream = edges;
    # per-partition build is |V|/partitions rows — bounded, and
    # spill-safe at the scale a vocabulary/pair graph reaches after
    # upstream contraction) — the round-7 kernel sort-merge-joined,
    # re-SORTING the 2|E| edge rows every round. The edge table is
    # balanced-repartitioned before its one-time checkpoint so the
    # round scans read even splits; note an AQE-planned checkpoint does
    # NOT preserve the hash partitioning (LogicalRDD reports
    # UnknownPartitioning — verified in plans/r08/cc_round_after.txt),
    # so each round still exchanges the edge rows once; the win over
    # round 7 is the removed sorts and the restored parallelism, not a
    # removed exchange.
    n_part = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
    )
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(n_part, "src")
        .localCheckpoint(eager=True)
    )

    _i = -1  # bound even when max_iter < 1 (ADVICE round 7)
    for _i in range(max_iter):
        # propagate each node's label to its neighbors
        nbr = (
            sym.join(labels.hint("SHUFFLE_HASH"), sym.src == labels.node, "inner")
            .select(F.col("dst").alias("node"), "label")
        )
        # Fused round (round 7): the node's OLD label rides the
        # aggregate as min(label WHERE self-leg) — every node has
        # exactly one self row, so the convergence test becomes a
        # filter over the aggregate's own output instead of a
        # new-vs-old equi-join. The round-6 shape recomputed the
        # unmaterialized aggregate inside that join and sort-merged
        # two node-scale tables per round — measured at 2^21 edges:
        # 44s/round, of which the changed-count join alone was 22s;
        # fused + per-round localCheckpoint it is ~6s/round. The
        # checkpoint also replaces the old every-3-rounds lineage
        # truncation (now every round, since the convergence count
        # forces a materialization anyway).
        cand = labels.withColumn("_self", F.lit(True)).unionByName(
            nbr.withColumn("_self", F.lit(False))
        )
        if _i > 0:
            # Pointer-doubling shortcut leg (round 8, SURVEY §2.E G3 /
            # VERDICT round 7 #3): l(l(v)) joins the round's
            # min-aggregate alongside the one-hop neighbor minimum.
            # Every label IS a node id of the same component (labels
            # start as node ids and only ever take existing node-id
            # values), so the label->node join is total and the
            # shortcut stays inside the component. Label paths halve
            # per round: rounds drop from O(diameter) to O(log
            # diameter) on chain-shaped components, at the cost of one
            # extra node-scale shuffled-hash join per round. Skipped in
            # round 0, where labels == nodes makes l(l(v)) == l(v) —
            # two shuffles of pure identity rows.
            lab2 = labels.select(
                F.col("node").alias("_ln"), F.col("label").alias("_ll")
            )
            shortcut = (
                labels.join(
                    lab2.hint("SHUFFLE_HASH"), labels.label == lab2._ln, "inner"
                )
                .select("node", F.col("_ll").alias("label"))
            )
            cand = cand.unionByName(shortcut.withColumn("_self", F.lit(False)))
        old_min = F.min(F.when(F.col("_self"), F.col("label")))
        if use_salting:
            # G6 two-phase salted min (salt from the VALUE so a hot
            # node's rows spread across reducers), both measures
            # carried through the partial: min label overall + min
            # label of the self leg (present in exactly one salt
            # group; min ignores the others' NULLs)
            partial = (
                cand.withColumn(
                    "_salt", F.pmod(F.xxhash64(F.col("label")), F.lit(n_salts))
                )
                .groupBy("node", "_salt")
                .agg(F.min("label").alias("label"), old_min.alias("_old"))
            )
            agg = partial.groupBy("node").agg(
                F.min("label").alias("label"), F.min("_old").alias("_old")
            )
        else:
            agg = cand.groupBy("node").agg(
                F.min("label").alias("label"), old_min.alias("_old")
            )
        agg = agg.localCheckpoint(eager=True)
        changed = agg.filter(F.col("label") != F.col("_old")).count()
        labels = agg.select("node", "label")
        if changed == 0:
            break
    if stats is not None:
        stats.update(path="distributed", rounds=_i + 1)
    return labels


def component_entity(labels: DataFrame) -> DataFrame:
    """Map each component to its entity id: the entity node in the
    component (min entity id if an over-merge ever produced several —
    deterministic either way). Returns (label, entity_id)."""
    ent_nodes = labels.filter(F.col("node").startswith(ENT_PREFIX))
    # fixed-length prefix strip, not substring_index: entity ids may
    # contain 'ent:' as a substring (NIL proto-entities 'new:<surface>'
    # derive from arbitrary text), which substring_index would truncate.
    min_node = ent_nodes.groupBy("label").agg(F.min("node").alias("_min_node"))
    return min_node.select(
        "label",
        F.col("_min_node")
        .substr(F.lit(len(ENT_PREFIX) + 1), F.length("_min_node"))
        .alias("entity_id"),
    )


def surface_entity_map(labels: DataFrame) -> DataFrame:
    """(norm_surface, entity_id): every surface node resolved through
    its component's entity node."""
    comp_ent = component_entity(labels)
    return (
        labels.filter(F.col("node").startswith(SURF_PREFIX))
        .join(comp_ent, "label", "inner")
        .select(
            F.col("node").substr(F.lit(len(SURF_PREFIX) + 1), F.length("node")).alias(
                "norm_surface"
            ),
            "entity_id",
        )
    )


def mention_entity_map(mentions: DataFrame, labels: DataFrame) -> DataFrame:
    """(mention_id, entity_id): fan the surface-level component labels
    back out to mentions — one shuffled equi-join on norm_surface (the
    surface map is vocabulary-sized and usually broadcastable, but the
    optimizer/AQE decides since its size is data-dependent)."""
    smap = surface_entity_map(labels)
    return mentions.select("mention_id", "norm_surface").join(
        smap, "norm_surface", "inner"
    ).select("mention_id", "entity_id")


def canonical_entities(
    surface_map: DataFrame,
    mentions: DataFrame,
    entity_pool: DataFrame | None,
    surface_freq: DataFrame | None = None,
) -> DataFrame:
    """G7/G8 — entities(entity_id, canonical_name, aliases, n_mentions).

    Scale shape: the only mention-scale operation is one map-side-
    combined groupBy(norm_surface) count — and even that is skipped
    when ``surface_freq`` (norm_surface, freq) is supplied, e.g. from
    the surface_links stage table which carries the frequency the
    linker already aggregated (the pipeline passes it; round 4 — the
    round-3 entities stage re-scanned the mention-scale table for a
    count the link stage had already computed). Everything after runs
    on the vocabulary (surface_map join, per-entity collect/max_by).
    No mention-scale join or collect ever happens.

    canonical_name: the pool's name for known entities (broadcast join);
    otherwise the most frequent surface (max_by over (freq, surface) —
    deterministic tie-break). aliases: sorted distinct surfaces (G8).
    """
    if surface_freq is None:
        surface_freq = mentions.groupBy("norm_surface").agg(
            F.count("*").alias("freq")
        )
    surf_freq = surface_map.join(surface_freq, "norm_surface", "inner")
    per_entity = surf_freq.groupBy("entity_id").agg(
        F.max_by(
            "norm_surface", F.struct(F.col("freq"), F.col("norm_surface"))
        ).alias("top_surface"),
        F.array_sort(F.collect_set("norm_surface")).alias("aliases"),
        F.sum("freq").alias("n_mentions"),
    )
    if entity_pool is not None:
        # no forced broadcast: the known-entity pool is usually small,
        # but at web scale it can be 10^8 rows — let the optimizer/AQE
        # broadcast when it fits the threshold and shuffle-join (even,
        # high-cardinality entity_id key) when it doesn't, same policy
        # as the M1 surface-map joins
        per_entity = per_entity.join(
            entity_pool.select("entity_id", "canonical_name"),
            "entity_id",
            "left",
        )
    else:
        per_entity = per_entity.withColumn(
            "canonical_name", F.lit(None).cast("string")
        )
    return per_entity.select(
        "entity_id",
        F.coalesce("canonical_name", "top_surface").alias("canonical_name"),
        "aliases",
        F.col("n_mentions").cast("long"),
    )


def run(
    surface_links: DataFrame,
    max_iter: int = 20,
    use_salting: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Returns (labels, surface_entity_map) — both vocabulary-sized."""
    edges = build_edges(surface_links)
    labels = connected_components(edges, max_iter=max_iter, use_salting=use_salting)
    return labels, surface_entity_map(labels)
