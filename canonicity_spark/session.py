"""SparkSession construction with the configs the pipeline relies on.

Scale posture (BASELINE.json:14 — 10^12-document clusters, N vs 4N
executors): every knob here is one that matters identically on a real
multi-executor cluster; local[K] is only the sandbox substitution for
executor count. AQE handles runtime coalescing and skew-join splitting;
app-level salting (canonicalize.py) covers skewed aggregations, which
AQE does not.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: AQE coalescing mode: false (size-first) is the session default below;
#: candidate-scale kernels scope it back to true (``scoped_conf``).
PARALLELISM_FIRST = "spark.sql.adaptive.coalescePartitions.parallelismFirst"

DEFAULT_CONF: dict[str, str] = {
    # AQE: runtime re-plan — coalesce small shuffle partitions, split
    # skewed join partitions. Free wins at every scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst (default true) keeps shuffle partitions tiny "for
    # parallelism", defeating coalescing; the pipeline has many
    # vocabulary-scale shuffles where 64 near-empty tasks cost more than
    # the work — let AQE actually coalesce to the advisory size.
    PARALLELISM_FIRST: "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # NOTE on spark.sql.optimizer.canChangeCachedPlanOutputPartitioning:
    # tried globally (it lets AQE coalesce inside cached subtrees, and
    # the vocabulary-scale LINK stage is latency-bound on near-empty
    # 64-partition task waves: 4.8s -> 2.5s measured) — but it
    # catastrophically regresses candidate-scale cached plans (curate's
    # near_pairs: 25s -> 200s+, the re-planned cache missing reuse), so
    # it is scoped per-stage in pipeline.run instead of set here.
    # Arrow path for every pandas UDF (BASELINE.json:15 mandates
    # vectorized UDFs; this is the JVM<->Python batch transport).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Reuse Python workers so iterator-UDF state (gazetteers, models)
    # is loaded once per worker, not once per batch. (reuse=false was
    # tried against the stall below and did not prevent it, while
    # costing ~1s of pyspark+pandas imports per task — ~70s/run at
    # local[2].)
    "spark.python.worker.reuse": "true",
    # Stall reaper #1 — purpose-built for the wedge observed here
    # (~2/3 of long local[2] runs): JVM parked in readMessageBody on a
    # half-received Arrow message, worker parked in recv, both forever.
    # After the idle timeout without transfer activity Spark declares
    # the worker unresponsive and kills it; the task fails and retries
    # on a fresh worker (local[K,4] allows 4 attempts), costing minutes
    # instead of wedging a multi-hour run. Default 120s: every Python
    # kernel here processes a <=10k-row Arrow batch in ~2s, so even 60
    # quiet seconds means a wedged socket — but a user corpus with a
    # pathologically large document (or a heavily loaded host) could
    # legitimately compute longer, and a too-tight reaper kills all 4
    # attempts deterministically (ADVICE round 4). The bench/scaling
    # harnesses, whose workload is known-small-batch, override to 60s
    # via SPARK_GRAFT_IDLE_TIMEOUT to halve the stall penalty there.
    "spark.python.worker.idleTimeoutSeconds": os.environ.get(
        "SPARK_GRAFT_IDLE_TIMEOUT", "120"
    ),
    "spark.python.worker.killOnIdleTimeout": "true",
    # A Python worker that dies mid-task dumps its stack instead of
    # leaving the JVM blocked on a half-read Arrow message with no
    # trace (observed once in ~10 runs at local[2] during round 2).
    "spark.python.worker.faulthandler.enabled": "true",
    # Speculative execution as the stall reaper: the Arrow socket stall
    # above wedges one task forever (JVM mid-readMessageBody, worker in
    # recv) while every other slot idles. A speculative copy on another
    # slot finishes the stage; the task commit protocol keeps exactly
    # one output and the kernels are deterministic, so duplicated work
    # is byte-identical. On a real cluster this also covers slow/sick
    # executors. multiplier 4 / quantile 0.75: only clear outliers
    # respawn (a healthy 60-task stage never triggers it).
    "spark.speculation": "true",
    "spark.speculation.multiplier": "4",
    "spark.speculation.quantile": "0.75",
    "spark.speculation.interval": "1s",
    # Nested-schema pruning: project only the span fields we touch so
    # the parquet scan of array<struct> reads fewer pages.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Broadcast threshold: alias dictionaries are explicitly
    # F.broadcast()-ed, so the default threshold only guards accidents.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timezone for timestamp oracle comparisons.
    "spark.sql.session.timeZone": "UTC",
    # zstd over snappy: ~2x smaller stage tables. Storage bytes are the
    # scarce serial resource (disk/network); compression CPU is the
    # abundant parallel one — at 100 TB this is also just the right
    # codec for data at rest.
    "spark.sql.parquet.compression.codec": "zstd",
    # Split scans finer than the 128MB default: local corpora are a few
    # hundred MB at most, and UDF-heavy stages need >= cores input
    # splits to use the machine. On a real cluster with TB-scale inputs
    # this knob is left at the site default — file count dominates.
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    # Push large IN lists into the parquet scan as real In predicates
    # instead of the min/max range the 10-value default degrades them
    # to — a range is useless on uniformly-hashed probe keys, while an
    # In evaluates against row-group bloom filters and min/max stats
    # (the streaming archive probes, similarity.prune_to_values: probe
    # IO bounded by batch-touched row groups, not archive size). The
    # list is micro-batch-sized by construction (MAX_PROBE_VALUES cap).
    "spark.sql.parquet.pushdown.inFilterThreshold": str(70000),
}


@contextmanager
def scoped_conf(spark: SparkSession, **kv: str) -> Iterator[None]:
    """Set session conf keys for the duration of a ``with`` block and
    restore them after it, also when it raises: a key that was unset is
    unset again, a key that was set gets its old value back. Keys are
    dotted, so callers pass ``**{key: value}``."""
    saved = {k: spark.conf.get(k, None) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _cap_local_threads(master: str | None) -> str | None:
    """Local mode only: never run executor threads on every host core.

    Measured on this 32-vCPU host: a pandas-UDF stage takes 12s at
    local[24]/local[28] but 35-75s at local[32] — with all vCPUs taken
    by task threads, the Python UDF workers, the JVM's Arrow-pump /
    shuffle / GC threads, and the scheduler starve each other. A real
    cluster never gives one executor every core of a host for the same
    reason; this applies that sizing rule to local mode. Disable with
    SPARK_GRAFT_LOCAL_CORE_CAP=0.
    """
    if not master or not master.startswith("local[") or master == "local[*]":
        return master
    if os.environ.get("SPARK_GRAFT_LOCAL_CORE_CAP", "1") == "0":
        return master
    try:
        k = int(master.split("[")[1].rstrip("]"))
    except ValueError:
        return master
    ncpu = os.cpu_count() or 32
    if k >= ncpu and ncpu > 8:
        k = ncpu - 4
    # local[K, 4]: allow task retries like a real cluster
    # (spark.task.maxFailures defaults to 4 there but to 1 in local
    # mode) — a transient Python-worker death must not kill a
    # multi-hour run when the stage catalog would resume it anyway.
    return f"local[{k},4]"


def _local_core_count(master: str | None) -> int:
    """Core count from a local master, incl. the ``local[K,F]`` retry form.

    ``_cap_local_threads`` rewrites ``local[K]`` -> ``local[K,4]``; the
    shuffle-partition heuristic must parse the core count *before* the
    comma or it silently falls back to 32 (ADVICE round 1).
    """
    if not master or "[" not in master:
        return 32
    inner = master.split("[", 1)[1].rstrip("]").split(",")[0].strip()
    if inner == "*":
        return os.cpu_count() or 32
    try:
        return int(inner)
    except ValueError:
        return 32


def build(
    app_name: str = "canonicity_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    in the sandbox; under spark-submit it is supplied externally and we
    never override it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    master = _cap_local_threads(master)
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    # Shuffle/spill scratch space. In local mode everything lands on one
    # shared disk whose bandwidth does NOT scale with task threads — on
    # a real cluster each executor brings its own local disks, so I/O
    # bandwidth scales with executor count. SPARK_GRAFT_LOCAL_DIR (e.g.
    # a tmpfs path) removes that single-disk sandbox artifact; round 8:
    # when the env var is UNSET, local mode now defaults to a tmpfs
    # scratch dir itself (/dev/shm) when one is writable — measured on
    # the contended sandbox disk: near_pairs e2e 16.8s -> 13.2s min-of-3
    # (the SQL metrics showed ~28s of cumulative shuffle-write time per
    # query going to the shared disk). Set SPARK_GRAFT_LOCAL_DIR to a
    # disk path (or to "" to keep Spark's default) to opt out; cluster
    # deployments supply spark.local.dir themselves (executor-local
    # SSDs), so this default is local-mode-only.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and master and master.startswith("local"):
        shm = "/dev/shm"
        if os.path.isdir(shm) and os.access(shm, os.W_OK):
            local_dir = os.path.join(shm, "canonicity-spark-local")
            os.makedirs(local_dir, exist_ok=True)
    if local_dir:
        conf.setdefault("spark.local.dir", local_dir)
    if master and master.startswith("local"):
        # local mode = driver JVM does all executor work; the 1g default
        # heap GC-thrashes once tens of task threads run concurrently.
        # On a cluster spark-submit supplies executor/driver memory.
        # 16g, not bigger: G1 on very large heaps (32g+) showed longer
        # write-stage walls here (bigger young-gen pauses); 8-16g was
        # consistently fastest for this workload's churn profile.
        conf.setdefault(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    if shuffle_partitions is None:
        # 2x cores locally; AQE coalesces down. On a cluster this is set
        # per-job relative to total executor cores.
        n = _local_core_count(master)
        shuffle_partitions = max(8, 2 * n)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
