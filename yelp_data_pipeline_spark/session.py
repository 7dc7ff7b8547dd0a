"""SparkSession factory.

The reference runs Spark 3.3 standalone with zero query-level tuning
(`/root/reference/mnt/spark-conf/spark-defaults.conf` is S3A/Delta wiring
only). Here we own the session and turn on everything Catalyst gives us
for free at scale: AQE (runtime coalescing, skew-join splitting,
broadcast demotion), Arrow for the few pandas-UDF paths, and a shuffle
partition count sized for the local harness but overridable for a real
cluster via environment.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# Multi-consumer relations persisted inside operators (MinHash
# signatures, LSH pre-projections, rank value-counts). The operator
# cannot unpersist them itself — the returned plan still references the
# cached relation — so they register here and the *driver* of the
# session (bench loop, oracle sweep, pipeline entry point, test
# teardown) releases them once the consuming action has materialized.
_TRACKED_PERSISTS: list[DataFrame] = []


def track_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """persist() + register for deferred release via release_tracked().

    Contract: callers of operators that use this must call
    ``release_tracked()`` after materializing the returned plan;
    long-lived sessions otherwise accumulate cached blocks (executor
    storage pressure at scale).
    """
    out = df.persist(level)
    _TRACKED_PERSISTS.append(out)
    return out


def release_tracked(blocking: bool = False) -> int:
    """Unpersist every tracked relation; returns how many were released.

    SINGLE-DRIVER CONTRACT: the registry is process-global and this
    releases EVERYTHING tracked, so exactly one driver loop per
    process may own the build→materialize→release cycle. Calling it
    between building and materializing two plans (or from a second
    thread) unpersists relations a still-pending plan depends on —
    correct results, but a silent full recompute of e.g. a MinHash
    signature relation. All in-repo drivers (bench, check_oracle,
    pipelines, test teardown) follow the pattern: materialize every
    consuming action first, release once at the end of the unit of
    work. For concurrent-session deployments, scope tracking per
    driver (snapshot ``_TRACKED_PERSISTS[:]`` before building, release
    only that slice) rather than sharing this global.

    Only :func:`track_persist` relations are released. Blocks of a
    ``localCheckpoint`` — :func:`cut_lineage` and the rounds and
    labels of the distributed connected-components path in
    operators/graph.py (its driver path checkpoints nothing) — are
    not tracked here:
    they stay until their RDD is garbage-collected or the session
    stops."""
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def cut_lineage(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` — materialize NOW and replace the
    logical plan with a scan of the checkpointed blocks.

    :func:`track_persist` alone is NOT enough for a slim relation with
    several expensive-to-derive consumers: every consumer still embeds
    the full producing subtree in its analyzed/optimized plan (plan
    audits count the whole lineage once per consumer), and when
    consumers materialize CONCURRENTLY — Spark broadcasts each
    ``crossJoin(broadcast(x))`` arm on its own thread — two of them
    can race past the not-yet-populated cache and BOTH compute the
    subtree (the `customer_golden_records` 550-join lesson,
    operators/graph.py:258, applied to eval panes). An eager local
    checkpoint computes the relation exactly once, up front, and
    every consumer plans against the materialized blocks.

    Trade: blocks are owned by the RDD (freed on GC/session stop, not
    by release_tracked), and lineage-based recomputation after
    executor loss is off for this relation — the right trade for
    slim, cheap-to-restore relations (pair lists, label maps) with
    multiple consumers. Do NOT use on wide relations (the text/body
    columns would be copied into block storage)."""
    return df.localCheckpoint(eager=True)


# Logical operators that introduce a shuffle boundary: below any of
# these, output width comes from spark.sql.shuffle.partitions, not
# from the input split count, so the single-split guard is moot — and
# probing .rdd on such plans costs FULL physical planning + codegen of
# the subtree only to throw it away (measured 3.2s of pure driver time
# per call on the hashed-embedding plan at sf0.1).
#
# LogicalRDD is deliberately NOT here (r18, closing the r17 hole the
# advisor flagged): a checkpointed slim relation can carry 1-2
# partitions into a CPU-heavy map — exactly the shape the guard exists
# for — and probing .rdd on a narrow LogicalRDD-rooted plan is cheap
# (ExistingRDD scan, no file listing, trivial planning).
_WIDTH_NODES = (
    "Join",
    "Aggregate",
    "Distinct",
    "Deduplicate",
    "Repartition",
    "RepartitionByExpression",
    "RebalancePartitions",
    "Window",
    "Sort",
)


def _narrow_plan(jplan) -> bool:
    """True iff the analyzed logical plan contains no shuffle-
    introducing operator — i.e. it is a scan + narrow ops, the one
    shape where a single input split serializes everything AND where
    the .rdd partition probe is cheap to plan. A ~dozen py4j calls,
    versus seconds of physical planning for the probe it replaces."""
    name = jplan.getClass().getSimpleName()
    for w in _WIDTH_NODES:
        if name.startswith(w):
            return False
    children = jplan.children()
    for i in range(children.size()):
        if not _narrow_plan(children.apply(i)):
            return False
    return True


def ensure_min_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Guard for CPU-heavy per-row operators (hashing, shingling,
    vector math): a small single-file parquet scan yields ONE input
    split, serializing the whole pipeline on one core no matter how
    many the session has. If the plan is a narrow scan with fewer
    partitions than the session's parallelism, add a round-robin
    repartition — cheap at the sizes where it triggers, and a no-op
    branch on a real cluster where scans already split into many
    partitions. Downstream results are partitioning-insensitive
    (min/sum aggregates, equi-joins).

    Plans that already contain a shuffle boundary (join / aggregate /
    repartition / window) are returned unchanged
    WITHOUT the .rdd partition probe: their width is governed by the
    shuffle-partition count anyway, and the probe's throwaway physical
    planning of a complex subtree is pure driver cost (guide §1.2 —
    measured 3.2s per call on the sf0.1 hashed-embedding plan)."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if not _narrow_plan(df._jdf.queryExecution().analyzed()):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def get_spark(
    app_name: str = "yelp_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    Defaults target the test harness (``local[$SPARK_GRAFT_CPUS]``); on a
    real cluster pass ``master=None`` with an external spark-submit and
    only the SQL confs below apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic wall-clock semantics across engines (DuckDB oracle
        # reads the same parquet without TZ shifts).
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, dynamic broadcast — the scale-path workhorse.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas_udf / mapInPandas paths (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast dims aggressively; AQE demotes if estimates were wrong.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Parquet vectorized reader + pushdown are default-on; keep split
        # size aligned with executor memory at the target SF.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # The external harness runs ANSI ON; default local sessions keep it
        # off for legacy-permissive semantics, but every registry query must
        # also be green under SPARK_GRAFT_ANSI=true (the pre-round sweep
        # runs tools/check_oracle.py both ways — see BASELINE.md protocol).
        .config(
            "spark.sql.ansi.enabled",
            os.environ.get("SPARK_GRAFT_ANSI", "false"),
        )
        # The fixtures store TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in the source layer (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write timestamps as INT64 micros, not the legacy INT96:
        # INT96 carries NO parquet min/max statistics, which silently
        # disables footer-stats data skipping (versioned.py
        # _collect_file_stats / read_version_pruned) and row-group
        # pruning on every timestamp column. Micros is also what
        # Delta/Iceberg write.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Generated classes a warm run compiles again under the default
        # cache of 100, which it evicts cyclically. Measured distinct
        # classes (perfbench inputs, c4): a cold monthly backfill month
        # 120 (bronze_to_silver 40, silver_to_gold 80) plus 23 on the
        # first MERGE month, a perfbench queries pass 126. At 100 a warm
        # month recompiled 114-119 classes (about 2-3 s of Janino and a
        # JIT warm-up of each new class) and a queries pass 114; at 1000
        # a warm month compiles 4 and a queries pass 0. The 4 are the
        # business attribute sample's: Spark names each LIMIT's counter
        # from a JVM-wide sequence, so those plans generate new source
        # on every run. 1000 holds both working sets with room for the
        # cache's per-segment LRU. Static conf: it takes effect on the
        # first session in the JVM.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # InferFiltersFromGenerate synthesizes `size(arr) > 0` from
        # every explode() and predicate pushdown then sinks it below
        # exchanges onto the SCAN — re-running the generator-input
        # expression (tokenize → shingle → array_distinct, the most
        # expensive per-row work in the dedup family) once in the
        # Filter and again in the Generate. r18 measured the filter
        # copy serializing on the pre-repartition single input split:
        # dedup_ngram_pairs 5.3 → 2.3 s, simhash_near_pairs 6.7 →
        # 2.9 s with the rule excluded (plan otherwise identical;
        # results identical — the rule is row-preserving up to the
        # rows explode drops anyway). The duplicated CPU exists at ANY
        # scale/split count; the rows it prunes pre-shuffle (docs too
        # short to shingle) are a negligible fraction of real corpora.
        # Semantics are untouched, so this is safe globally; override
        # via SPARK_EXCLUDED_OPTIMIZER_RULES (empty string restores
        # the default rule set).
        .config(
            "spark.sql.optimizer.excludedRules",
            os.environ.get(
                "SPARK_EXCLUDED_OPTIMIZER_RULES",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
