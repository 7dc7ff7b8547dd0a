"""Upsert / MERGE (SURVEY.md §2.1 S9-S10).

The reference upserts Gold tables with Delta ``MERGE``
(silver_to_gold_on_minio.py:127-144): update-all when matched on key,
insert-all otherwise. Semantically that is::

    result = new  ∪  (target ⟕anti new on key)

which is exactly expressible in the DataFrame API (one shuffled hash
anti-join + union), so the engine offers:

- :func:`merge_upsert_df` — the pure-DataFrame semantics (works on any
  source; used by the oracle-checked query registry);
- :func:`_commit_state` / :func:`_recover_state` — the crash-safe
  directory swap that the parquet MERGE writers (``pipelines._upsert``,
  the streaming sinks) replace a table with;
- :func:`upsert_delta`   — the transactional Delta path
  (``DeltaTable.merge``) when delta-spark is importable, mirroring the
  reference's create-if-absent / merge-else branch (S2G:127-144,
  ``DeltaTable.isDeltaTable`` probe at S2G:132).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def scd2_versions(
    df,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tiebreak_cols: list[str] | None = None,
):
    """Slowly-changing-dimension type 2: turn a change log into
    versioned rows with validity intervals — the warehouse pattern
    behind MERGE-based dims (the reference's MERGE keeps only the
    latest row; SCD2 keeps history).

    Consecutive rows per key with IDENTICAL attributes collapse into
    one version: a NULL-safe lag compare (``eqNullSafe`` = SQL IS
    DISTINCT FROM, so genuine NULL attributes don't break runs) flags
    changes, a running sum turns flags into a 1-based ``version_seq``,
    and each version gets valid_from = its first ts, valid_to = the
    next version's valid_from (NULL while current) plus an is_current
    flag. ``version_seq`` — not valid_from — orders the lead() so two
    versions born on the same timestamp (status flip within one day)
    stay deterministic; pass ``tiebreak_cols`` to pin the within-ts
    row order. Two partitioned windows over the same key shuffle — no
    global ordering anywhere.
    """
    from functools import reduce as _reduce
    from operator import or_ as _or

    from pyspark.sql import Window

    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # First row per key is always a new version — without the explicit
    # marker, a first row whose attributes are ALL NULL would compare
    # null-safe-equal to the lag NULLs and start at version 0.
    first_row = F.lag(F.lit(1)).over(w).isNull()
    changed = F.when(
        first_row
        | _reduce(
            _or,
            [~F.col(c).eqNullSafe(F.lag(c).over(w)) for c in attr_cols],
        ),
        1,
    ).otherwise(0)
    runs = df.withColumn(
        "version_seq",
        F.sum(changed)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"),
    )
    versions = runs.groupBy(*key_cols, "version_seq").agg(
        F.min(ts_col).alias("valid_from"),
        # Attributes are constant within a run by construction.
        *[F.min(c).alias(c) for c in attr_cols],
    )
    w2 = Window.partitionBy(*key_cols).orderBy("version_seq")
    return versions.withColumn(
        "valid_to", F.lead("valid_from").over(w2)
    ).withColumn("is_current", F.col("valid_to").isNull())


def merge_upsert_df(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """whenMatchedUpdateAll + whenNotMatchedInsertAll as a DataFrame op.

    Column sets must match. The anti-join shuffles both sides on the
    key — same cost profile as Delta MERGE's inner rewrite.
    """
    untouched = target.join(updates.select(*keys), keys, "left_anti")
    return updates.unionByName(untouched)


# The state-swap protocol: replace a parquet directory that the new
# contents were computed from (a streaming sink's fold state, a gold
# table's MERGE) so that a crash at any point leaves a recoverable
# state on disk. Stage, displace the old directory to ``.old-<id>``,
# rename the staged one into place, then drop the old one; the writer
# calls :func:`_recover_state` before every write.


def _state_orphans(target_path: str) -> list[str]:
    """``.old-<batch_id>`` directory names next to ``target_path``,
    sorted by batch id ascending. Names whose suffix is not an integer
    (a foreign or truncated directory that merely shares the prefix)
    are not part of the swap protocol and are skipped — recovery runs
    before every fold, so raising on them would permanently wedge the
    sink."""
    parent = os.path.dirname(target_path) or "."
    base = os.path.basename(target_path)
    if not os.path.isdir(parent):
        return []
    keyed: list[tuple[int, str]] = []
    for nm in os.listdir(parent):
        if not nm.startswith(base + ".old-"):
            continue
        try:
            keyed.append((int(nm.rsplit("-", 1)[1]), nm))
        except ValueError:
            continue
    return [nm for _, nm in sorted(keyed)]


def _recover_state(target_path: str, ledger: str | None = None) -> None:
    """Crash-window repair for the state-swap protocol, run by the
    WRITER before every fold (Structured Streaming executes one
    foreachBatch at a time per query, and a month's gold MERGE has one
    writer per table, so the writer owns the directory). Each
    ``.old-<id>`` orphan identifies which window the crash hit,
    decided by its batch's ledger marker:

    - marker PRESENT: swap and marker both landed, only the
      post-marker cleanup was lost — the orphan is garbage, drop it
      (left in place, it would wedge a later attempt to displace the
      target under the same name).
    - marker ABSENT, target present: the swap completed but the
      marker write was lost — ROLL BACK (drop the post-fold target,
      restore the pre-fold orphan) so the replayed batch folds
      exactly once instead of double-counting.
    - marker ABSENT, target missing: crash between the two renames —
      restore the orphan so the fold resumes from the last committed
      state instead of silently resetting the monoid.

    Ledger-less writers (HLL register-max, KMV k-min — idempotent
    semilattices — and the gold MERGE, whose re-run of a month is
    idempotent) pass ``ledger=None``: replaying onto post-fold
    state is a no-op by idempotency, so an orphan beside a live
    target is simply dropped and a missing target restores from the
    newest orphan. A stale ``__staging`` dir, in any window, is
    simply overwritten by the replay's staged write."""
    parent = os.path.dirname(target_path) or "."
    pending: list[str] = []
    for nm in _state_orphans(target_path):
        path = os.path.join(parent, nm)
        bid = nm.rsplit("-", 1)[1]
        committed = (
            ledger is not None
            and os.path.exists(os.path.join(ledger, f"batch-{bid}"))
        ) or (ledger is None and os.path.exists(target_path))
        if committed:
            shutil.rmtree(path)
        else:
            pending.append(path)
    if not pending:
        return
    # At most one batch can be in flight, so at most one uncommitted
    # orphan exists; if several somehow do, the newest is the last
    # committed pre-fold state — keep it, drop the rest.
    for path in pending[:-1]:
        shutil.rmtree(path)
    newest = pending[-1]
    if os.path.exists(target_path):
        # Swap landed, marker did not: the target holds an UNRECORDED
        # fold — roll back to the pre-fold state and let the replay
        # fold it once. (A crash inside this rollback re-enters one of
        # the handled windows: no-target ⇒ restore, both ⇒ re-run.)
        shutil.rmtree(target_path)
    os.rename(newest, target_path)


def _commit_state(
    df: DataFrame,
    target_path: str,
    batch_id: int,
    marker: str | None = None,
) -> None:
    """The shared state-swap protocol: write the new fold to a STAGED
    directory (never read + overwrite one path in a single job), swap
    via rename, record the ledger ``marker`` (when the sink's algebra
    needs one), and only THEN drop the displaced state — the marker
    must land while the pre-fold state is still on disk, or a crash
    after the swap would leave an unrecorded fold that a replay
    double-counts and nothing to roll back to. Every crash window
    this leaves open is repaired by :func:`_recover_state`."""
    old = _swap_state_keep_old(df, target_path, batch_id)
    if marker is not None:
        with open(marker, "w") as f:
            f.write("")
    if os.path.exists(old):
        shutil.rmtree(old)


def _swap_state_keep_old(
    df: DataFrame, target_path: str, batch_id: int
) -> str:
    """The swap half of the protocol alone: stage, displace, rename —
    leaving the displaced ``.old-<id>`` state ON DISK and writing no
    marker, so a MULTI-state sink can swap each of its state paths and
    land ONE ledger marker after all of them (the curation composite).
    Until that marker lands, every swap remains rollback-able by
    :func:`_recover_state`; the caller removes the returned old dir
    after the marker. Returns the old-state path.

    The staged directory is ``<target>__staging``: one writer owns the
    target, so one name suffices, and it is the name that the
    benchmark's tracer (``perfbench/tracing.py``) folds into the
    table's write time."""
    staged = f"{target_path}__staging"
    df.write.mode("overwrite").parquet(staged)
    old = f"{target_path}.old-{batch_id}"
    if os.path.exists(old):
        # A leftover from a crashed attempt of this same batch that
        # recovery already resolved — garbage; drop it so the
        # displacement rename below cannot fail on an existing dir.
        shutil.rmtree(old)
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(staged, target_path)
    return old


def upsert_delta(
    spark: SparkSession, updates: DataFrame, target_path: str, keys: list[str]
) -> None:
    """Transactional Delta MERGE (reference parity: S2G:127-144).

    Creates the table on first write (``isDeltaTable`` probe, S2G:132),
    otherwise merges on the composite key. Raises ImportError when
    delta-spark isn't available — callers fall back to
    :func:`merge_upsert_df` + overwrite.

    Environment probe (2026-08-13, round 3): jar resolution was
    attempted with ``spark.jars.packages=io.delta:delta-spark_2.13:
    4.0.0`` — Ivy fails with ``unresolved dependency … not found``
    (the harness has no network and no local ivy/m2 cache, no delta
    jar anywhere on disk, and no ``delta`` Python package). The
    parquet-semantics twin (:func:`merge_upsert_df`, oracle-verified
    as ``merge_upsert_orders``) therefore remains the executed path;
    this function is the cluster-deployment surface.
    """
    from delta.tables import DeltaTable  # gated import (harness has no delta jars)

    if not DeltaTable.isDeltaTable(spark, target_path):
        updates.write.format("delta").mode("overwrite").save(target_path)
        return
    cond = " AND ".join(f"t.{k} = u.{k}" for k in keys)
    (
        DeltaTable.forPath(spark, target_path)
        .alias("t")
        .merge(updates.alias("u"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Clustered parquet layout: ``repartitionByRange`` on the cluster
    keys (each output file owns a disjoint key range) + ``sortWithin
    Partitions`` (rows inside each file are ordered, so every row
    group's min/max stats span a narrow slice).

    Why it matters at 100 TB: parquet readers prune at two levels from
    footer statistics — whole files (via min/max in the scan's file
    listing) and row groups inside a file. On an unclustered write,
    every file's min/max spans the whole domain and NOTHING prunes; on
    this layout a selective predicate on the cluster key touches only
    the files whose range overlaps — the poor man's Z-order, and the
    right default for append-only fact tables keyed by time. Verified
    in tests by reading the written footers with pyarrow.
    """
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(parts, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_evolved(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_cols: list[str] | None = None,
) -> None:
    """S8 — schema-evolving overwrite (``overwriteSchema=true``,
    B2S:170; S2G:189,209,219).

    On Delta the option rewrites the table schema transactionally; on
    parquet a full overwrite replaces the files so the new schema wins
    by construction. For *additive* evolution across appends, read back
    with ``mergeSchema`` (:func:`read_merged_schema`).
    """
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if fmt == "delta":
        w = w.option("overwriteSchema", "true")
    w.format(fmt).save(path)


def read_merged_schema(spark: SparkSession, path: str):
    """Union-of-schemas read over heterogeneous parquet footers —
    the read-side half of additive schema evolution."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    dynamic: bool = True,
) -> None:
    """S6/S7 — partitioned sink with dynamic partition overwrite
    (B2S:168-185; conf at B2S:132): only partitions present in the
    batch are replaced, the monthly-incremental idiom.

    The mode goes on the writer as the ``partitionOverwriteMode``
    option, set explicitly both ways, and never into the session conf:
    a session-wide setting would leak into every later write (a static
    caller after a dynamic one would overwrite nothing on an empty
    batch and leave stale partitions on disk), and writers running on
    concurrent driver threads would race on it."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
        .partitionBy(*partition_cols)
        .format(fmt)
        .save(path)
    )


def table_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet table directory —
    driver-side Hadoop FS listing (metadata only, no data read),
    recursing into partition subdirectories."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    n, total = 0, 0
    it = fs.listFiles(p, True)  # recursive
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        n += 1
        total += st.getLen()
    return n, total


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction — Delta/Iceberg ``OPTIMIZE`` semantics on
    a plain parquet table: rewrite the table into
    ``ceil(total_bytes / target_file_bytes)`` files, optionally
    re-sorting rows within files (sortWithinPartitions — keeps min/max
    footer ranges tight for pruning, the write_clustered property).

    Why this is a first-class 100 TB operator: streaming/incremental
    sinks accrete thousands of tiny files per partition; every
    downstream scan then pays one task + one footer read PER FILE, and
    the NameNode/listing cost grows unboundedly. Compaction is the
    standing maintenance job that restores scan efficiency.

    Mechanics: ONE metadata listing sizes the table (no data read),
    one read→repartition(n)→overwrite pass rewrites it. Because the
    plan reads the very files the overwrite deletes, the data stages
    through an eager localCheckpoint (executor memory+local disk)
    before the write — fine for per-partition / per-table maintenance
    batches, but a 100 TB whole-table compaction should loop this
    operator over partitions (each batch bounded by executor local
    storage) or stage via a temp directory + rename. A temp-dir
    atomic-ish swap is NOT attempted here — plain parquet has no
    transaction log, so the overwrite is the same non-atomic contract
    every other overwrite in this layer has (the Delta-native path is
    the declared environment boundary).

    Returns (files_before, files_after).
    """
    import math

    n_before, total = table_file_stats(spark, path)
    n_target = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    if sort_within_by:
        # Range-partition + sort-within (the write_clustered shape):
        # output files carry DISJOINT min/max ranges on the sort key,
        # so later scans prune files, not just row groups. A plain
        # repartition(n) would round-robin rows and leave every
        # file's range spanning the whole table.
        out = df.repartitionByRange(n_target, *sort_within_by)
        out = out.sortWithinPartitions(*sort_within_by)
    else:
        out = df.repartition(n_target)
    # Materialize BEFORE overwriting the source directory: the plan
    # reads the very files the overwrite deletes.
    rows = out.localCheckpoint(eager=True)
    rows.write.mode("overwrite").parquet(path)
    n_after, _ = table_file_stats(spark, path)
    return n_before, n_after
