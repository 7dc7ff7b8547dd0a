"""Window operators (SURVEY.md §2.5).

The reference uses only unpartitioned row_number (W1/W2 — see dims.py).
rank / lag / lead / frames are the "expose for completeness" rows; all
are partitioned windows here, so they scale: each partition key's rows
sort locally after one hash shuffle, no global order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_n_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list,
    n: int = 1,
    rank_alias: str = "rn",
) -> DataFrame:
    """row_number per group → keep first n. The classic top-k-per-key:
    one shuffle on the partition keys, local sort, early filter."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= n)
    )


def with_lag(
    df: DataFrame,
    partition_by: list[str],
    order_by: list,
    col: str,
    alias: str,
    offset: int = 1,
) -> DataFrame:
    """lag over a partitioned window (sessionization building block)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(alias, F.lag(F.col(col), offset).over(w))


def _range_partitioned(
    df: DataFrame, num_range_parts: int | None, *sort_cols
) -> DataFrame:
    """``repartitionByRange`` on ``sort_cols`` (sampled boundaries;
    ascending partition ids hold ascending key ranges, equal keys
    co-locate) with the partition id as ``__pid``."""
    p = int(
        num_range_parts
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return df.repartitionByRange(p, *sort_cols).withColumn(
        "__pid", F.spark_partition_id()
    )


def _prefix_offsets(r: DataFrame, weight) -> tuple[DataFrame, int]:
    """The distributed-rank offset step: ONE bounded driver collect of
    the per-partition subtotals ``weight`` (≤ one row per range
    partition — cluster-config bounded, the same legitimacy class as
    dims.py's deterministic-key path), turned into prefix offsets and
    broadcast back. ``r`` carries ``__pid``; it is persisted, since
    the subtotals and the join both read it, and tracked so the
    session driver releases it after the returned plan materializes.
    Returns (r with ``__off`` attached, the total weight)."""
    from ..session import track_persist

    r = track_persist(r)
    subtotals = dict(r.groupBy("__pid").agg(weight.alias("t")).collect())
    offsets, acc = [], 0
    for pid in sorted(subtotals):
        offsets.append((pid, acc))
        acc += subtotals[pid]
    # Explicit schema: an EMPTY offsets list (empty input frame) would
    # otherwise raise "can not infer schema from empty dataset" — an
    # empty corpus must yield an empty result, not a crash.
    off_df = r.sparkSession.createDataFrame(offsets, "__pid int, __off long")
    return r.join(F.broadcast(off_df), "__pid"), acc


def _unique_ranked(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    num_range_parts: int | None,
) -> tuple[DataFrame, int]:
    """df's (value_col, tiebreak_col) with the per-value count
    ``__cnt``, the global count of smaller values ``__cb`` and the
    1-based unique rank ``__r`` by (value asc, tiebreak asc), plus the
    row total N. Steps 1-6 of :func:`scalable_ranks`."""
    vals = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    rv = _range_partitioned(vals, num_range_parts, F.col(value_col).asc())
    wloc = (
        Window.partitionBy("__pid")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rv = rv.withColumn("__cum_le", F.sum("__cnt").over(wloc))
    rv, n_total = _prefix_offsets(rv, F.sum("__cnt"))
    ranked_vals = rv.select(
        value_col,
        "__cnt",
        (F.col("__off") + F.col("__cum_le") - F.col("__cnt")).alias("__cb"),
    )
    wtie = Window.partitionBy(value_col).orderBy(tiebreak_col)
    out = (
        df.select(tiebreak_col, value_col)
        .join(ranked_vals, value_col)
        .withColumn("__r", F.col("__cb") + F.row_number().over(wtie))
    )
    return out, n_total


def scalable_ranks(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_tiles: int = 4,
    num_range_parts: int | None = None,
) -> DataFrame:
    """Exact global percent_rank / cume_dist / ntile WITHOUT a global
    window — the scale path the unpartitioned-window queries
    (`order_price_percent_rank`, `order_price_quartiles`) baseline.

    A global ``Window.orderBy(...)`` funnels every row through one
    reducer. This operator instead uses the classic distributed rank
    algorithm:

    1. hash-agg per distinct value (map-side combine shrinks ties);
    2. ``repartitionByRange`` the distinct values — Spark's range
       partitioner samples boundaries, equal keys co-locate, ascending
       partition ids hold ascending value ranges;
    3. local cumulative count inside each range partition (a window
       PARTITIONED by partition id — never global);
    4. one bounded driver collect of per-partition subtotals turned
       into prefix offsets, broadcast back (:func:`_prefix_offsets`);
    5. join counts-below to the fact rows on the value (AQE picks
       broadcast when the distinct-value relation is small);
    6. unique rank for ntile = counts-below + row_number inside the
       tie group (window partitioned by the value — tie groups are
       small), then the exact SQL ntile bucket formula.

    Output: (tiebreak_col, value_col, pr, cd, quartile) with pr/cd
    rounded to 6dp — bit-identical to the global-window version since
    percent_rank = cb/(N-1) and cume_dist = (cb+cnt)/N divide the same
    integers.
    """
    out, n_total = _unique_ranked(df, value_col, tiebreak_col, num_range_parts)
    # SQL ntile(n): the first N mod n buckets take floor(N/n)+1 rows.
    q, rem = divmod(n_total, n_tiles)
    if q == 0:
        tile = F.col("__r")
    else:
        cut = rem * (q + 1)
        tile = F.when(
            F.col("__r") <= F.lit(cut),
            F.ceil(F.col("__r") / F.lit(q + 1)),
        ).otherwise(
            F.lit(rem) + F.ceil((F.col("__r") - F.lit(cut)) / F.lit(q))
        )
    denom = F.lit(max(n_total - 1, 1))
    return out.select(
        tiebreak_col,
        value_col,
        F.round(F.col("__cb") / denom, 6).alias("pr"),
        F.round((F.col("__cb") + F.col("__cnt")) / F.lit(n_total), 6).alias(
            "cd"
        ),
        tile.cast("int").alias("quartile"),
    )


def rolling_range_avg(
    df: DataFrame,
    partition_by: list[str],
    day_col: str,
    value_col: str,
    days: int = 7,
    alias: str = "rolling_avg",
    round_to: int = 6,
) -> DataFrame:
    """Trailing N-day moving average with a RANGE frame over day
    numbers — unlike a ROWS frame, missing days genuinely shrink the
    window (the frame is value-based, so a gap contributes nothing
    rather than pulling older rows in).

    One shuffle on the partition keys; the average is an exact integer
    (or decimal) sum / count per frame, rounded so it replays
    identically in a sequential oracle.
    """
    day_num = F.datediff(F.col(day_col), F.lit("1970-01-01"))
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(day_num)
        .rangeBetween(-(days - 1), 0)
    )
    return df.withColumn(
        alias,
        F.round(
            F.sum(value_col).over(w) / F.count(F.lit(1)).over(w), round_to
        ),
    )


def global_row_numbers(
    df: DataFrame,
    order_cols: list[str],
    out: str = "rn",
    num_range_parts: int | None = None,
) -> DataFrame:
    """Exact global row numbers over a UNIQUE sort key WITHOUT a
    global window — ``Window.orderBy(...)`` with no partitionBy
    funnels every row through one reducer, the canonical scale
    anti-pattern. Same algorithm family as :func:`scalable_ranks`:

    1. ``repartitionByRange`` on the sort key (sampled boundaries,
       ascending partition ids hold ascending key ranges);
    2. local row_number inside each range partition;
    3. ONE bounded driver collect of per-partition row counts (≤ one
       row per range partition) turned into prefix offsets, broadcast
       back; global rn = offset + local rn.

    The caller guarantees ``order_cols`` is a unique key (append a
    unique id as the last column) — uniqueness makes the global order,
    and therefore every rn, deterministic under any partitioning.
    """
    cols = [F.col(c).asc() for c in order_cols]
    r = _range_partitioned(df, num_range_parts, *cols)
    wloc = Window.partitionBy("__pid").orderBy(*cols)
    r = r.withColumn("__lrn", F.row_number().over(wloc))
    r, _ = _prefix_offsets(r, F.count(F.lit(1)))
    return r.withColumn(
        out, (F.col("__off") + F.col("__lrn")).cast("long")
    ).drop("__pid", "__lrn", "__off")


def scalable_unique_ranks(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    num_range_parts: int | None = None,
    attach_total_col: str | None = None,
) -> DataFrame:
    """Exact global UNIQUE rank (row_number by (value asc, tiebreak
    asc)) without a global window — the same distributed-rank
    algorithm as scalable_ranks (per-value hash-agg → range
    partition → local cumulative counts → one bounded per-partition
    subtotal collect → broadcast offsets → small tie-group windows),
    exposed as the raw rank for consumers that bin on rank directly
    (lift tables, top-p% gates) rather than percent_rank/ntile.

    For a DESCENDING order, negate the value column first (exact for
    integers and IEEE doubles alike).

    Returns df's (tiebreak_col, value_col) plus ``rn`` (1-based long).
    ``attach_total_col`` additionally attaches the TOTAL row count as
    a literal column of that name: the algorithm already knows it
    from the bounded subtotal collect, so rank-fraction consumers
    (decile bins, top-p%% gates) get N for free instead of paying a
    count aggregate + cross join — which would also sit as an opaque
    nested loop over the persisted input in the executed plan.
    """
    out, n_total = _unique_ranked(df, value_col, tiebreak_col, num_range_parts)
    out = out.withColumn("rn", F.col("__r").cast("long")).drop(
        "__cnt", "__cb", "__r"
    )
    if attach_total_col is not None:
        out = out.withColumn(attach_total_col, F.lit(n_total).cast("long"))
    return out
