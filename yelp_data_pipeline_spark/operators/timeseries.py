"""Time-series operators: date-spine gap filling and value histograms.

Dashboards and training-cadence monitors both break on missing
buckets (a day with zero events simply vanishes from a groupBy); the
gap-fill joins a generated date spine so every period is present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_counts_gapfilled(df: DataFrame, ts_col: str) -> DataFrame:
    """Per-day counts with zero-filled gaps over [min(date), max(date)].

    The spine comes from sequence() over the observed span — computed
    with a 1-row aggregate CROSS JOINed back (broadcast of one row),
    not a driver collect; the whole thing stays one distributed plan.
    """
    counts = (
        df.select(F.to_date(ts_col).alias("date"))
        .groupBy("date")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    span = counts.agg(
        F.min("date").alias("lo"), F.max("date").alias("hi")
    )
    spine = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("date")
    )
    return spine.join(counts, "date", "left").select(
        "date", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )


def value_histogram(
    df: DataFrame, value_col: str, bin_width: float = 10.0
) -> DataFrame:
    """Fixed-width histogram: one row per occupied bin with its bounds
    and count. floor(value/width) keys the single shuffle; empty bins
    are omitted (compose with a spine join to densify)."""
    b = F.floor(F.col(value_col) / F.lit(bin_width)).cast("long")
    return (
        df.select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bin",
            F.round(F.col("bin") * bin_width, 6).alias("bin_lo"),
            F.round((F.col("bin") + 1) * bin_width, 6).alias("bin_hi"),
            "cnt",
        )
    )


def daily_count_zscores(
    df: DataFrame, ts_col: str, group_col: str, round_to: int = 6
) -> DataFrame:
    """Per-group z-scores of daily counts — the basic volume-anomaly
    monitor (a day whose event count sits far from its type's mean).

    Mean and variance come from exact integer sums (Σx, Σx², n) rather
    than float accumulators, so they are order-independent and replay
    bit-identically in any engine; population variance keeps the
    formula closed-form. Two shuffles: (group, day) count, then the
    tiny per-group moment reduce joined back. Output: (group, date,
    cnt, z rounded).
    """
    daily = (
        df.select(F.col(group_col).alias("grp"), F.to_date(ts_col).alias("date"))
        .groupBy("grp", "date")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    mom = daily.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = F.when(var > 0, F.round((F.col("cnt") - mean) / F.sqrt(var), round_to))
    return daily.join(mom, "grp").select(
        F.col("grp").alias(group_col), "date", "cnt", z.alias("z")
    )


def grouped_ols_trend(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group ordinary-least-squares trend line (slope + intercept)
    via the closed-form sufficient statistics — the distributed way to
    fit millions of tiny regressions (one per key) in ONE aggregate
    pass, no per-group iteration, no driver loop.

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    Cross-engine exactness: naive float Σxy differs across partition
    orders (FP addition is not associative), so x must be integral
    (e.g. an epoch-day index) and y is accumulated as DECIMAL — all
    five sufficient statistics are then EXACT, order-independent
    integers/decimals. The closed-form combination happens ONLY after
    the aggregate, in doubles of those exact operands (decimal products
    would hit the 38-digit precision cap): identical IEEE ops on
    identical inputs are bit-identical in any engine. The integer-only
    denominator stays in exact int64; a degenerate x range (den = 0)
    yields NULL slope — guarded, never divided.

    Scale: one groupBy with map-side partials; output is |groups| rows.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("decimal(18,2)")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(F.col(x_col).cast("decimal(18,0)") * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dend = den.cast("double")
    slope = F.when(den != 0, F.round(num / dend, round_to))
    intercept = F.when(
        den != 0, F.round((syd - num / dend * sxd) / nd, round_to)
    )
    return stats.select(
        F.col(group_col),
        F.col("n").alias("n_points"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def histogram_drift(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_col: str,
    split: str,
    bin_width: float = 25.0,
    n_bins: int = 20,
) -> DataFrame:
    """Distribution-drift monitor: per group, compare the value
    distribution BEFORE ``split`` (reference period A) against AFTER
    (current period B) over a fixed ``n_bins``-bin histogram, and
    report total-variation distance plus the worst single bin's
    deviation — the drift gate a feature-store / training-data
    pipeline runs before trusting a new batch.

    Laplace-smoothed proportions p_i=(a_i+1)/(n_a+B), q_i=(b_i+1)/
    (n_b+B) keep empty bins defined. The metrics deliberately avoid
    transcendental functions (PSI/KL need ln, which is not
    correctly-rounded-guaranteed across libms): TV and max-dev are
    rational, and both reduce to EXACT integer arithmetic over a
    per-group common denominator D=(n_a+B)(n_b+B):

        p_i − q_i = [(a_i+1)(n_b+B) − (b_i+1)(n_a+B)] / D = num_i / D
        tv        = (Σ|num_i|) / (2D)
        max_dev   = (max|num_i|) / D

    Integer sums/maxes are shuffle-order-free; the ONE double division
    per metric happens at the end (6dp-rounded) — deterministic across
    engines, partition counts, and AQE re-plans. Accumulation is
    DECIMAL(38,0): at 10^12-row groups num_i reaches ~10^24, past
    int64 (the DuckDB oracle mirrors with HUGEINT).

    Values clamp into the edge bins ([0, n_bins-1]); empty bins enter
    via the closed-form correction (B − occupied) · |num_empty| rather
    than a densifying spine join — same exact result, no extra join.
    Plan: ONE (group, bin) shuffle with conditional partial counts +
    ONE group rollup.

    Returns (group, n_a, n_b, tv, max_dev), 6dp.
    """
    b = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_bins - 1),
            F.floor(F.col(value_col) / F.lit(bin_width)),
        ),
    ).cast("int")
    in_a = F.col(ts_col) < F.lit(split).cast("timestamp")
    binned = (
        # NULL values are excluded, not binned: Spark's least/greatest
        # SKIP NULL arguments, so floor(NULL/w) would silently land in
        # the TOP bin and read as a spurious high-value shift. NULL-
        # rate monitoring is a dq_summary check, not a histogram bin.
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("grp"), b.alias("bin"), in_a.alias("ia"))
        .groupBy("grp", "bin")
        .agg(
            F.sum(F.when(F.col("ia"), 1).otherwise(0)).alias("a"),
            F.sum(F.when(~F.col("ia"), 1).otherwise(0)).alias("bb"),
        )
    )
    # Referenced twice (totals + per-bin join): persist, or the whole
    # scan+shuffle above runs twice (the round-5 LSH lesson).
    from ..session import track_persist

    binned = track_persist(binned)
    dec = "decimal(38,0)"
    # Two-stage: group totals first (tiny — one row per group), then
    # broadcast back so the per-bin |num_i| terms are computable in a
    # second exact-integer rollup.
    totals = binned.groupBy("grp").agg(
        F.sum("a").alias("n_a"),
        F.sum("bb").alias("n_b"),
        F.count(F.lit(1)).alias("occ"),
    )
    B = F.lit(n_bins)
    j = binned.join(F.broadcast(totals), "grp")
    num = (
        (F.col("a") + 1).cast(dec) * (F.col("n_b") + B).cast(dec)
        - (F.col("bb") + 1).cast(dec) * (F.col("n_a") + B).cast(dec)
    )
    # A bin empty in BOTH periods has num = (n_b+B) − (n_a+B) = n_b − n_a.
    empty_num = (F.col("n_b").cast(dec) - F.col("n_a").cast(dec))
    out = (
        j.groupBy("grp", "n_a", "n_b", "occ")
        .agg(
            F.sum(F.abs(num)).alias("s_num"),
            F.max(F.abs(num)).alias("m_num"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_a",
            "n_b",
            F.round(
                (
                    F.col("s_num") + (B - F.col("occ")).cast(dec) * F.abs(empty_num)
                ).cast("double")
                / (
                    (F.col("n_a") + B).cast(dec) * (F.col("n_b") + B).cast(dec)
                ).cast("double")
                / 2.0,
                6,
            ).alias("tv"),
            F.round(
                F.greatest(
                    F.col("m_num"),
                    F.when(F.col("occ") < B, F.abs(empty_num)).otherwise(
                        F.lit(0).cast(dec)
                    ),
                ).cast("double")
                / (
                    (F.col("n_a") + B).cast(dec) * (F.col("n_b") + B).cast(dec)
                ).cast("double"),
                6,
            ).alias("max_dev"),
        )
    )
    return out


def isotonic_fit_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group isotonic (monotone non-decreasing) L2 regression of
    mean-y against x — the calibration fit (score → outcome curves,
    dose-response, hour-of-day load floors) in its closed MINIMAX
    form: ŷᵢ = max_{j≤i} min_{k≥i} weightedAvg(y over x-positions
    j..k) (Barlow et al. 1972), which equals pool-adjacent-violators
    exactly.

    Shape choice: ties collapse first (per (group, x): weight = n,
    DECIMAL-exact Σy — the pre-aggregation every isotonic fit does),
    so the minimax join is O(d²) per group in d = DISTINCT x values,
    not data rows; with d bounded (hours, score deciles, dose levels)
    this is a few thousand rows per group and every step is plain
    joins + two running-extreme windows — fully distributed, exactly
    replayable in SQL, hash-checkable. For large-d fits use
    :func:`isotonic_fit_pandas` (linear-time PAVA over Arrow, same
    pre-aggregation) — the two implementations agree exactly on the
    pooled-average values up to float summation order, and the test
    suite pins them against each other.

    Determinism: interval averages derive from DECIMAL cumulative
    sums ((cwy_k − cwy_{j−1})/(cw_k − cw_{j−1}) — one double division
    per (j,k) of exact decimals), min/max of doubles are order-free.

    Returns (group, x, n, y_mean, y_iso), 6dp.
    """
    from pyspark.sql import Window

    dec = "decimal(27,6)"
    base = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(x_col).alias("x"),
            F.col(y_col).cast(dec).alias("y"),
        )
        .groupBy("g", "x")
        .agg(
            F.count(F.lit(1)).alias("w"),
            F.sum("y").alias("wy"),
        )
    )
    wo = Window.partitionBy("g").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = base.select(
        "g", "x", "w", "wy",
        F.sum("w").over(wo).alias("cw"),
        F.sum("wy").over(wo).alias("cwy"),
    ).select(
        "g", "x", "w", "wy", "cw", "cwy",
        (F.col("cw") - F.col("w")).alias("pcw"),
        (F.col("cwy") - F.col("wy")).alias("pcwy"),
    )
    from ..session import track_persist

    cum = track_persist(cum)
    j = cum.select(
        F.col("g"), F.col("x").alias("xj"),
        F.col("pcw"), F.col("pcwy"),
    )
    k = cum.select(
        F.col("g"), F.col("x").alias("xk"),
        F.col("cw"), F.col("cwy"),
    )
    pairs = j.join(k, "g").where(F.col("xj") <= F.col("xk")).select(
        "g", "xj", "xk",
        (
            (F.col("cwy") - F.col("pcwy")).cast("double")
            / (F.col("cw") - F.col("pcw")).cast("double")
        ).alias("avg"),
    )
    # suffix-min over k (for fixed j): rows sorted by xk DESC, running min.
    ws = Window.partitionBy("g", "xj").orderBy(F.desc("xk")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    smin = pairs.select(
        "g", "xj", "xk", F.min("avg").over(ws).alias("smin")
    )
    # At row (j, k=i): smin = min_{k≥i} avg(j,k); max over j ≤ i finishes.
    iso = (
        smin.select("g", F.col("xk").alias("x"), "smin")
        .groupBy("g", "x")
        .agg(F.round(F.max("smin"), round_to).alias("y_iso"))
    )
    means = cum.select(
        "g", "x", F.col("w").alias("n"),
        F.round(
            F.col("wy").cast("double") / F.col("w").cast("double"), round_to
        ).alias("y_mean"),
    )
    return (
        means.join(iso, ["g", "x"])
        .select(
            F.col("g").alias(group_col),
            F.col("x").alias(x_col),
            "n", "y_mean", "y_iso",
        )
    )


def isotonic_fit_pandas(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Linear-time pool-adjacent-violators isotonic fit per group via
    Arrow ``applyInPandas`` — the large-d path for
    :func:`isotonic_fit_by_group` (whose minimax join is O(d²) per
    group). Same pre-aggregation contract: per-(group, x) weights and
    sums reduce distributed first, so each Python group holds d rows,
    never the raw data; PAVA then merges adjacent violating pools
    right-to-left-stable in O(d).

    Returns (group, x, n, y_mean, y_iso), 6dp.
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    base = (
        df.select(
            F.col(group_col), F.col(x_col),
            F.col(y_col).cast("double").alias("y"),
        )
        .groupBy(group_col, x_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("wy"),
        )
    )
    schema = StructType(
        [
            df.schema[group_col],
            df.schema[x_col],
            StructField("n", LongType(), False),
            StructField("y_mean", DoubleType(), True),
            StructField("y_iso", DoubleType(), True),
        ]
    )

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(x_col).reset_index(drop=True)
        # pools: (total_weight, total_wy, count_of_positions)
        pools = []
        for w, wy in zip(pdf["n"], pdf["wy"]):
            pools.append([float(w), float(wy), 1])
            while len(pools) > 1 and (
                pools[-2][1] / pools[-2][0] > pools[-1][1] / pools[-1][0]
            ):
                b = pools.pop()
                pools[-1][0] += b[0]
                pools[-1][1] += b[1]
                pools[-1][2] += b[2]
            # merged pool may now violate ITS left neighbor — the
            # while loop above keeps merging until monotone.
        fit = []
        for w, wy, cnt in pools:
            fit.extend([wy / w] * cnt)
        return pd.DataFrame(
            {
                group_col: pdf[group_col],
                x_col: pdf[x_col],
                "n": pdf["n"],
                "y_mean": (pdf["wy"] / pdf["n"]).round(round_to),
                "y_iso": pd.Series(fit).round(round_to),
            }
        )

    return base.groupBy(group_col).applyInPandas(pava, schema)


def grouped_theil_sen(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    rounds: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Theil-Sen robust trend slope via deterministic pair
    sampling — the median-based sibling of :func:`grouped_ols_trend`
    exactly as MAD (quality.mad_outliers) pairs with mean/stddev: a
    29% breakdown point, so outlier days cannot drag the fitted
    slope, where OLS has breakdown 0.

    Full Theil-Sen is the median of ALL O(n²) pairwise slopes — a
    per-group quadratic blowup at scale. This uses the standard
    repeated-random-pairing estimator: ``rounds`` independent perfect
    matchings (each point used once per round → n/2 slopes per round,
    O(n·rounds) total), with the matching made DETERMINISTIC by
    ranking points on md5(round:x) — reproducible across engines,
    partitionings, and retries, unlike rand() pairing. Consistency:
    each round's matching samples pair slopes uniformly; the median
    over rounds·n/2 sampled slopes converges to the Theil-Sen
    estimate (Sen 1968 §3 randomized variants).

    Cross-engine float rules: y deltas subtract in DECIMAL (exact),
    x deltas in int64, ONE double division per slope; equal-x pairs
    are filtered (never divided — ANSI-safe); the per-group median is
    exact percentile (== DuckDB quantile_cont; at 100 TB swap in
    percentile_approx — the estimate is already sampled).

    Plan: explode ×rounds (map-side), one (group, round)-keyed
    window rank, one combinable pair aggregate, one per-group median.
    Returns (group, n_slopes, ts_slope).
    """
    from pyspark.sql import Window

    from ..functions.hashing import md5_long

    pts = df.select(
        F.col(group_col),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("decimal(18,2)").alias("y"),
    )
    rep = pts.select(
        group_col,
        "x",
        "y",
        F.explode(F.sequence(F.lit(1), F.lit(rounds))).alias("r"),
    )
    h = md5_long(
        F.concat_ws(
            ":", F.col("r").cast("string"), F.col("x").cast("string")
        )
    )
    w = Window.partitionBy(group_col, "r").orderBy(h.asc(), F.col("x").asc())
    ranked = rep.select(
        group_col, "r", "x", "y", F.row_number().over(w).alias("rn")
    )
    odd = F.col("rn") % 2 == 1
    pairs = ranked.groupBy(
        group_col,
        "r",
        F.floor((F.col("rn") - 1) / 2).alias("pid"),
    ).agg(
        F.max(F.when(odd, F.col("x"))).alias("x1"),
        F.max(F.when(odd, F.col("y"))).alias("y1"),
        F.max(F.when(~odd, F.col("x"))).alias("x2"),
        F.max(F.when(~odd, F.col("y"))).alias("y2"),
    )
    slopes = pairs.where(
        F.col("x2").isNotNull() & (F.col("x1") != F.col("x2"))
    ).select(
        group_col,
        (
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("x2") - F.col("x1")).cast("double")
        ).alias("slope"),
    )
    return slopes.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_slopes"),
        F.round(F.expr("percentile(slope, 0.5)"), round_to).alias(
            "ts_slope"
        ),
    )


def seasonal_decompose_daily(df: DataFrame, ts_col: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event
    count (STL's deterministic little sibling): per day,
    ``cnt = trend + seasonal + residual`` with trend = centered 7-day
    moving average (FULL windows only — edge days emit NULL
    components), seasonal = per-weekday mean of the detrended series,
    residual = the rest. The decomposition behind "is Tuesday always
    low, or is THIS Tuesday anomalous?" — the seasonal-aware upgrade
    of daily_count_zscores.

    Numerics: every intermediate is an EXACT INTEGER — detrended
    numerator ``7·cnt − S7``, weekday sums (N_w, m_w), residual
    numerator ``num·m_w − N_w`` — and each output is one single
    correctly-rounded double division of exact ints (+ round 6dp), so
    both engines reproduce every cell bit-identically (the repo's
    no-float-accumulator rule; summing doubles group-wise would be
    association-order-dependent).

    Scale shape: one (day) groupBy over the raw data, then EVERYTHING
    runs on the bounded day relation (≤ calendar-days rows — the
    dim_time class of bounded single-partition windows) plus a 7-row
    broadcast weekday join.

    Returns (date, cnt, trend, seasonal, residual) ordered by date.
    """
    from pyspark.sql import Window

    daily = (
        df.select(F.to_date(ts_col).alias("date"))
        .groupBy("date")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("date").rowsBetween(-3, 3)
    t = daily.select(
        "date",
        "cnt",
        F.sum("cnt").over(w).alias("s7"),
        F.count(F.lit(1)).over(w).alias("c7"),
    ).withColumn(
        "num",
        F.when(F.col("c7") == 7, 7 * F.col("cnt") - F.col("s7")),
    ).withColumn("dow", F.dayofweek("date"))
    wk = t.where(F.col("num").isNotNull()).groupBy("dow").agg(
        F.sum("num").alias("nw"), F.count(F.lit(1)).alias("mw")
    )
    j = t.join(F.broadcast(wk), "dow", "left")
    trend = F.round(F.col("s7").cast("double") / F.lit(7.0), 6)
    seasonal = F.round(
        F.col("nw").cast("double") / (F.lit(7.0) * F.col("mw").cast("double")),
        6,
    )
    residual = F.round(
        (F.col("num") * F.col("mw") - F.col("nw")).cast("double")
        / (F.lit(7.0) * F.col("mw").cast("double")),
        6,
    )
    has = F.col("num").isNotNull() & F.col("nw").isNotNull()
    return j.select(
        "date",
        "cnt",
        F.when(has, trend).alias("trend"),
        F.when(has, seasonal).alias("seasonal"),
        F.when(has, residual).alias("residual"),
    ).orderBy("date")


def cusum_changepoint_daily(df: DataFrame, ts_col: str) -> DataFrame:
    """CUSUM change-point detection on the daily event count (Page
    1954): the cumulative sum of deviations from the global mean peaks
    (in absolute value) at the most likely LEVEL-SHIFT date — the
    "when did the volume regime change" question that z-scores
    (point anomalies) and drift tests (distribution shift between two
    fixed windows) don't answer.

    Numerics: deviations are scaled to exact integers
    (``n·cnt − S``, i.e. n × (cnt − mean)), so the cumulative sum,
    the argmax, and the before/after segment sums are all exact
    integer arithmetic with deterministic tiebreaks (earliest date);
    the three emitted statistics are single correctly-rounded double
    divisions — bit-identical cross-engine.

    Scale shape: one raw-data groupBy to the bounded calendar-day
    relation; the 1-row totals broadcast back (bounded-cross); the
    cumulative window and argmax run on ≤ days rows.

    Returns ONE row: (change_date, n_days, cusum_peak, mean_before,
    mean_after) — change_date is the last day of the BEFORE segment;
    cusum_peak is in count units (peak / n).
    """
    from pyspark.sql import Window

    daily = (
        df.select(F.to_date(ts_col).alias("date"))
        .groupBy("date")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("s")
    )
    c = daily.crossJoin(F.broadcast(tot)).withColumn(
        "dev", F.col("n") * F.col("cnt") - F.col("s")
    )
    w = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    cus = c.withColumn("cum", F.sum("dev").over(w))
    peak = (
        cus.orderBy(F.abs(F.col("cum")).desc(), F.col("date").asc())
        .limit(1)
        .select(
            F.col("date").alias("change_date"),
            F.col("cum").alias("peak"),
            F.col("n"),
        )
    )
    seg = daily.crossJoin(F.broadcast(peak)).agg(
        F.first("change_date").alias("change_date"),
        F.first("n").alias("n_days"),
        F.first("peak").alias("peak"),
        F.sum(
            F.when(F.col("date") <= F.col("change_date"), F.col("cnt"))
        ).alias("sb"),
        F.sum(
            F.when(F.col("date") <= F.col("change_date"), 1)
        ).alias("nb"),
        F.sum(
            F.when(F.col("date") > F.col("change_date"), F.col("cnt"))
        ).alias("sa"),
        F.sum(
            F.when(F.col("date") > F.col("change_date"), 1)
        ).alias("na"),
    )
    # where: an empty series has no changepoint ROW at all (the agg
    # over the empty cross join would otherwise emit one all-NULL row,
    # and its 0-denominator divisions would crash under ANSI).
    return seg.where(F.col("n_days").isNotNull()).select(
        "change_date",
        F.col("n_days").cast("long").alias("n_days"),
        F.round(
            F.col("peak").cast("double") / F.col("n_days").cast("double"), 6
        ).alias("cusum_peak"),
        F.round(
            F.col("sb").cast("double") / F.col("nb").cast("double"), 6
        ).alias("mean_before"),
        F.when(
            F.col("na") > 0,
            F.round(
                F.col("sa").cast("double") / F.col("na").cast("double"), 6
            ),
        ).alias("mean_after"),
    )


def _drift_cells(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    cutoff: str,
    group_col: str | None = None,
) -> DataFrame:
    """The drift battery's shared cells step: one row per distinct
    (group, cents value) with its early/late counts ``(v, ta, tb)``,
    ``ta`` counting rows before ``cutoff``. Values become integer
    cents (one IEEE multiply/add/floor), so the relation is bounded by
    the value DOMAIN (2-decimal values in [0, ~500] => <= ~50k cells
    per group) no matter how many rows flow in; NULL values drop. The
    group key, when given, is the leading column ``g``."""
    cents = F.floor(
        F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    is_a = (F.col(ts_col) < F.lit(cutoff).cast("timestamp")).cast("int")
    g = [F.col(group_col).alias("g")] if group_col else []
    return (
        df.where(F.col(value_col).isNotNull())
        .select(*g, cents.alias("v"), is_a.alias("a"))
        .groupBy(*(["g"] if group_col else []), "v")
        .agg(
            F.sum("a").cast("long").alias("ta"),
            F.sum(F.lit(1) - F.col("a")).cast("long").alias("tb"),
        )
    )


def _per_group(out: DataFrame, group_col: str | None, *cols) -> DataFrame:
    """Select ``cols``; with a group, lead with ``g`` renamed back to
    ``group_col`` and order by it (a global result is one row)."""
    if group_col is None:
        return out.select(*cols)
    return out.select(F.col("g").alias(group_col), *cols).orderBy(group_col)


def ranksum_drift(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    cutoff: str,
    group_col: str | None = None,
) -> DataFrame:
    """Mann-Whitney U rank-sum test between the value distributions
    before and after ``cutoff`` — the nonparametric SIGNIFICANCE
    companion to histogram_drift's total-variation DISTANCE: TV says
    how far apart two windows are, the rank-sum z says whether the
    shift is larger than chance for distributions of this size, with
    no normality assumption (Mann & Whitney 1947, tie-corrected
    normal approximation). With ``group_col`` it is the per-group
    triage scan: WHICH groups carry a corpus-level shift, including
    offsetting per-group drifts the global test averages away.

    Exact construction: the counts-below window runs over the
    domain-bounded cells of :func:`_drift_cells` (partitioned by the
    group, if any), not the facts, which is why a single ordered
    window is scale-safe here (contrast windows.scalable_ranks, which
    exists for UNBOUNDED-domain ranks). Tie handling is the
    average-rank convention folded into exact integers:
    2*R_a = sum(t_a * (2*cb + t + 1)) over cells, kept in
    DECIMAL(38,0)/HUGEINT (t_a*cb overflows int64 once n passes ~1e9,
    i.e. precisely the 100 TB regime). The tie-corrected variance
    sigma^2 = (n_a*n_b/12) * ((n+1) - sum(t^3-t)/(n*(n-1))) and
    z = (2U - n_a*n_b) / (2*sigma) are fixed sequences of
    correctly-rounded IEEE ops on exactly-represented integers.

    Global: ONE row (n_a, n_b, u2 = 2*U_a, auc, z), 6dp floats — all
    NULL counts on empty input. Grouped: (group, n_a, n_b, auc, z)
    ordered by group, no row on empty input. ``auc`` = U_a/(n_a*n_b)
    is the tie-adjusted common-language effect size
    (probability-of-superiority / ROC-AUC reading): 0.5 = no shift,
    bounded and scale-free — the number to act on; z says whether it
    beats chance. ``u2`` stays exact int64 through any realistic
    window (2U <= n_a*n_b ~ n^2/4 passes int64 only beyond ~6e9 rows
    per window; auc and z remain exact-ratio doubles there). A
    one-sided window yields NULL auc/z and zero variance (all values
    tied) NULL z, never a 0/0.
    """
    from pyspark.sql import Window

    g = ["g"] if group_col else []
    cells = _drift_cells(df, ts_col, value_col, cutoff, group_col)
    w = Window.partitionBy(*g).orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = cells.withColumn("t", F.col("ta") + F.col("tb")).withColumn(
        "cb", F.coalesce(F.sum("t").over(w), F.lit(0))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    out = ranked.groupBy(*g).agg(
        F.sum("ta").cast("long").alias("n_a"),
        F.sum("tb").cast("long").alias("n_b"),
        F.sum(
            dec(F.col("ta"))
            * (F.lit(2) * dec(F.col("cb")) + dec(F.col("t")) + F.lit(1))
        ).alias("__r2a"),
        F.sum(
            dec(F.col("t")) * dec(F.col("t")) * dec(F.col("t")) - dec(F.col("t"))
        ).alias("__ties"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = na + nb
    u2 = F.col("__r2a") - dec(F.col("n_a")) * (dec(F.col("n_a")) + F.lit(1))
    sigma2 = (
        na * nb / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("__ties").cast("double") / (n * (n - F.lit(1.0))))
    )
    # One-sided series (a cutoff that every row falls on one side of)
    # has no rank-sum statistic: NULL auc/z via SQL 0/0 semantics —
    # never an ANSI crash. sigma's ties term divides by n(n-1), so it
    # is only evaluated inside the n_a>0 & n_b>0 branch (n >= 2).
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return _per_group(
        out,
        group_col,
        "n_a",
        "n_b",
        *([] if group_col else [u2.cast("long").alias("u2")]),
        F.when(
            both,
            F.round(u2.cast("double") / F.lit(2.0) / (na * nb), 6),
        ).alias("auc"),
        F.when(
            both,
            F.when(
                sigma2 > 0,
                F.round(
                    (u2.cast("double") - na * nb) / (F.lit(2.0) * F.sqrt(sigma2)),
                    6,
                ),
            ),
        ).alias("z"),
    )


def daily_count_acf(
    df: DataFrame, ts_col: str, max_lag: int = 7
) -> DataFrame:
    """Autocorrelation function of the gap-filled daily count series at
    lags 1..max_lag — the seasonality detector that justifies (or
    refutes) seasonal_decompose_daily's weekly model: a spike at lag 7
    is weekly rhythm; slow geometric decay is trend; nothing above
    noise means the series is memoryless.

    Standard sample ACF with the overall mean: r_k =
    sum_{t<=n-k}((x_t - m)(x_{t+k} - m)) / sum_t((x_t - m)^2),
    computed EXACTLY by clearing denominators: with S = sum(x) and
    n = #days, each centered term scales by n to (n*x_t - S) — an
    integer — so numerator and denominator are exact
    DECIMAL(38,0)/HUGEINT sums of integer products (n*x near 1e13 at
    100 TB event volume; squares near 1e27 — far past int64, which is
    the point of the decimal path), and r_k is ONE double division,
    rounded 6dp.

    Plan: one combinable groupBy to daily counts (+ broadcast 1-row
    span -> sequence spine for gap-fill), then every lag is a
    date-offset self-join of the <=days-row series — bounded work
    independent of event volume.

    Returns (lag, n_days, r) for lags 1..max_lag, ordered by lag.
    """
    from ..session import track_persist

    series = track_persist(daily_counts_gapfilled(df, ts_col))
    tot = series.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("cnt").cast("long").alias("s"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    base = series.crossJoin(F.broadcast(tot)).select(
        "date",
        (dec(F.col("n_days")) * dec(F.col("cnt")) - dec(F.col("s"))).alias(
            "c"
        ),
        "n_days",
    )
    denom = base.agg(
        F.max("n_days").alias("n_days"),
        F.sum(F.col("c") * F.col("c")).alias("den"),
    )
    lags = base.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    pairs = (
        base.select("date", F.col("c").alias("c1"))
        .crossJoin(F.broadcast(lags))
        .withColumn("date2", F.date_add("date", F.col("lag")))
        .join(
            base.select(F.col("date").alias("date2"), F.col("c").alias("c2")),
            "date2",
        )
    )
    nums = pairs.groupBy("lag").agg(F.sum(F.col("c1") * F.col("c2")).alias("num"))
    return (
        nums.crossJoin(F.broadcast(denom))
        .select(
            "lag",
            "n_days",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("r"),
        )
        .orderBy("lag")
    )


def psi_drift(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    cutoff: str,
    bin_width: float = 25.0,
    n_bins: int = 20,
) -> DataFrame:
    """Population Stability Index between the value distributions
    before/after ``cutoff`` — the industry-standard production drift
    number (credit-risk monitoring lineage; the common operating
    thresholds read <0.1 stable, 0.1-0.25 drifting, >0.25 shifted).
    Completes the drift battery: TV distance (histogram_drift) bounds
    the worst-case probability gap, the rank-sum z (ranksum_drift)
    gives significance, PSI is the monitored production metric.

    PSI = sum_i (p_i - q_i) * ln(p_i / q_i) over fixed value bins,
    with add-one (Laplace) smoothing so empty bins neither divide by
    zero nor blow the log: p_i = (a_i+1)/(n_a+n_bins).

    Determinism: bins and counts are exact integers; each bin's term
    is a fixed IEEE sequence with ONE ln, and the term is rounded to
    6dp then DECIMAL(27,6)-summed (the bigram-logprob pattern), so
    the 20-term reduction is order-free and replays exactly on a
    sequential engine. One pruned scan, a <=n_bins-cell combinable
    groupBy, a 1-row aggregate — scan-bound at any scale.

    Returns ONE row: (n_a, n_b, psi).
    """
    is_a = (F.col(ts_col) < F.lit(cutoff).cast("timestamp")).cast("int")
    binc = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_bins - 1),
            F.floor(F.col(value_col).cast("double") / F.lit(bin_width)),
        ),
    ).cast("int")
    observed = (
        df.where(F.col(value_col).isNotNull())
        .select(binc.alias("bin"), is_a.alias("a"))
        .groupBy("bin")
        .agg(
            F.sum("a").cast("long").alias("ca"),
            F.sum(F.lit(1) - F.col("a")).cast("long").alias("cb"),
        )
    )
    # Bin SPINE: a bin empty in both windows still contributes a
    # (smoothed) term whenever n_a != n_b — observed-bins-only would
    # silently change the metric's definition. Literal bounded Range.
    spine = df.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    cells = spine.join(observed, "bin", "left").select(
        "bin",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    tot = cells.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    p = (F.col("ca").cast("double") + F.lit(1.0)) / (
        F.col("n_a").cast("double") + F.lit(float(n_bins))
    )
    q = (F.col("cb").cast("double") + F.lit(1.0)) / (
        F.col("n_b").cast("double") + F.lit(float(n_bins))
    )
    term = F.round((p - q) * F.log(p / q), 6)
    return j.groupBy("n_a", "n_b").agg(
        F.round(
            F.sum(term.cast("decimal(27,6)")).cast("double"), 6
        ).alias("psi")
    ).select("n_a", "n_b", "psi")


def burstiness_by_group(
    df: DataFrame, ts_col: str, group_col: str
) -> DataFrame:
    """Fano factor (index of dispersion) of daily counts per group —
    the stream-health number that separates steady traffic from
    bursts: var/mean == 1 for a Poisson process, >> 1 means the
    group's volume arrives in bursts (retry storms, bot floods,
    batch-shaped producers), << 1 means something is smoothing or
    rate-limiting it. Pairs with daily_count_acf: ACF finds the
    rhythm, the Fano factor measures the clumping.

    Exact arithmetic: population variance from exact integer moments
    (n, S=sum x, Q=sum x^2) with denominators cleared — F =
    (n*Q - S^2) / (n*S) — so the only float op is ONE double
    division of exact DECIMAL(38,0)/HUGEINT integers (x ~ 1e10
    rows/day at 100 TB makes Q ~ 1e23), rounded 6dp. Groups with a
    zero mean are NULL-guarded.

    Plan: one combinable (group, day) groupBy, then a tiny per-group
    moment aggregate. Returns (group, n_days, mean_daily, fano)
    ordered by group.
    """
    daily = (
        df.select(
            F.col(group_col).alias("g"), F.to_date(F.col(ts_col)).alias("d")
        )
        .groupBy("g", "d")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = daily.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(dec(F.col("x"))).alias("s"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("q"),
    )
    n = F.col("n_days").cast("double")
    s = F.col("s").cast("double")
    q = F.col("q").cast("double")
    return m.select(
        F.col("g").alias(group_col),
        "n_days",
        F.round(s / n, 6).alias("mean_daily"),
        F.when(
            F.col("s") > 0, F.round((n * q - s * s) / (n * s), 6)
        ).alias("fano"),
    ).orderBy(group_col)


def ks_drift(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    cutoff: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the value
    distributions before and after ``cutoff`` — the final member of
    the drift battery: TV distance (histogram_drift) bounds the
    probability gap on FIXED bins, PSI (psi_drift) is the monitored
    production number, the rank-sum z (ranksum_drift) tests location
    shift; KS is the bin-free supremum gap between the two empirical
    CDFs, sensitive to ANY distributional change (location, scale,
    shape) — the classic goodness-of-fit drift test.

    Exact construction (the domain-bounded :func:`_drift_cells`
    relation ranksum_drift also ranks over): both running CDFs are
    integer window sums over the cells. The supremum is taken over the
    EXACT integer cross-difference |cum_a*n_b - cum_b*n_a| in
    DECIMAL(38,0) (the product passes int64 near n ~ 1e9 per window —
    the 100 TB regime), so max() is order-free and exact; D is ONE double
    division of exact integers. The 5%-level critical value
    D_crit = 1.36*sqrt((n_a+n_b)/(n_a*n_b)) (Smirnov asymptotic) is a
    fixed IEEE sequence on exact counts.

    Returns ONE row: (n_a, n_b, d, d_crit), 6dp doubles.
    """
    from pyspark.sql import Window

    cells = _drift_cells(df, ts_col, value_col, cutoff)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        F.sum("ta").over(w).alias("ca"), F.sum("tb").over(w).alias("cb")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    wall = Window.partitionBy()
    tot = cum.withColumn("ta_n", F.max("ca").over(wall)).withColumn(
        "tb_n", F.max("cb").over(wall)
    )
    m = tot.agg(
        F.max("ca").cast("long").alias("n_a"),
        F.max("cb").cast("long").alias("n_b"),
        F.max(
            F.abs(
                dec(F.col("ca")) * dec(F.col("tb_n"))
                - dec(F.col("cb")) * dec(F.col("ta_n"))
            )
        ).alias("__num"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    # where: an empty series yields NO row (the global agg would
    # otherwise emit one all-NULL row that no SQL engine produces).
    # when: a one-sided series (every row before/after the cutoff)
    # has no KS statistic — NULL, SQL 0/0 semantics, not an ANSI
    # crash.
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return m.where(F.col("n_a").isNotNull()).select(
        "n_a",
        "n_b",
        F.when(
            both, F.round(F.col("__num").cast("double") / (na * nb), 6)
        ).alias("d"),
        F.when(
            both,
            F.round(F.lit(1.36) * F.sqrt((na + nb) / (na * nb)), 6),
        ).alias("d_crit"),
    )


def ewma_daily_counts(
    df: DataFrame, ts_col: str, k: int = 8
) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/2) of the
    gap-filled daily count series, truncated at ``k`` terms — the
    low-latency smoother a traffic monitor pairs with the z-score
    anomaly tier: rolling_7d gives every day equal vote, EWMA weights
    the recent past geometrically, reacting in ~1/alpha days instead
    of the window length. Truncation at k=8 discards < 2^-8 of the
    weight mass.

    Exact arithmetic: with alpha = 1/2 the truncated weights are
    2^-(j+1), so numerator and denominator clear to INTEGERS —
    num = sum_j 2^(k-1-j)*x_(t-j), den = sum over AVAILABLE lags of
    2^(k-1-j) (the series start renormalizes over fewer terms) — and
    the EWMA is ONE double division of exact int64s (x ~ 1e10
    rows/day at 100 TB keeps num < 2^63 through the 128x weight),
    rounded 6dp. No float powers, no order-dependent float sums.

    Plan: the k lag terms are literal offsets over the tiny gap-filled
    daily relation (one combinable groupBy + broadcast spine), each an
    ordered-window lag over <= days rows — bounded work independent of
    event volume. Returns (date, cnt, ewma) ordered by date.
    """
    from pyspark.sql import Window

    series = daily_counts_gapfilled(df, ts_col)
    w = Window.orderBy("date")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for j in range(k):
        lx = F.lag("cnt", j).over(w) if j else F.col("cnt")
        weight = 1 << (k - 1 - j)
        num = num + F.coalesce(lx * F.lit(weight), F.lit(0))
        den = den + F.when(lx.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
    return (
        series.select(
            "date",
            "cnt",
            F.round(num.cast("double") / den.cast("double"), 6).alias(
                "ewma"
            ),
        )
        .orderBy("date")
    )


def kaplan_meier_gaps(
    orders: DataFrame, key_col: str, date_col: str
) -> DataFrame:
    """Kaplan-Meier survival curve over customer inter-order gaps —
    the censoring-correct answer to "how long until a customer orders
    again?": every consecutive-order gap is an observed event, and the
    wait from each customer's LAST order to the corpus end-date is a
    RIGHT-CENSORED duration (the customer hasn't ordered again YET —
    dropping those rows, or treating them as events, both bias the
    curve; Kaplan & Meier 1958 is exactly the estimator that uses
    them correctly). The retention tier's cohort_retention counts
    fixed horizons; this gives the full curve with censoring.

    S(t) = prod_{t_i <= t} (1 - d_i/n_i) over event times, computed
    as exp of a running sum of per-time ln(1 - d/n) terms — each term
    has ONE ln on a ratio of exact integers, is rounded to 6dp, and
    the running sum accumulates in DECIMAL(27,6) over the ordered
    gap-value relation (order-free, replay-exact); the final exp is
    one libm call per output row. If the last event time exhausts the
    risk set (d = n), survival is exactly 0 there (ln would be -inf;
    guarded explicitly on both engines).

    Plan: per-customer ordered gaps are one window over the orders
    relation partitioned by customer (no skew: one partition per
    customer key); the curve itself lives on the distinct-gap-days
    relation (bounded by the date span). Returns
    (t_days, n_at_risk, n_events, n_censored, survival) for event
    times, ordered by t_days.
    """
    from pyspark.sql import Window

    wc = Window.partitionBy("__k").orderBy(F.col("__d"))
    end = orders.agg(F.max(F.col(date_col)).alias("__end"))
    durs = (
        orders.select(
            F.col(key_col).alias("__k"), F.col(date_col).alias("__d")
        )
        .withColumn("__next", F.lead("__d").over(wc))
        .crossJoin(F.broadcast(end))
        .select(
            F.when(
                F.col("__next").isNotNull(),
                F.datediff(F.col("__next"), F.col("__d")),
            )
            .otherwise(F.datediff(F.col("__end"), F.col("__d")))
            .cast("long")
            .alias("t"),
            F.col("__next").isNotNull().cast("int").alias("ev"),
        )
    )
    cells = durs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
    )
    wt = Window.orderBy("t")
    prior = (
        F.coalesce(
            F.sum(F.col("d") + F.col("c")).over(
                wt.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
    )
    tot = cells.agg(F.sum(F.col("d") + F.col("c")).alias("__n"))
    at_risk = (
        cells.crossJoin(F.broadcast(tot))
        .withColumn("n_at_risk", (F.col("__n") - prior).cast("long"))
    )
    term = F.when(
        F.col("d") < F.col("n_at_risk"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n_at_risk").cast("double")
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    cum = F.sum(term.cast("decimal(27,6)")).over(
        wt.rowsBetween(Window.unboundedPreceding, 0)
    )
    exhausted = F.max(
        (F.col("d") >= F.col("n_at_risk")).cast("int")
    ).over(wt.rowsBetween(Window.unboundedPreceding, 0))
    return (
        at_risk.select(
            F.col("t").alias("t_days"),
            "n_at_risk",
            F.col("d").alias("n_events"),
            F.col("c").alias("n_censored"),
            F.when(exhausted == 1, F.lit(0.0))
            .otherwise(F.round(F.exp(cum.cast("double")), 6))
            .alias("survival"),
        )
        .where(F.col("n_events") > 0)
        .orderBy("t_days")
    )


def cohens_d_drift(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    cutoff: str,
) -> DataFrame:
    """Cohen's d (and the small-sample Hedges' g correction) between
    the value distributions before/after ``cutoff`` — the PARAMETRIC
    effect size that completes the drift battery's effect-size pair:
    the rank-sum AUC is the distribution-free probability of
    superiority; d states the mean shift in pooled-standard-deviation
    units, the number power analyses and monitoring runbooks quote
    (0.2 small / 0.5 medium / 0.8 large).

    Exact construction: integer-cents moments (n, S, Q) per window
    from ONE combinable aggregate — Q in DECIMAL(38,0) (x^2 sums pass
    int64 near 1e11 rows); (n-1)*s^2 = (n*Q - S^2)/n keeps every
    product exact, so the pooled variance and d are a short fixed
    IEEE sequence on exact integers, 6dp. Hedges' J = 1 - 3/(4*df-1)
    is rational. Degenerate windows (n < 2 either side, or zero
    pooled variance) yield NULL d rather than a division blow-up.

    Returns ONE row:
    (n_a, n_b, mean_a, mean_b, cohens_d, hedges_g).
    """
    cents = F.floor(
        F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    is_a = (F.col(ts_col) < F.lit(cutoff).cast("timestamp")).cast("int")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    base = df.where(F.col(value_col).isNotNull()).select(
        cents.alias("x"), is_a.alias("a")
    )
    m = base.agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum(F.lit(1) - F.col("a")).cast("long").alias("n_b"),
        F.sum(F.col("a") * F.col("x")).cast("long").alias("s_a"),
        F.sum((F.lit(1) - F.col("a")) * F.col("x")).cast("long").alias("s_b"),
        F.sum(dec(F.col("a")) * dec(F.col("x")) * dec(F.col("x"))).alias(
            "q_a"
        ),
        F.sum(
            dec(F.lit(1) - F.col("a")) * dec(F.col("x")) * dec(F.col("x"))
        ).alias("q_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ssa = (
        dec(F.col("n_a")) * F.col("q_a") - dec(F.col("s_a")) * dec(F.col("s_a"))
    ).cast("double") / na
    ssb = (
        dec(F.col("n_b")) * F.col("q_b") - dec(F.col("s_b")) * dec(F.col("s_b"))
    ).cast("double") / nb
    df_pool = na + nb - F.lit(2.0)
    s2p = (ssa + ssb) / df_pool
    d = (
        F.col("s_a").cast("double") / na - F.col("s_b").cast("double") / nb
    ) / F.sqrt(s2p)
    j = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * df_pool - F.lit(1.0))
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1)
    return m.select(
        "n_a",
        "n_b",
        # NULL means on an empty side — SQL 0/0, not an ANSI crash.
        F.when(
            F.col("n_a") > 0,
            F.round(F.col("s_a").cast("double") / na / F.lit(100.0), 6),
        ).alias("mean_a"),
        F.when(
            F.col("n_b") > 0,
            F.round(F.col("s_b").cast("double") / nb / F.lit(100.0), 6),
        ).alias("mean_b"),
        # ok (both sides > 1) bounds df_pool >= 2, so the pooled-s2
        # divisions only evaluate where they are defined.
        F.when(ok, F.when(s2p > 0, F.round(d, 6))).alias("cohens_d"),
        F.when(ok, F.when(s2p > 0, F.round(j * d, 6))).alias("hedges_g"),
    )


def quantile_shift_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    cutoff: str,
) -> DataFrame:
    """Per-decile quantile shift between the early/late value windows
    — the WHERE-in-the-distribution companion to the drift battery's
    single numbers: KS says the CDFs differ, PSI says by how much,
    the Q-Q profile says WHICH deciles moved (a tail-only shift and
    a uniform location shift have identical KS but opposite fixes).
    Reads as a horizontal slice of the Q-Q plot at p = 0.1..0.9.

    Exact construction: both windows' order statistics come from the
    SAME domain-bounded cents-cell relation (one scan, one shuffle);
    the p-quantile is the lower order statistic at INTEGER rank
    ceil(p*n) = floor((k*n + 9)/10) — no float ranks — selected by
    min-over-threshold on each window's running total; the shift is
    integer cents difference rendered once. Empty windows yield NULL
    quantiles. The decile spine is a literal bounded Range.

    Returns (decile, q_early, q_late, shift) for deciles 1..9,
    ordered by decile.
    """
    from pyspark.sql import Window

    cells = _drift_cells(df, ts_col, value_col, cutoff)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "v",
        F.sum("ta").over(w).cast("long").alias("ca"),
        F.sum("tb").over(w).cast("long").alias("cb"),
    )
    tot = cum.agg(
        F.max("ca").cast("long").alias("n_a"),
        F.max("cb").cast("long").alias("n_b"),
    )
    deciles = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("decile")
    )
    j = cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(deciles))
    ra = F.floor(
        (F.col("decile") * F.col("n_a") + F.lit(9)) / F.lit(10)
    ).cast("long")
    rb = F.floor(
        (F.col("decile") * F.col("n_b") + F.lit(9)) / F.lit(10)
    ).cast("long")
    sel = j.groupBy("decile").agg(
        F.min(
            F.when((F.col("ca") >= ra) & (F.col("n_a") > 0), F.col("v"))
        ).alias("__qa"),
        F.min(
            F.when((F.col("cb") >= rb) & (F.col("n_b") > 0), F.col("v"))
        ).alias("__qb"),
    )
    return sel.select(
        "decile",
        F.round(F.col("__qa").cast("double") / F.lit(100.0), 6).alias(
            "q_early"
        ),
        F.round(F.col("__qb").cast("double") / F.lit(100.0), 6).alias(
            "q_late"
        ),
        F.round(
            (F.col("__qb") - F.col("__qa")).cast("double") / F.lit(100.0), 6
        ).alias("shift"),
    ).orderBy("decile")


def hurst_rs_daily(
    df: DataFrame, ts_col: str, sizes=(4, 8, 16, 32, 64)
) -> DataFrame:
    """Hurst exponent of the daily event-count series via classical
    rescaled-range (R/S) analysis — the long-memory diagnostic that
    completes the temporal-structure tier: ACF reads fixed-lag
    rhythm, CUSUM finds level breaks, H reads PERSISTENCE across all
    horizons at once (H ~ 0.5 memoryless, H > 0.5 trending/
    persistent — shocks echo for days, H < 0.5 mean-reverting).
    A capacity planner sizes buffers very differently at H = 0.8
    than at 0.5 (Hurst 1951; the original Nile-reservoir question).

    Classical R/S: split the series into blocks of m days; per
    block, R = range of mean-adjusted cumulative deviations, S =
    population std; H = OLS slope of ln(mean R/S) on ln(m) over
    block sizes m.

    Exact construction: denominators clear inside each block —
    m*Z_t = m*cumsum - t*S1 is INTEGER, so R*m = max - min is exact;
    S*m = sqrt(m*Q - S1^2) on exact DECIMAL(38,0) (counts ~ 1e10/day
    at 100 TB square past int64), and R/S = (max-min)/sqrt(m*Q-S1^2)
    is ONE division + ONE sqrt per block, 6dp. Block means accumulate
    the rounded R/S in DECIMAL(27,6); each ln is rounded 6dp; the
    final OLS runs on <= |sizes| points with 6dp-rounded products
    DECIMAL-summed (order-free). Zero-variance blocks are excluded
    on both engines; sizes with no complete block drop out.

    Plan: everything lives on the calendar-bounded daily relation
    x |sizes| (a broadcast literal) — row volume only deepens the
    map-side daily fold. Returns ONE row: (n_days, n_sizes, hurst);
    hurst is NULL when fewer than two sizes survive.
    """
    from pyspark.sql import Window

    series = daily_counts_gapfilled(df, ts_col)
    w = Window.orderBy("date")
    base = series.select(
        F.col("cnt").cast("long").alias("x"),
        F.row_number().over(w).cast("long").alias("rn"),
    )
    tot = base.agg(F.max("rn").alias("n_days"))
    sizes_df = df.sparkSession.createDataFrame(
        [(int(m),) for m in sizes], "m long"
    )
    j = base.crossJoin(F.broadcast(sizes_df)).crossJoin(F.broadcast(tot))
    blk = F.floor((F.col("rn") - 1) / F.col("m")).cast("long")
    j = j.withColumn("block", blk).where(
        F.col("block") < F.floor(F.col("n_days") / F.col("m"))
    ).withColumn("t", F.col("rn") - F.col("block") * F.col("m"))
    wb = Window.partitionBy("m", "block").orderBy("rn")
    wf = Window.partitionBy("m", "block")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cum = (
        j.withColumn(
            "cumx",
            F.sum("x").over(wb.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("s1", F.sum("x").over(wf).cast("long"))
        .withColumn("q", F.sum(dec(F.col("x")) * dec(F.col("x"))).over(wf))
        .withColumn(
            "z", F.col("m") * F.col("cumx") - F.col("t") * F.col("s1")
        )
    )
    blocks = cum.groupBy("m", "block").agg(
        (F.max("z") - F.min("z")).cast("long").alias("r_m"),
        (dec(F.max("m")) * F.max("q") - dec(F.max("s1")) * dec(F.max("s1")))
        .alias("__d"),
        F.max("n_days").alias("n_days"),
    )
    rs = blocks.select(
        "m",
        "n_days",
        F.when(
            F.col("__d") > 0,
            F.round(
                F.col("r_m").cast("double")
                / F.sqrt(F.col("__d").cast("double")),
                6,
            ),
        ).alias("rs"),
    )
    dec6 = lambda c: c.cast("decimal(27,6)")  # noqa: E731
    per_size = (
        rs.where(F.col("rs").isNotNull())
        .groupBy("m")
        .agg(
            F.max("n_days").alias("n_days"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.round(
                F.sum(dec6(F.col("rs"))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_rs"),
        )
        .where(F.col("avg_rs") > 0)
    )
    pts = per_size.select(
        "n_days",
        F.round(F.log(F.col("m").cast("double")), 6).alias("lx"),
        F.round(F.log(F.col("avg_rs")), 6).alias("ly"),
    )
    ols = pts.groupBy("n_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_sizes"),
        F.sum(dec6(F.col("lx"))).alias("sx"),
        F.sum(dec6(F.col("ly"))).alias("sy"),
        F.sum(dec6(F.round(F.col("lx") * F.col("ly"), 6))).alias("sxy"),
        F.sum(dec6(F.round(F.col("lx") * F.col("lx"), 6))).alias("sxx"),
    )
    np_ = F.col("n_sizes").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    den = np_ * sxx - sx * sx
    return ols.select(
        "n_days",
        "n_sizes",
        F.when(
            (F.col("n_sizes") > 1) & (den != 0),
            F.round((np_ * sxy - sx * sy) / den, 6),
        ).alias("hurst"),
    )


def daily_runs_test(df: DataFrame, ts_col: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the signs of day-over-day changes
    in the daily count series — the randomness check that closes the
    temporal-structure tier from the other side: ACF/Hurst measure
    HOW MUCH structure there is; the runs test asks whether the
    up/down sequence is distinguishable from coin flips at all
    (too FEW runs = momentum/trending, too MANY = oscillation;
    |z| < 1.96 means day-over-day direction is noise and any
    momentum story is overfit).

    Exact construction: signs from integer day-over-day differences
    (zero-change days are excluded, the standard convention); the
    run count is 1 + the number of sign flips — an integer window
    sum over the calendar-bounded daily relation; mu = 2*n1*n2/n + 1
    and sigma^2 = 2*n1*n2*(2*n1*n2 - n)/(n^2*(n-1)) are fixed IEEE
    sequences on exact integer counts (products kept in
    DECIMAL(38,0) — 2*n1*n2 passes int64 near n ~ 3e9 days only in
    theory, but the pattern is uniform house style), z rounded 6dp.
    Degenerate series (all one direction, or < 2 changes) yield
    NULL z.

    Returns ONE row: (n_up, n_down, n_runs, z).
    """
    from pyspark.sql import Window

    series = daily_counts_gapfilled(df, ts_col)
    w = Window.orderBy("date")
    diffs = (
        series.withColumn("prev", F.lag("cnt").over(w))
        .where(F.col("prev").isNotNull() & (F.col("cnt") != F.col("prev")))
        .select(
            "date",
            F.when(F.col("cnt") > F.col("prev"), F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
    )
    w2 = Window.orderBy("date")
    runs = diffs.withColumn("prev_sgn", F.lag("sgn").over(w2)).select(
        "sgn",
        F.when(
            F.col("prev_sgn").isNull()
            | (F.col("sgn") != F.col("prev_sgn")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = runs.agg(
        F.sum((F.col("sgn") == 1).cast("int")).cast("long").alias("n_up"),
        F.sum((F.col("sgn") == -1).cast("int")).cast("long").alias(
            "n_down"
        ),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    n1 = F.col("n_up").cast("double")
    n2 = F.col("n_down").cast("double")
    n = n1 + n2
    two_n1n2 = (
        F.lit(2) * dec(F.col("n_up")) * dec(F.col("n_down"))
    ).cast("double")
    mu = two_n1n2 / n + F.lit(1.0)
    sigma2 = (
        two_n1n2 * (two_n1n2 - n) / (n * n * (n - F.lit(1.0)))
    )
    return m.select(
        "n_up",
        "n_down",
        "n_runs",
        F.when(
            (F.col("n_up") > 0) & (F.col("n_down") > 0) & (sigma2 > 0),
            F.round(
                (F.col("n_runs").cast("double") - mu) / F.sqrt(sigma2), 6
            ),
        ).alias("z"),
    )


def psi_from_counts(
    ref_cells: DataFrame, cur_cells: DataFrame, n_bins: int = 20
) -> DataFrame:
    """PSI between two pre-binned count tables ``(bin, cnt)`` over the
    SAME fixed ``n_bins`` spine — the histogram-to-histogram form of
    :func:`psi_drift`, for monitors that keep bin counts as state
    (the streaming PSI sink) instead of re-scanning raw rows. Term
    math is identical to ``psi_drift`` (add-one smoothing over the
    full spine, one ln per bin, 6dp-rounded terms DECIMAL-summed), so
    a monitor fed the same split reproduces the batch operator's
    number bit-for-bit.

    Returns ONE row: (n_ref, n_cur, psi).
    """
    spark = ref_cells.sparkSession
    spine = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    cells = (
        spine.join(
            ref_cells.select("bin", F.col("cnt").alias("ca")), "bin", "left"
        )
        .join(
            cur_cells.select("bin", F.col("cnt").alias("cb")), "bin", "left"
        )
        .select(
            "bin",
            F.coalesce("ca", F.lit(0)).cast("long").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("long").alias("cb"),
        )
    )
    tot = cells.agg(
        F.sum("ca").cast("long").alias("n_ref"),
        F.sum("cb").cast("long").alias("n_cur"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    p = (F.col("ca").cast("double") + F.lit(1.0)) / (
        F.col("n_ref").cast("double") + F.lit(float(n_bins))
    )
    q = (F.col("cb").cast("double") + F.lit(1.0)) / (
        F.col("n_cur").cast("double") + F.lit(float(n_bins))
    )
    term = F.round((p - q) * F.log(p / q), 6)
    return (
        j.groupBy("n_ref", "n_cur")
        .agg(
            F.round(
                F.sum(term.cast("decimal(27,6)")).cast("double"), 6
            ).alias("psi")
        )
        .select("n_ref", "n_cur", "psi")
    )


def wasserstein_drift(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    cutoff: str,
    group_col: str | None = None,
) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between the value
    distributions before and after ``cutoff`` — the MAGNITUDE member
    of the drift battery: KS reports the worst CDF gap but not how
    FAR mass moved (a 1-cent global shift and a 100-dollar shift can
    share a D); W1 = integral |F_a - F_b| dx is exactly the average
    distance mass must travel, in value units — the number a cost
    model can act on. With ``group_col`` it is the magnitude column
    of the drift TRIAGE scan: ranksum_drift ranks groups by shift
    significance, this by what the shift COSTS (value units moved per
    row), which decides remediation priority. Same bounded-domain
    construction as ks_drift: :func:`_drift_cells`, running CDFs as
    integer window sums (partitioned by the group, if any — no
    single-partition stage then), and the closed-form 1-D transport
    solution (the CDF-gap integral — no LP needed in one dimension).

    Exact: each cell's term is the exact integer
    |cum_a*n_b - cum_b*n_a| * (next_v - v) in DECIMAL(38,0) summed in
    DECIMAL (order-free; the cross-product passes int64 near n ~ 1e9);
    W1 is ONE double division by (n_a * n_b * 100) per group — the 100
    undoes the cents scaling. Cells are bounded by the value DOMAIN,
    so the global CDF window rides ~50k rows regardless of row count.
    A single distinct value gives W1 = 0; a window empty on either
    side yields NULL.

    Global: ONE row (n_a, n_b, w1), 6dp double — all NULL counts on
    empty input. Grouped: (group, n_a, n_b, w1) ordered by group, no
    row on empty input.
    """
    from pyspark.sql import Window

    g = ["g"] if group_col else []
    cells = _drift_cells(df, ts_col, value_col, cutoff, group_col)
    wnext = Window.partitionBy(*g).orderBy("v")
    wcum = wnext.rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        *g,
        "v",
        F.sum("ta").over(wcum).cast("long").alias("ca"),
        F.sum("tb").over(wcum).cast("long").alias("cb"),
        F.lead("v", 1).over(wnext).alias("nxt"),
    )
    tot = cells.groupBy(*g).agg(
        F.sum("ta").cast("long").alias("n_a"),
        F.sum("tb").cast("long").alias("n_b"),
    )

    def attach(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
        # Global: the right side is one row, so a broadcast cross join.
        if group_col:
            return left.join(right, "g", how)
        return left.crossJoin(F.broadcast(right))

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per = (
        attach(cum.where(F.col("nxt").isNotNull()), tot, "inner")
        .groupBy(*g)
        .agg(
            F.sum(
                F.abs(
                    dec(F.col("ca")) * dec(F.col("n_b"))
                    - dec(F.col("cb")) * dec(F.col("n_a"))
                )
                * dec(F.col("nxt") - F.col("v"))
            ).alias("sw")
        )
    )
    # left: a group with a single distinct value has no transport term.
    j = attach(tot, per, "left").withColumn(
        "sw", F.coalesce("sw", F.lit(0).cast("decimal(38,0)"))
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    return _per_group(
        j,
        group_col,
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                F.col("sw").cast("double") / (na * nb * F.lit(100.0)), 6
            ),
        ).alias("w1"),
    )


def ols_multifeature_fit(
    df: DataFrame,
    group_cols: list[str],
    y_col: str,
    x1_col: str,
    x2_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group two-feature least squares y ~ b0 + b1·x1 + b2·x2 via
    the NORMAL EQUATIONS — the distributed closed form: one combinable
    aggregate pass builds the 3×3 Gram matrix X'X and the moment
    vector X'y, then Cramer's rule solves the system per group on the
    |groups|-row result. No iteration, no driver loop, no gradient
    steps — the multi-feature upgrade of grouped_ols_trend's
    sufficient-statistics pattern.

    Cross-engine exactness contract (the registry's float rule): all
    three inputs must already be EXACT INTEGERS (cents / units /
    integer-scaled percentages). First-order sums stay in int64;
    second-order sums (x², x·y, y²) accumulate in DECIMAL(38,0) —
    order-independent exact values either way. Only AFTER aggregation
    does the closed form run, as one fixed IEEE-double expression tree
    over those exact operands — bit-identical on any engine. det = 0
    (collinear or constant features) yields NULL coefficients, never a
    division.

    R² comes from the same pass: SSE = Σy² − b0·Σy − b1·Σx1y − b2·Σx2y,
    SST = Σy² − (Σy)²/n.

    Scale: ONE map-side-combinable groupBy over a pruned 3-column
    (+keys) scan; everything downstream is per-group scalar math on
    |groups| rows. At 100 TB this is the same shape as a grouped
    count — the Gram matrix is 6 numbers per group.
    """
    d0 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    y, x1, x2 = d0(y_col), d0(x1_col), d0(x2_col)
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(x1_col).cast("long")).alias("s1"),
        F.sum(F.col(x2_col).cast("long")).alias("s2"),
        F.sum(F.col(y_col).cast("long")).alias("sy"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x1 * y).alias("s1y"),
        F.sum(x2 * y).alias("s2y"),
        F.sum(y * y).alias("syy"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    n, s1, s2 = dd("n"), dd("s1"), dd("s2")
    s11, s22, s12 = dd("s11"), dd("s22"), dd("s12")
    sy, s1y, s2y, syy = dd("sy"), dd("s1y"), dd("s2y"), dd("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    ok = det != F.lit(0.0)
    b0 = F.when(ok, det0 / det)
    b1 = F.when(ok, det1 / det)
    b2 = F.when(ok, det2 / det)
    sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    sst = syy - sy * sy / n
    r2 = F.when(ok & (sst != F.lit(0.0)), F.lit(1.0) - sse / sst)
    return stats.select(
        *group_cols,
        F.col("n").alias("n_rows"),
        F.round(b0, round_to).alias("b0"),
        F.round(b1, round_to).alias("b1"),
        F.round(b2, round_to).alias("b2"),
        F.round(r2, round_to).alias("r2"),
    )


def time_weighted_mean(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_int_col: str,
    id_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Time-weighted mean over IRREGULARLY sampled values per group —
    the TSDB-standard LOCF integral (TimescaleDB's time_weight, Flux's
    timeWeightedAvg): each observation holds until the next one, so

        twa = Σ v_i·(t_{i+1} − t_i) / (t_N − t_0)

    The naive row mean over-weights bursts (ten readings in one busy
    second count ten times); the time integral weights by how LONG a
    value held — the correct aggregate for sampled gauges, sensor
    states, and sparse telemetry.

    Exactness: value must be an exact integer (cents); the per-row
    product value·Δt_µs exits int64 (~2·10¹⁹ for month-long holds), so
    products and their sum accumulate in DECIMAL(38,0) — exact and
    order-independent — and ONLY the final ratio is a double, rounded.
    The Δt chain is a per-group lead() window ordered by (ts, id) —
    a unique total order, parallel across groups, never global.

    Returns (group, n_points, span_us, naive_mean, time_weighted_mean)
    with means in value units (cents / 100).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(ts_col, id_col)
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    stepped = (
        df.where(F.col(value_int_col).isNotNull())
        .withColumn("__t", us(ts_col))
        .withColumn("__t_next", F.lead("__t").over(w))
        .withColumn("__dt", F.col("__t_next") - F.col("__t"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = stepped.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(F.col(value_int_col).cast("long")).alias("sum_v"),
        F.sum(F.when(F.col("__dt").isNotNull(), F.col("__dt"))).cast(
            "long"
        ).alias("span_us"),
        F.sum(
            F.when(
                F.col("__dt").isNotNull(),
                dec(F.col(value_int_col)) * dec(F.col("__dt")),
            )
        ).alias("sum_vdt"),
    )
    naive = (
        F.col("sum_v").cast("double") / F.col("n_points").cast("double")
    ) / F.lit(100.0)
    twa = F.when(
        F.col("span_us") > 0,
        (
            F.col("sum_vdt").cast("double") / F.col("span_us").cast("double")
        )
        / F.lit(100.0),
    )
    return agg.select(
        group_col,
        "n_points",
        F.coalesce("span_us", F.lit(0)).cast("long").alias("span_us"),
        F.round(naive, round_to).alias("naive_mean"),
        F.round(twa, round_to).alias("time_weighted_mean"),
    ).orderBy(group_col)
