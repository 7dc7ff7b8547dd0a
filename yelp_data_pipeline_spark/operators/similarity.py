"""Similarity search over embedding columns (north-star extension).

Two tiers:

- :func:`cosine_topk` — brute-force exact top-k. Map-side score (the
  query vector is a literal/broadcast), then TakeOrderedAndProject:
  each partition keeps a k-heap, the driver merges k·P rows. At 100 TB
  this is one full scan, zero shuffles — the right baseline.
- :func:`ivf_topk` — IVF-style approximate search: coarse-quantize
  vectors to centroids, probe only the nearest ``nprobe`` cells. The
  scan then prunes to ~nprobe/ncells of the data; with the table
  bucketed/partitioned by cell id it becomes partition pruning.
- :func:`cosine_neardup_pairs` — all-pairs above a threshold, for
  embedding-based dedup. Brute force is O(n²)/blocked; prefer LSH
  bucketing (random hyperplane signs) for n beyond ~10⁵ per executor.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.vectors import cosine, dot, norm
from ..session import ensure_min_parallelism


def _lit_vector_sql(vec) -> str | None:
    """SQL text of a literal double array (exact repr round-trip —
    see :func:`_lit_vector`), or None when an entry is non-finite:
    inf/nan have no SQL literal."""
    xs = [float(x) for x in vec]
    if not all(math.isfinite(x) for x in xs):
        return None
    return "array(" + ",".join(repr(x) + "D" for x in xs) + ")"


def _dot_lit_expr(vec_col_name: str, vec) -> F.Column:
    """``dot(col, literal_vector)`` built as ONE ``F.expr`` parse.

    The Python-built form — ``dot(F.col(c), _lit_vector(v))`` — pays
    ~39ms of py4j per call just CREATING the zip_with/aggregate lambda
    objects (measured r18: 48 planes = 2.5s of driver build time per
    cosine_neardup_pairs call). The SQL string parses in the JVM to
    the IDENTICAL expression tree functions.zip_with/aggregate build
    (same casts, same 0.0 seed, same left-to-right fold), so values
    and optimized plans are unchanged; only the construction path is
    cheaper (~10ms/plane). A non-finite entry has no SQL literal, so
    such a vector takes the Python-built form instead."""
    lit_sql = _lit_vector_sql(vec)
    if lit_sql is None:
        return dot(F.col(vec_col_name), _lit_vector(vec))
    return F.expr(
        f"aggregate(zip_with({vec_col_name}, {lit_sql}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _lit_vector(vec) -> F.Column:
    """Literal double-array column in ONE py4j round trip.

    The element-wise form — ``F.array(*[F.lit(x) for x in vec])`` —
    costs 2·dim py4j calls per vector; at 48 planes × 64 dims that was
    ~2.3s of pure DRIVER time per cosine_neardup_pairs build (guide
    §1.2 — the bench's build phase, measured r18). One ``F.expr`` with
    the values spelled out parses in the JVM in ~8ms per vector and
    yields the IDENTICAL optimized plan: Catalyst constant-folds the
    element-wise CreateArray to the same array Literal this produces
    directly. ``repr(float)`` is the shortest exact round-trip form
    and Spark's SQL lexer parses it back to the bit-identical double
    (verified incl. exponent forms, -0.0, 5e300). Non-finite values
    (inf/nan) have no SQL literal — fall back to element-wise lits.
    """
    lit_sql = _lit_vector_sql(vec)
    if lit_sql is not None:
        return F.expr(lit_sql)
    return F.array(*[F.lit(float(x)).cast("double") for x in vec])


def _query_vector_lit(vec: list[float]) -> F.Column:
    return _lit_vector(vec)


# ------------------------------------------------------- sign-LSH planes

LSH_PLANES = 16
LSH_BANDS = 8  # 8 bands × 2 bits → 4 buckets per band
# Adaptive banding rule (see adaptive_lsh_bits): buckets per band must
# GROW with the corpus or candidate pairs grow O(n²/2^bits) — the 5×
# scale bench measured fixed 2-bit bands at 12.5× cost for 5× vectors.
LSH_TARGET_BUCKET = 128
LSH_MAX_BITS = 12


def _plane_sign(p: int, i: int) -> float:
    """±1 Rademacher hyperplane component, derived from md5 so any
    engine (and the DuckDB oracle) can re-derive the identical plane."""
    h = int(hashlib.md5(f"hp:{p}:{i}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


def hyperplanes(n_planes: int = LSH_PLANES, dim: int = 64) -> list[list[float]]:
    """Planes are prefix-stable: plane ``p`` depends only on ``p``, so
    hyperplanes(16) == hyperplanes(96)[:16] — an adaptive caller and a
    fixed-width oracle can share the same plane family."""
    return [[_plane_sign(p, i) for i in range(dim)] for p in range(n_planes)]


def adaptive_lsh_bits(
    n_rows: int,
    target_bucket_size: int = LSH_TARGET_BUCKET,
    min_bits: int = 2,
    max_bits: int = LSH_MAX_BITS,
) -> int:
    """Corpus-adaptive bits-per-band: the smallest ``b`` in
    [min_bits, max_bits] with ``target_bucket_size · 2^b ≥ n_rows``
    (integer arithmetic only, so any engine replays the identical
    value — no float log2 edge cases). Expected bucket occupancy stays
    ≤ target_bucket_size, so candidate pairs grow ~O(n·target) instead
    of O(n²/2^bits_fixed). Past max_bits (n ≳ 0.5M at the default
    target) per-band recall at moderate cosine decays below usefulness
    — hand off to :func:`neardup_pairs_ivf`, whose cell count grows
    with n without a recall cliff."""
    bits = min_bits
    while bits < max_bits and (target_bucket_size << bits) < n_rows:
        bits += 1
    return bits


def signlsh_bits_pandas(
    df: DataFrame,
    n_planes: int,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched sign-bit projection: one numpy matmul per batch
    ((B×dim) @ (dim×p) → sign) instead of ``n_planes`` per-row JVM
    dot folds. Returns (id, sbits array<int>), the same bit family the
    expression path produces — wire it into
    :func:`cosine_neardup_pairs` with ``use_pandas_projection=True``
    when per-bucket row counts pass ~10⁷ and the p-fold expression
    dominates the stage profile.

    Caveat: BLAS accumulates the dot in a different order than the
    JVM's left-to-right fold, so a dot within numerical noise of 0 can
    flip sign between the two paths. Fine for LSH candidate
    generation (a boundary plane contributes ~no discrimination), but
    the expression path stays the default so the DuckDB correctness
    oracle compares a bit-identical banding.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    planes_t = np.asarray(hyperplanes(n_planes, dim), dtype=np.float64).T
    schema = StructType(
        [df.schema[id_col], StructField("sbits", ArrayType(IntegerType()), False)]
    )

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(
                pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64))
            )
            bits = (x @ planes_t > 0).astype(np.int32)
            yield pd.DataFrame({id_col: pdf[id_col], "sbits": list(bits)})

    return df.select(id_col, vec_col).mapInPandas(project, schema)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector."""
    q = _query_vector_lit(query_vec)
    score = F.round(cosine(F.col(vec_col), q), round_to)
    return (
        df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    dim: int = 64,
    n_planes: int | None = None,
    bands: int = LSH_BANDS,
    use_pandas_projection: bool = False,
) -> DataFrame:
    """Near-dup pairs with cosine ≥ threshold, via random-hyperplane
    sign-LSH bucketing (no cartesian / nested-loop join anywhere).

    Candidate generation: project each vector on ``n_planes``
    deterministic ±1 hyperplanes, take sign bits, pack ``n_planes //
    bands`` bits per band into a bucket id, and equi-join on
    (band_id, bucket) — only same-bucket vectors ever meet, so the
    join is a plain shuffled hash join keyed by the bucket. Candidates
    are then verified with the exact cosine, so there are no false
    positives; like any LSH, recall is probabilistic — a pair whose
    sign bits disagree in every band is missed. P[one band matches] =
    1-(1-p^r)^b with p = 1-θ/π. The DuckDB oracle replays the
    identical planes/banding, so the correctness gate compares like
    for like.

    BANDING IS CORPUS-ADAPTIVE BY DEFAULT: with ``n_planes=None`` the
    operator counts the corpus (a column-less parquet scan — row-group
    metadata, not data) and sizes bits-per-band via
    :func:`adaptive_lsh_bits`, so buckets per band grow with n and
    expected candidate pairs stay ~O(n · target_bucket_size). A fixed
    ``n_planes`` (e.g. the 16-plane / 2-bit legacy banding) is the
    explicitly-opt-in recall baseline: 2^bits buckets FOREVER, so
    candidates grow O(n²/2^bits) — the 5× scale bench measured that
    configuration at 12.5× cost for 5× vectors. Each extra bit halves
    per-bucket occupancy and costs p× per-band recall; at the ≥0.8
    cosine regime real dedup targets, 8 bands hold recall ≈0.9 even
    at 6 bits. Past ``LSH_MAX_BITS`` use :func:`neardup_pairs_ivf`.

    At n beyond ~10⁷ rows in a bucket, swap the per-row fold for the
    Arrow-batched matrix projection (:func:`signlsh_bits_pandas`); the
    banding logic is unchanged.
    """
    if n_planes is None:
        # Deterministic, engine-replayable sizing: both Spark and the
        # DuckDB oracle derive the identical bits from count(*).
        n_planes = bands * adaptive_lsh_bits(df.count())
    rows = n_planes // bands
    planes = hyperplanes(n_planes, dim)
    # Norms computed ONCE per vector here — the per-candidate verify
    # below then costs a single dot fold instead of dot + two norms
    # (bit-identical value: same expressions, evaluated earlier).
    # Three consumers (sign bits + both verify joins) — persist so the
    # scan + norm fold run once, not per consumer; tracked so the
    # session driver can release it after materialization.
    from ..session import track_persist

    pre = track_persist(
        ensure_min_parallelism(df).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("u"),
            norm(F.col(vec_col)).alias("nrm"),
        )
    )
    if use_pandas_projection:
        # Arrow path: one matmul per batch; bits land as an array
        # column, buckets unpacked with element_at.
        sig = signlsh_bits_pandas(pre, n_planes, dim, id_col="id", vec_col="u")
        bucket_of = lambda b: sum(
            F.element_at("sbits", b * rows + r + 1) * (1 << r)
            for r in range(rows)
        )
    else:
        bit_cols = [
            (_dot_lit_expr("u", planes[p]) > 0)
            .cast("int")
            .alias(f"bit{p}")
            for p in range(n_planes)
        ]
        sig = pre.select("id", *bit_cols)
        bucket_of = lambda b: sum(
            F.col(f"bit{b * rows + r}") * (1 << r) for r in range(rows)
        )
    # Slim banded rows (id, band_id, bucket): vectors stay out of the
    # band explode and its self-join shuffle.
    banded = sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), bucket_of(b).alias("bucket"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", F.col("bb.band_id"), F.col("bb.bucket"))
    # The LSH self-join consumes the banded relation twice; persisting
    # it runs the n_planes-dot sign projection once, not per side.
    banded = track_persist(banded)
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        pre.select(
            F.col("id").alias("id_a"), F.col("u").alias("ua"), F.col("nrm").alias("na")
        ),
        "id_a",
    ).join(
        pre.select(
            F.col("id").alias("id_b"), F.col("u").alias("ub"), F.col("nrm").alias("nb")
        ),
        "id_b",
    )
    # Zero-norm guard mirrors functions/vectors.cosine (ANSI-safe).
    score = F.when(
        (F.col("na") * F.col("nb")) > 0,
        F.round(
            dot(F.col("ua"), F.col("ub")) / (F.col("na") * F.col("nb")),
            round_to,
        ),
    )
    return (
        pairs.withColumn("score", score)
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    round_to: int = 6,
) -> DataFrame:
    """Batch ANN serving: exact top-k neighbors for EVERY query vector
    in ``queries`` at once.

    Plan: broadcast the (small) query set against the corpus scan —
    one pass over the data regardless of query count — then per-query
    top-k via a partitioned row_number window (per-key heap, shuffled
    only by qid). This is the serving-path shape: queries ≪ corpus,
    corpus scanned once, never once per query.
    """
    from pyspark.sql import Window

    scored = df.crossJoin(F.broadcast(queries)).select(
        F.col(qid_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(qvec_col)), round_to).alias("score"),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, id_col, "score")
    )


def cosine_neardup_pairs_exact(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact all-pairs baseline (O(n²) nested-loop join) — the recall
    yardstick for the LSH path in tests. Never use at scale."""
    pre = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("u"))
    a, b = pre.alias("a"), pre.alias("b")
    score = F.round(cosine(F.col("a.u"), F.col("b.u")), round_to)
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def ivf_topk(
    df: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF probe: rank cells by centroid∙query, search the best
    ``nprobe`` cells only.

    ``centroids``: (cell, centroid array<double>). In a real deployment
    the table is written partitioned/bucketed by cell so the probe is
    partition pruning, not a filter scan.
    """
    q = _query_vector_lit(query_vec)
    probe = (
        centroids.select(cell_col, cosine(F.col("centroid"), q).alias("cscore"))
        .orderBy(F.col("cscore").desc(), F.col(cell_col).asc())
        .limit(nprobe)
        .select(cell_col)
    )
    pruned = df.join(F.broadcast(probe), cell_col)
    score = F.round(cosine(F.col(vec_col), q), 6)
    return (
        pruned.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def train_centroids_by_label(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Per-cell mean vectors via posexplode + groupBy(cell, pos) — one
    shuffle of n·dim scalar rows, then re-assembled with array_agg
    ordered by position. (Stands in for a k-means trainer; the IVF
    plumbing is identical.)

    Means are rounded to ``round_to`` decimals: a parallel float mean
    is order-dependent in the last ULP, and rounding makes the trained
    centroids reproducible across engines/partitionings (so the DuckDB
    oracle can replay the probe exactly)."""
    pos = df.select(
        F.col(label_col).alias("cell"), F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    means = pos.groupBy("cell", "pos").agg(
        F.round(F.avg(F.col("x").cast("double")), round_to).alias("m")
    )
    return (
        means.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cell", F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """The Lloyd-iteration trainer behind :func:`kmeans_spherical`:
    deterministic init (ids < k, through a groupBy so the ≤ k bound is
    structural in the plan), then ``iters`` rounds of rounded-argmax
    assignment + rounded per-dimension means. Returns (cell, centroid
    array<double>) — the cell table IVF routing and cell-blocked
    dedup consume.

    PRECONDITION: the deterministic init assumes ``id_col`` holds
    dense integers starting at 0 (``id < k`` selects exactly k seed
    vectors). Sparse or non-integer ids would silently seed fewer
    than k cells, so the trainer counts the seed set (a pruned
    min/max-pushdown filter scan, one tiny job) and raises instead of
    returning a degenerate clustering."""
    cents = (
        df.filter(F.col(id_col) < k)
        .groupBy(F.col(id_col).alias("cell"))
        .agg(
            F.first(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("centroid")
        )
    )
    n_init = cents.count()
    if n_init < k:
        if n_init == 0 and df.isEmpty():
            # Empty input: no cells to train — an empty (cell,
            # centroid) relation, not a crash. The mis-keyed-ids error
            # below is reserved for inputs that HAVE vectors.
            return cents
        raise ValueError(
            f"kmeans_centroids init selected {n_init} of {k} seed vectors: "
            f"'{id_col}' must hold dense integers starting at 0 (ids 0..k-1 "
            "present). Re-key the input (e.g. surrogate_key) or lower k."
        )
    for _ in range(iters):
        assign = classify_to_centroids(df, cents, id_col, vec_col)
        labeled = df.select(id_col, vec_col).join(
            assign.select(id_col, F.col("label").alias("__km_label")), id_col
        )
        cents = train_centroids_by_label(
            labeled, "__km_label", vec_col, round_to=round_to
        )
    return cents


def kmeans_spherical(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Spherical k-means (Lloyd iterations under cosine similarity),
    composed entirely from the two oracle-proven centroid primitives:
    assignment = :func:`classify_to_centroids` (broadcast cross join +
    rounded-score argmax), update = :func:`train_centroids_by_label`
    (posexplode + per-dimension rounded mean).

    Determinism across engines: init centroids are the vectors with
    ``id < k`` (no RNG), every score is rounded before the argmax with
    a label tiebreak, every mean is rounded before the next iteration
    — so a sequential SQL engine replays the identical trajectory.

    Scale shape: each iteration is one broadcast cross join over the
    corpus (k ≪ n rows broadcast) plus one (cell, pos)-keyed mean —
    both linear in n. The loop is lazy; on a real cluster persist the
    assignment relation per iteration to stop lineage growth (the
    bounded ``iters`` here keeps the plan shallow). Empty clusters
    drop out of the centroid set, exactly as in textbook Lloyd.
    Output: (id, label, score) after ``iters`` updates.
    """
    cents = kmeans_centroids(df, k, iters, id_col, vec_col, round_to)
    return classify_to_centroids(df, cents, id_col, vec_col)


#: Cell count at which neardup_pairs_ivf switches from flat O(n·k)
#: routing to two-hop O(n·√k) hierarchical routing. Flat scores every
#: vector against every centroid (one broadcast cross join); at ~10⁴
#: cells that inner loop dominates the stage, while the two-hop
#: detour's extra shuffle stops mattering.
HIERARCHICAL_ROUTING_CELLS = 4096


def neardup_pairs_ivf(
    df: DataFrame,
    threshold: float,
    k_cells: int = 8,
    probes: int = 2,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    hierarchical_from: int = HIERARCHICAL_ROUTING_CELLS,
) -> DataFrame:
    """Embedding near-dup pairs blocked by IVF cells — the bucketing
    whose cardinality GROWS with the corpus, unlike sign-LSH's fixed
    2^bits buckets (the 5× bench measured that inflection): train
    ``k_cells`` spherical-k-means centroids, route every vector to its
    top ``probes`` cells, take same-cell pairs as candidates, verify
    with the exact cosine. Candidates are O(n²·probes²/k_cells); pick
    k_cells ≈ n/target_bucket_size at scale and the per-cell work stays
    constant.

    Multi-probe (``probes`` > 1) is the recall lever: a pair split by a
    cell boundary still meets in a shared second-choice cell. Like all
    LSH-family blockers, recall is probabilistic and the oracle replays
    the identical deterministic routing, so the gate compares like for
    like. Output: (id_a, id_b, score ≥ threshold).

    Measured at 5×/5×-cells: 2.9× cost — the best-scaling embedding
    blocker here. ROUTING is flat O(n·k_cells) (one broadcast
    cross-join score per vector per cell) below ``hierarchical_from``
    cells; at or above it the probed stage switches to
    :func:`route_hierarchical` (two-hop coarse→fine, O(n·√k)) —
    candidate join and verify are unchanged. Tests pin that the
    branch engages and agrees with flat routing at full coverage.
    """
    from pyspark.sql import Window

    from ..session import track_persist

    cents = kmeans_centroids(df, k_cells, iters, id_col, vec_col, round_to)
    pre = track_persist(
        ensure_min_parallelism(df).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("u"),
            norm(F.col(vec_col)).alias("nrm"),
        )
    )
    if k_cells >= hierarchical_from:
        probed = route_hierarchical(
            df, cents, probes=probes, id_col=id_col, vec_col=vec_col
        ).select(F.col(id_col).alias("id"), "cell")
    else:
        score = F.round(cosine(F.col("u"), F.col("centroid")), round_to)
        scored = pre.select("id", "u").crossJoin(F.broadcast(cents)).select(
            "id", F.col("cell"), score.alias("s")
        )
        w = Window.partitionBy("id").orderBy(
            F.col("s").desc(), F.col("cell").desc()
        )
        probed = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= probes)
            .select("id", "cell")
        )
    # The within-cell self-join consumes the routed relation twice;
    # persisting it runs cell routing (the O(n·k) or two-hop scoring
    # pass) once, not per side.
    probed = track_persist(probed)
    a, b = probed.alias("a"), probed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        pre.select(
            F.col("id").alias("id_a"), F.col("u").alias("ua"),
            F.col("nrm").alias("na"),
        ),
        "id_a",
    ).join(
        pre.select(
            F.col("id").alias("id_b"), F.col("u").alias("ub"),
            F.col("nrm").alias("nb"),
        ),
        "id_b",
    )
    # Zero-norm guard mirrors functions/vectors.cosine (ANSI-safe).
    pscore = F.when(
        (F.col("na") * F.col("nb")) > 0,
        F.round(
            dot(F.col("ua"), F.col("ub")) / (F.col("na") * F.col("nb")),
            round_to,
        ),
    )
    return (
        pairs.select("id_a", "id_b", pscore.alias("score"))
        .filter(F.col("score") >= threshold)
    )


def route_hierarchical(
    df: DataFrame,
    cents: DataFrame,
    probes: int = 2,
    coarse_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-hop IVF routing — the O(n·√k) replacement for flat
    O(n·k_cells) cell assignment once the centroid table itself is
    large (~10⁴+ cells): coarse-quantize the CENTROID table to ≈√k
    coarse cells, score each vector against the coarse set only, then
    against the fine centroids belonging to its top ``coarse_probes``
    coarse cells.

    The coarse quantizer is the first √k fine centroids by cell id
    (deterministic, no extra training — routing only needs a roughly
    even partition of centroid space). Approximate by construction: a
    vector whose best fine cell hides under an unprobed coarse cell
    routes to its best PROBED fine cell; raise ``coarse_probes`` to
    trade cost for recall (tests pin top-1 agreement ≥ 0.9 vs flat
    routing on the fixture). Output: (id, cell, rn) with rn ≤ probes,
    same shape flat routing feeds the candidate join.
    """
    import math

    from pyspark.sql import Window

    k = cents.count()  # the centroid table is bounded by construction
    kc = max(1, int(math.ceil(math.sqrt(k))))
    coarse = (
        cents.orderBy("cell")
        .limit(kc)
        .select(
            F.col("cell").alias("ccell"), F.col("centroid").alias("ccentroid")
        )
    )
    # fine cell → owning coarse cell (k rows; broadcastable map).
    fine2coarse = classify_to_centroids(
        cents.select(F.col("cell").alias("fcell"), F.col("centroid")),
        coarse,
        id_col="fcell",
        vec_col="centroid",
        cell_col="ccell",
        centroid_col="ccentroid",
    ).select("fcell", F.col("label").alias("ccell"))

    # hop 1: vector → top coarse cells (n·√k scores).
    cscore = F.round(cosine(F.col(vec_col), F.col("ccentroid")), 6)
    wc = Window.partitionBy(id_col).orderBy(
        F.col("cs").desc(), F.col("ccell").desc()
    )
    coarse_pick = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(coarse))
        .select(id_col, vec_col, "ccell", cscore.alias("cs"))
        .withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= coarse_probes)
        .select(id_col, vec_col, "ccell")
    )

    # hop 2: score only the member fine cells of the picked coarse
    # cells (n·coarse_probes·(k/√k) ≈ n·√k scores).
    member = coarse_pick.join(F.broadcast(fine2coarse), "ccell").join(
        F.broadcast(cents.select(F.col("cell"), F.col("centroid"))),
        F.col("fcell") == F.col("cell"),
    )
    fscore = F.round(cosine(F.col(vec_col), F.col("centroid")), 6)
    wf = Window.partitionBy(id_col).orderBy(
        F.col("fs").desc(), F.col("cell").desc()
    )
    return (
        member.select(id_col, "cell", fscore.alias("fs"))
        .dropDuplicates([id_col, "cell"])
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= probes)
        .select(id_col, "cell", "rn")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale_to: int = 6,
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: q[i] =
    round(x[i] · 127 / max|x|), the standard 4× shrink for ANN indexes
    and training-shard shipping.

    Entirely map-side (zero shuffles — at 100 TB this is a pure scan →
    write). The two higher-order transforms are interpreted, not
    codegen, but at 64 dims the per-row cost is trivial and stays in
    the JVM. max|x| = 0 (all-zero vector) yields NULL qvec rather than
    a division error. Output: (id, scale, qvec array<int>).
    """
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax > 0, absmax / F.lit(127.0))
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(127.0) / absmax).cast("int"),
    )
    return df.select(
        F.col(id_col),
        F.round(scale, round_scale_to).alias("scale"),
        F.when(absmax > 0, q).alias("qvec"),
    )


def classify_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    centroid_col: str = "centroid",
    round_to: int = 6,
) -> DataFrame:
    """Nearest-centroid classification: each vector gets the label of
    its highest-cosine centroid — k-means assignment, weak-label
    propagation, IVF cell routing are all this one operator.

    The centroid set is tiny by construction (ncells ≪ n), so the
    fan-out is a broadcast cross join (n·ncells map-side scores, zero
    shuffle on the big side) followed by one groupBy argmax. The
    argmax compares (rounded score, cell) structs — rounding first
    makes the winner identical across engines even when two raw
    doubles differ in the last ulp; cell breaks exact ties
    deterministically. Output: (id, label, score).
    """
    score = F.round(
        cosine(F.col(vec_col), F.col(centroid_col)), round_to
    ).alias("score")
    scored = vectors.select(id_col, vec_col).crossJoin(
        F.broadcast(centroids.select(cell_col, centroid_col))
    )
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(score, F.col(cell_col).alias("label"))).alias("b")
    )
    return best.select(
        id_col, F.col("b.label").alias("label"), F.col("b.score").alias("score")
    )


def l2_normalize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 100000,
    round_norm_to: int = 6,
) -> DataFrame:
    """Unit-normalize embeddings — the prep step every cosine-metric
    index (IVF, HNSW, sign-LSH) wants, after which cosine = dot and
    the per-pair sqrt disappears from the hot loop.

    Entirely map-side (zero shuffle at any scale: scan → transform →
    write). The unit vector is emitted as fixed-point ints
    (round(x/‖x‖ · quant)) serialized to CSV: float→string formatting
    diverges between engines, int CSV doesn't — same convention as
    quantize_embeddings. Zero vectors yield NULL instead of NaN.
    Output: (id, norm, unit_q5).
    """
    nrm = norm(F.col(vec_col))
    unit = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") / nrm * quant).cast("int"),
    )
    return df.select(
        F.col(id_col),
        F.when(nrm > 0, F.round(nrm, round_norm_to)).alias("norm"),
        F.when(nrm > 0, F.array_join(unit, ",")).alias("unit_q5"),
    )


def ivf_topk_batch(
    df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    round_to: int = 6,
) -> DataFrame:
    """Batch IVF serving: route EVERY query to its ``nprobe`` nearest
    centroid cells, then score only candidates in those cells — the
    pruned-scan twin of :func:`cosine_topk_batch`.

    Plan shape at 100 TB: routing is a tiny×tiny broadcast cross join
    (queries × centroids); the candidate fetch broadcasts the routed
    (qid, cell, qv) list against the corpus scan, so with the corpus
    partitioned by cell the scan prunes to ~nprobe/ncells of the data
    and the only shuffle is the per-qid top-k window on k·|q| rows.
    Ties break on (rounded score desc, id asc) — deterministic and
    oracle-replayable. Output: (qid, id, score).
    """
    from pyspark.sql import Window

    routed = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            F.col(qid_col),
            F.col(qvec_col),
            F.col(cell_col),
            F.round(cosine(F.col(qvec_col), F.col("centroid")), round_to).alias(
                "r_score"
            ),
        )
    )
    wr = Window.partitionBy(qid_col).orderBy(
        F.col("r_score").desc(), F.col(cell_col).asc()
    )
    probe = (
        routed.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= nprobe)
        .select(qid_col, qvec_col, cell_col)
    )
    cand = df.join(F.broadcast(probe), on=cell_col).select(
        F.col(qid_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(qvec_col)), round_to).alias("score"),
    )
    wk = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select(qid_col, id_col, "score")
    )


def ann_recall_eval(
    df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    qid_col: str = "qid",
    qvec_col: str = "qv",
) -> DataFrame:
    """Recall@k of the IVF path against the exact brute-force answer,
    per query — the eval loop that decides nprobe/ncells before
    anyone trusts an approximate index in production.

    Both arms reuse the serving operators (one corpus scan each); the
    comparison is an inner join on (qid, id) plus a per-qid count, and
    queries whose IVF arm missed everything still appear with recall
    0. Output: (qid, n_hits, recall_at_k), recall rounded to 6dp.
    """
    brute = cosine_topk_batch(
        df, queries, k=k, id_col=id_col, vec_col=vec_col,
        qid_col=qid_col, qvec_col=qvec_col,
    )
    approx = ivf_topk_batch(
        df, centroids, queries, k=k, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col, cell_col=cell_col, qid_col=qid_col, qvec_col=qvec_col,
    )
    hits = (
        brute.join(approx, [qid_col, id_col])
        .groupBy(qid_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        queries.select(qid_col)
        .join(hits, qid_col, "left")
        .select(
            F.col(qid_col),
            F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n"), F.lit(0)).cast("double") / k, 6
            ).alias(f"recall_at_{k}"),
        )
    )


def embedding_norm_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    z_threshold: float = 2.0,
    weight: F.Column | None = None,
) -> DataFrame:
    """Norm-based embedding outlier screen: flag vectors whose L2 norm
    sits more than ``z_threshold`` standard deviations from the corpus
    mean — the cheap first-pass catch for broken encoders, truncated
    rows, and un-normalized batches before any index build.

    Corpus moments come from ONE decimal-exact aggregate (sum and
    sum-of-squares of the 6dp-rounded norms — order-independent, so
    both engines derive the identical mean/std) broadcast back as a
    1-row literal join; the scan itself is map-side. Output:
    (id, norm, z), outliers only, z rounded 6dp.

    ``weight`` optionally scales each norm (e.g. to reconstruct raw,
    pre-normalization magnitudes on a unit-normalized corpus). When the
    corpus is perfectly uniform (``sd == 0``) no row is an outlier by
    definition — z is NULL-guarded rather than divided by zero, so the
    screen degrades to an empty result instead of an ANSI crash.
    """
    nr = norm(F.col(vec_col))
    if weight is not None:
        nr = nr * weight
    nr = F.round(nr, 6)
    base = df.select(F.col(id_col), nr.alias("nr"))
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("nr").cast("decimal(27,6)")).alias("s1"),
        # (18,6)×(18,6) → (37,12): stays inside both engines' 38-digit
        # decimal cap ((27,6)² would overflow DuckDB's multiply).
        F.sum(
            (F.col("nr").cast("decimal(18,6)") * F.col("nr").cast("decimal(18,6)"))
        ).alias("s2"),
    ).select(
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            F.col("s2").cast("double") / F.col("n")
            - (F.col("s1").cast("double") / F.col("n"))
            * (F.col("s1").cast("double") / F.col("n"))
        ).alias("sd"),
    )
    # CASE WHEN is lazily evaluated, so the division never runs when
    # sd == 0 — safe under ANSI sessions (the driver runs ANSI on).
    z = F.when(
        F.col("sd") > 0, F.round((F.col("nr") - F.col("mu")) / F.col("sd"), 6)
    )
    return (
        base.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.col("nr").alias("norm"), z.alias("z"))
        .where(F.abs(F.col("z")) > z_threshold)
    )


def _pq_subvec(vec_col: F.Column, j: F.Column, s: int) -> F.Column:
    """j-th length-``s`` double subvector (1-based slice)."""
    return F.slice(
        F.transform(vec_col, lambda x: x.cast("double")), j * s + 1, s
    )


def _pq_codebook_and_codes(
    df: DataFrame, id_col: str, vec_col: str, m: int, k: int, dim: int
):
    """Shared PQ core: (codebook, best) where codebook = (c, j, csv)
    — the md5-seeded codeword subvectors, m·k rows — and best =
    (id, j, struct b(d2, c)) — each vector's nearest codeword per
    subspace with its squared distance. See pq_encode for the
    determinism and scale arguments."""
    from ..functions.hashing import md5_long
    from pyspark.sql import Window

    if m <= 0 or dim % m != 0:
        raise ValueError(
            f"PQ requires dim divisible by m: dim={dim}, m={m} "
            "(trailing vector components would be silently dropped)"
        )
    s = dim // m
    seeds = (
        df.select(
            F.col(vec_col).alias("sv"),
            md5_long(F.col(id_col).cast("string")).alias("h"),
            F.col(id_col).alias("sid"),
        )
        .orderBy("h", "sid")
        .limit(k)
    )
    # k rows total: the unpartitioned window is bounded, not data-scale.
    cw = Window.orderBy("h", "sid")
    seeds = seeds.withColumn("c", F.row_number().over(cw) - 1).drop("h", "sid")
    subs = F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("j")
    codebook = seeds.select("c", "sv", subs).select(
        "c", "j", _pq_subvec(F.col("sv"), F.col("j"), s).alias("csv")
    )
    vecs = (
        df.select(F.col(id_col), F.col(vec_col).alias("v"))
        .select(id_col, "v", subs)
        .select(
            id_col, "j", _pq_subvec(F.col("v"), F.col("j"), s).alias("vsv")
        )
    )
    d2 = F.aggregate(
        F.zip_with(F.col("vsv"), F.col("csv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    scored = vecs.join(F.broadcast(codebook), "j").select(
        id_col, "j", "c", d2.alias("d2")
    )
    best = scored.groupBy(id_col, "j").agg(
        F.min(F.struct("d2", "c")).alias("b")
    )
    return codebook, best


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization encode (Jégou et al., PAMI 2011): split
    each vector into ``m`` subvectors, assign every subvector to its
    nearest codeword in that subspace's ``k``-entry codebook, and emit
    the m-byte code plus the reconstruction error — the memory layout
    behind billion-scale ANN (m·log2(k) bits per vector vs 4·dim
    bytes; here 8 codes × 4 bits = 4 bytes, a 64× shrink).

    Codebook: the ``k`` corpus vectors with the smallest md5(vec_id)
    — a deterministic uniform sample, the same init a per-subspace
    k-means trainer would start from (``kmeans_centroids`` is the
    refinement path; encode structure is identical either way, and a
    seeded codebook keeps the oracle replayable without unrolling m
    independent k-means loops). The k-row rank window is bounded by
    construction (TakeOrdered of k rows), never a data-scale
    single-reducer sort.

    Determinism: subspace distances fold left-to-right over fixed
    component order (zip_with + aggregate — never a shuffle-ordered
    float sum); per-id totals likewise fold over a j-sorted collected
    array, so recon_err is bit-stable across partitionings and
    engines. Argmin ties break to the lowest codeword index via
    struct-min.

    Plan: codebook is m·k rows broadcast; the n·m exploded subvector
    relation joins it map-side (n·m·k distance rows is PQ's inherent
    encode cost), then ONE (id) groupBy folds codes and error.
    Returns (id, codes 'c0,...,cm-1', recon_err 6dp).
    """
    _, best = _pq_codebook_and_codes(df, id_col, vec_col, m, k, dim)
    per_id = best.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("j", F.col("b.c").alias("c"), F.col("b.d2").alias("d2")))
        ).alias("parts")
    )
    codes = F.array_join(
        F.transform(F.col("parts"), lambda p: p["c"].cast("string")), ","
    )
    err = F.round(
        F.sqrt(
            F.aggregate(
                F.col("parts"), F.lit(0.0), lambda acc, p: acc + p["d2"]
            )
        ),
        6,
    )
    return per_id.select(F.col(id_col), codes.alias("codes"), err.alias("recon_err"))


def pq_adc_topk(
    df: DataFrame,
    query_id,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    k: int = 10,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search — the serving path
    product quantization exists for: the query stays full-precision,
    the corpus is only its m-byte codes, and each candidate's
    approximate L2² is a sum of m lookup-table entries instead of a
    dim-component dot product (Jégou et al., PAMI 2011, §IV).

    The LUT is m·k_codes rows (query subvector vs every codeword,
    computed once, broadcast); scoring the whole corpus is then an
    (j, c) equi-join of the code relation against the broadcast LUT +
    a per-id fold — no vector arithmetic per candidate at all, which
    is the 64×-less-memory-AND-less-compute scan that makes
    billion-vector serving feasible. Distance sums fold over j-sorted
    arrays (the pq_encode determinism argument); final top-k is a
    TakeOrderedAndProject with id tiebreak, query row included (rank
    1 at distance ≈ recon error).

    Returns (id, adc_d2) — the k smallest approximate distances, 6dp.
    """
    scores = _pq_adc_scores(df, [query_id], id_col, vec_col, m, k_codes, dim)
    return (
        scores.drop("qid")
        .orderBy(F.asc("adc_d2"), F.asc(id_col))
        .limit(k)
    )


def _pq_adc_scores(
    df: DataFrame,
    query_ids: list,
    id_col: str,
    vec_col: str,
    m: int,
    k_codes: int,
    dim: int,
) -> DataFrame:
    """Shared ADC scoring core: (qid, id, adc_d2) for every (query,
    corpus vector) pair — LUT build, (j, code) equi-join, and the
    j-sorted deterministic fold live HERE so the single-query and
    batch entry points cannot drift apart. The callers only differ in
    ranking (global TakeOrdered vs per-qid row_number)."""
    # Validate the query set up front (mirrors pagerank_personalized's
    # seed check): an empty list makes isin() raise opaquely, and an id
    # absent from the corpus would silently vanish from the output —
    # "no neighbors found" when the truth is "no such query vector".
    if not query_ids:
        raise ValueError("_pq_adc_scores: query_ids must be non-empty")
    n_found = (
        df.where(F.col(id_col).isin(*query_ids))
        .select(id_col)
        .distinct()
        .count()
    )
    if n_found != len(set(query_ids)):
        if df.isEmpty():
            # Empty corpus: there is nothing to score and nothing to
            # mis-reference — an empty (qid, id, adc_d2) relation, not
            # a crash (the typo'd-id error below only makes sense when
            # a corpus exists for the ids to miss).
            return df.select(
                F.col(id_col).alias("qid"),
                F.col(id_col),
                F.lit(0.0).alias("adc_d2"),
            )
        raise ValueError(
            f"_pq_adc_scores: {len(set(query_ids)) - n_found} of "
            f"{len(set(query_ids))} query ids not present in the corpus "
            "— check the query_ids."
        )
    codebook, best = _pq_codebook_and_codes(df, id_col, vec_col, m, k_codes, dim)
    s = dim // m
    subs = F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("j")
    qsub = (
        df.where(F.col(id_col).isin(*query_ids))
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .select("qid", "qv", subs)
        .select(
            "qid", "j", _pq_subvec(F.col("qv"), F.col("j"), s).alias("qsv")
        )
    )
    qd2 = F.aggregate(
        F.zip_with(F.col("qsv"), F.col("csv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    lut = qsub.join(codebook, "j").select("qid", "j", "c", qd2.alias("qd2"))
    codes = best.select(id_col, "j", F.col("b.c").alias("c"))
    scored = codes.join(F.broadcast(lut), ["j", "c"])
    per = scored.groupBy("qid", id_col).agg(
        F.array_sort(F.collect_list(F.struct("j", "qd2"))).alias("parts")
    )
    adc = F.round(
        F.aggregate(F.col("parts"), F.lit(0.0), lambda acc, p: acc + p["qd2"]),
        6,
    )
    return per.select("qid", F.col(id_col), adc.alias("adc_d2"))


def pq_adc_topk_batch(
    df: DataFrame,
    query_ids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    k: int = 10,
) -> DataFrame:
    """Batch ADC serving: top-k per query for a SET of query vectors
    in one corpus pass — the LUT becomes |Q|·m·k_codes rows (still a
    broadcast), scoring stays the same (j, c) equi-join + fold, and
    per-query ranking is a row_number window keyed by qid. One code
    relation, one LUT join, |Q| results: the queries ≪ corpus serving
    shape (cosine_topk_batch's PQ twin).

    Returns (qid, id, adc_d2) — k rows per query, ties on distance
    broken by id.
    """
    from pyspark.sql import Window

    scores = _pq_adc_scores(df, query_ids, id_col, vec_col, m, k_codes, dim)
    w = Window.partitionBy("qid").orderBy(F.asc("adc_d2"), F.asc(id_col))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def pq_recall_eval(
    df: DataFrame,
    query_ids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    k: int = 10,
) -> DataFrame:
    """Recall@k of PQ/ADC search against the exact L2 ground truth —
    the number an index owner actually tunes m / k_codes against
    (ann_recall_eval's PQ twin; on a unit-normalized corpus exact-L2
    and exact-cosine rankings coincide).

    Ground truth: full-precision L2² per (query, candidate), folded
    left-to-right over components (same determinism contract as the
    ADC sums), top-k per query by (distance, id). Both sides are
    computed in one corpus pass each; the intersection count is a
    plain (qid, id) equi-join.

    Returns (qid, n_hits, recall_at_k), one row per query id.
    """
    approx = pq_adc_topk_batch(
        df, query_ids, id_col, vec_col, m, k_codes, dim, k
    )
    from pyspark.sql import Window

    q = df.where(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            F.transform(F.col("qv"), lambda x: x.cast("double")),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    scored = df.crossJoin(F.broadcast(q)).select(
        "qid", F.col(id_col), F.round(d2, 6).alias("d2")
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc(id_col))
    exact = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", id_col)
    )
    hits = (
        exact.join(approx.select("qid", id_col), ["qid", id_col])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        q.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n"), F.lit(0)).cast("double") / k, 6
            ).alias(f"recall_at_{k}"),
        )
    )


def _top_pc_state(
    df: DataFrame, vec_col: str, dim: int, iters: int
):
    """Shared state for the top-PC family: (cov, mu, v, sg) frames —
    the exactly-aggregated covariance cells, per-dim means, the
    power-iterated (pre-sign-fix) unit vector, and the 1-row sign.
    See :func:`embedding_top_pc` for the numerics contract."""
    from pyspark.sql import Window

    from ..session import ensure_min_parallelism, track_persist

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = ensure_min_parallelism(df).select(v.alias("v"))

    idx = F.sequence(F.lit(1), F.lit(dim))
    pair_arr = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                idx,
                lambda j: F.struct(
                    i.cast("int").alias("i"),
                    j.cast("int").alias("j"),
                    (
                        F.element_at(F.col("v"), i)
                        * F.element_at(F.col("v"), j)
                    ).alias("p"),
                ),
            ),
        )
    )
    m2 = (
        base.select(F.explode(pair_arr).alias("e"))
        .select("e.*")
        .groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(38,18)")).alias("s"))
    )
    sing = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("i"),
            F.element_at(F.col("v"), i).alias("x"),
        ),
    )
    mu = (
        base.select(F.explode(sing).alias("e"))
        .select("e.*")
        .groupBy("i")
        .agg(
            F.sum(F.col("x").cast("decimal(38,18)")).alias("sx"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "i",
            (F.col("sx").cast("double") / F.col("n").cast("double")).alias(
                "mu"
            ),
            "n",
        )
    )
    cov = track_persist(
        m2.join(mu.select("i", F.col("mu").alias("mi"), "n"), "i")
        .join(
            mu.select(F.col("i").alias("j"), F.col("mu").alias("mj")), "j"
        )
        .select(
            "i",
            "j",
            (
                F.col("s").cast("double") / F.col("n").cast("double")
                - F.col("mi") * F.col("mj")
            ).alias("c"),
        )
    )

    spark = df.sparkSession

    def matvec(vframe):
        return (
            cov.join(vframe, "j")
            .groupBy("i")
            .agg(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("j"),
                                (F.col("c") * F.col("vj")).alias("t"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x["t"],
                ).alias("u")
            )
        )

    # ITERATION stage runs on the DRIVER (r17, guide §1.2/§5): the
    # covariance relation is dim²-bounded (4096 cells at dim=64 —
    # constant in data size, the windows.py bounded-collect legitimacy
    # class), so ONE collect replaces ~2 Spark jobs per power round
    # (the per-round matvec/normalize eager checkpoint plus its
    # broadcast build — measured ~5s of pure job overhead at sf0.1 for
    # a 64-row matvec). The arithmetic is the IDENTICAL IEEE sequence
    # the in-plan fold performed: per i, c·v products accumulated in
    # ascending-j order from 0.0; norm = sqrt of the i-ordered sum of
    # squares; division per element — so the result is bit-identical
    # (the DuckDB oracle replays the same fold). The data-scale pass
    # (covariance aggregation) stays distributed and persisted for the
    # downstream trace/Rayleigh consumers.
    cells = cov.collect()
    by_i: dict[int, dict[int, float]] = {}
    for r in cells:
        by_i.setdefault(int(r["i"]), {})[int(r["j"])] = (
            None if r["c"] is None else float(r["c"])
        )
    # Degenerate-input semantics follow Spark SQL's: double arithmetic
    # propagates NULL through + and *, non-ANSI `Divide` returns NULL
    # for a zero divisor (as DuckDB's `/` does), and the sort/
    # comparison order treats NaN as LARGER than any double. Python
    # floats raise on /0.0 and order NaN incoherently, so both get
    # explicit shims instead of bare operators.
    def _spark_div(a, b):
        if a is None or b is None or b == 0.0:
            return None
        return a / b

    def _spark_abs_key(x):
        # Sort key for ORDER BY abs(vj) DESC: NULLS LAST, NaN first.
        if x is None:
            return (0, 0.0)
        a = abs(x)
        return (2, 0.0) if math.isnan(a) else (1, a)

    if by_i:
        v = {j: 1.0 / math.sqrt(float(dim)) for j in range(1, dim + 1)}
        for _ in range(iters):
            u = {}
            for i, row in by_i.items():
                acc = 0.0
                for j in sorted(row):
                    if j in v:
                        t = (
                            None
                            if row[j] is None or v[j] is None
                            else row[j] * v[j]
                        )
                        acc = None if acc is None or t is None else acc + t
                u[i] = acc
            nm = 0.0
            for i in sorted(u):
                nm = (
                    None
                    if nm is None or u[i] is None
                    else nm + u[i] * u[i]
                )
            nm = None if nm is None else math.sqrt(nm)
            v = {i: _spark_div(u[i], nm) for i in u}
        vdf = spark.createDataFrame(
            [
                (int(j), None if v[j] is None else float(v[j]))
                for j in sorted(v)
            ],
            "j int, vj double",
        )
        # Sign convention: component with the largest |loading|
        # (smallest index on ties) decides — same total order the
        # previous row_number window used (abs DESC w/ Spark's
        # NaN-largest + NULLS LAST, then j ASC). when(vj >= 0) is
        # TRUE for NaN under Spark's comparison order, not-true for
        # NULL.
        top_j = max(sorted(v), key=lambda j: (_spark_abs_key(v[j]), -j))
        tv = v[top_j]
        sg_val = (
            1.0 if tv is not None and (math.isnan(tv) or tv >= 0) else -1.0
        )
        sg = spark.createDataFrame([(sg_val,)], "sg double")
    else:
        # Empty corpus: empty unit vector and sign, matching the
        # previous all-Spark behavior (empty frames, not a crash).
        vdf = spark.createDataFrame([], "j int, vj double")
        sg = spark.createDataFrame([], "sg double")
    return cov, mu, vdf, sg, matvec


def embedding_top_pc(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 8,
) -> DataFrame:
    """Top principal component of an embedding corpus by POWER
    ITERATION over the exactly-aggregated covariance matrix — the
    embedding-diagnostics operator (anisotropy / dominant-direction /
    drift checks; Mu & Viswanath 2018's "all-but-the-top" starts
    exactly here) at 100 TB scale.

    Two-stage split that makes this distributed-friendly:

    1. COVARIANCE (the only data-scale pass): each row map-side
       explodes its d² component products; one (i, j)-keyed groupBy
       with map-side combine reduces n·d² product rows to d² cells.
       Sums accumulate in DECIMAL(38,18) of correctly-rounded double
       products — order-independent, so the matrix is bit-identical
       across engines/partitionings/retries (the exact_sum rule).
       C = E[x_i x_j] − μ_i μ_j assembled in doubles of those exact
       operands.

    2. ITERATION (data-free): ``iters`` fixed power-iteration rounds
       (anytime contract) on the d²-cell relation — matvec as a join
       + per-i fold over a j-SORTED array (never a shuffle-ordered
       float sum), normalization via sqrt (IEEE correctly rounded,
       allowed by the float rules — unlike ln/exp) of an i-sorted
       fold. 1-row/64-row eager localCheckpoints keep lineage linear.

    Sign convention (eigenvectors are sign-ambiguous): the component
    with the largest |loading| (smallest index on ties) is made
    positive — deterministic on both engines.

    Convergence is (λ₂/λ₁)^iters: fast exactly when a dominant
    direction EXISTS (the case the diagnostic hunts); on a
    near-isotropic corpus the direction estimate stays diffuse while
    the Rayleigh quotient still approaches λ₁ from below — read it
    against the trace row: anisotropy ≈ λ·d / trace (≈1 ⇒ isotropic,
    ≫1 ⇒ dominant direction). Either way the OUTPUT is deterministic
    (fixed iterations, deterministic folds), so the driver hash gate
    applies regardless of spectrum shape.

    Returns (dim, loading): dim 1..d carry the unit eigenvector
    rounded 6dp; dim 0 carries the Rayleigh quotient λ = vᵀCv (the
    top-eigenvalue estimate — variance along the component); dim -1
    carries trace(C) = Σᵢ var(xᵢ) (total variance, exact-decimal
    assembled).
    """
    cov, mu, vdf, sg, matvec = _top_pc_state(df, vec_col, dim, iters)
    ufin = matvec(vdf)
    lam = (
        vdf.select(F.col("j").alias("i"), "vj")
        .join(ufin, "i")
        .agg(
            # NULL (not 0.0) when there are no vectors at all — the
            # fold over an empty collected array must read as "no
            # spectrum", matching SQL sum-over-nothing semantics.
            F.when(
                F.size(
                    F.collect_list(
                        F.struct(
                            F.col("i"), (F.col("vj") * F.col("u")).alias("t")
                        )
                    )
                )
                > 0,
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("i"),
                                (F.col("vj") * F.col("u")).alias("t"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x["t"],
                ),
            ).alias("lam")
        )
    )
    loadings = vdf.crossJoin(F.broadcast(sg)).select(
        F.col("j").alias("dim"),
        F.round(F.col("sg") * F.col("vj"), 6).alias("loading"),
    )
    lam_row = lam.select(
        F.lit(0).cast("int").alias("dim"),
        F.round(F.col("lam"), 6).alias("loading"),
    )
    trace_row = (
        cov.where(F.col("i") == F.col("j"))
        .agg(
            F.when(
                F.size(
                    F.collect_list(F.struct("i", F.col("c").alias("t")))
                )
                > 0,
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct("i", F.col("c").alias("t")))
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x["t"],
                ),
            ).alias("tr")
        )
        .select(
            F.lit(-1).cast("int").alias("dim"),
            F.round(F.col("tr"), 6).alias("loading"),
        )
    )
    return loadings.unionByName(lam_row).unionByName(trace_row)


# ------------------------------------------------- JL random projection

def _jl_sign(j: int, i: int) -> float:
    """±1 Rademacher JL component — own md5 family (seed prefix "jl"),
    independent of the sign-LSH hyperplanes."""
    h = int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


def jl_matrix(out_dim: int, in_dim: int = 64) -> list[list[float]]:
    """Deterministic Rademacher JL matrix (Achlioptas 2001: ±1 entries
    satisfy the JL lemma with the same distortion guarantees as
    Gaussian ones, database-friendly). Any engine re-derives it from
    md5, so the DuckDB oracle replays the projection bit-exactly."""
    return [[_jl_sign(j, i) for i in range(in_dim)] for j in range(out_dim)]


def jl_project(
    df: DataFrame,
    vec_col: str,
    out_dim: int = 16,
    in_dim: int = 64,
    out_col: str = "projected",
) -> DataFrame:
    """Johnson-Lindenstrauss projection to ``out_dim`` dims: each
    output component is one zip_with/aggregate fold against a LITERAL
    ±1 row of :func:`jl_matrix`, scaled by 1/√out_dim — pure map-side
    Catalyst, vectors never leave the JVM, fold order = array order so
    both engines produce identical doubles.

    Why it exists at 100 TB: every distance-based stage downstream
    (LSH banding, IVF routing, brute-force rerank) costs Θ(dim); JL
    cuts dim 4-48× while distorting pairwise distances by at most
    ε ≈ √(8·ln n / out_dim) w.h.p. — project once, run every ANN
    stage on the short vectors, rerank survivors on the originals.
    The companion :func:`jl_distortion_pairs` MEASURES the realized
    distortion instead of trusting the bound.
    """
    m = jl_matrix(out_dim, in_dim)
    scale = 1.0 / math.sqrt(out_dim)
    # One F.expr parse per component via _dot_lit_expr; the sign
    # entries are exact ±1.0 doubles, so its CAST of the literal side is
    # a no-op and the products equal the element-wise `x * s` fold.
    comps = [_dot_lit_expr(vec_col, m[j]) * F.lit(scale) for j in range(out_dim)]
    return df.withColumn(out_col, F.array(*comps))


def _euclid(a: F.Column, b: F.Column) -> F.Column:
    d2 = F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.sqrt(d2)


def jl_distortion_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    in_dim: int = 64,
    n_vecs: int = 64,
) -> DataFrame:
    """Realized JL distortion on a deterministic vector sample: take
    the ``n_vecs`` ids with the smallest md5 priority (rand()-free),
    pair them up by rank (2r−1, 2r), and emit original vs projected
    Euclidean distance plus their ratio — the empirical check of the
    JL ε-bound a production pipeline runs before committing every ANN
    stage to the projected space.

    Plan: projection is map-side; the sample is one TakeOrdered
    ``n_vecs``-heap; ranking/pairing run on the ≤``n_vecs``-row
    relation (bounded single-partition window — the auditor's ≤64-row
    exemption class); distances are per-pair folds. Nothing here
    scales with the corpus except the TakeOrdered scan.

    Returns (vec_a, vec_b, d_orig, d_proj, dist_ratio), rounded 6dp.
    """
    from pyspark.sql import Window

    from ..functions.hashing import md5_long

    key = md5_long(
        F.concat(F.lit("jlpair:"), F.col(id_col).cast("string"))
    )
    # Sample FIRST, project the ≤n_vecs survivors: the projection is
    # Θ(in_dim·out_dim) per row and only the sampled pairs need it.
    picked = (
        df.select(F.col(id_col), F.col(vec_col), key.alias("k"))
        .orderBy(F.asc("k"), F.asc(id_col))
        .limit(n_vecs)
    )
    sel = jl_project(picked, vec_col, out_dim, in_dim)
    r = sel.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.asc("k"), F.asc(id_col)))
    )
    a = r.where(F.col("rn") % 2 == 1).select(
        F.expr("(rn + 1) div 2").alias("pid"),
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("ea"),
        F.col("projected").alias("pa"),
    )
    b = r.where(F.col("rn") % 2 == 0).select(
        F.expr("rn div 2").alias("pid"),
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("eb"),
        F.col("projected").alias("pb"),
    )
    paired = a.join(b, "pid").select(
        "vec_a",
        "vec_b",
        _euclid(F.col("ea"), F.col("eb")).alias("do_"),
        _euclid(F.col("pa"), F.col("pb")).alias("dp_"),
    )
    return paired.select(
        "vec_a",
        "vec_b",
        F.round(F.col("do_"), 6).alias("d_orig"),
        F.round(F.col("dp_"), 6).alias("d_proj"),
        F.when(
            F.col("do_") > 0, F.round(F.col("dp_") / F.col("do_"), 6)
        ).alias("dist_ratio"),
    )


def hard_negatives_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_anchors: int = 8,
    k: int = 5,
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor in a
    deterministic md5 sample, the ``k`` vectors MOST cosine-similar
    to it that carry a DIFFERENT label — the negatives that sit
    closest to the decision boundary, which is what contrastive /
    triplet / InfoNCE training wants in its batches (random negatives
    are mostly trivial at scale; hard ones carry the gradient).

    Plan: the serving shape of :func:`cosine_topk_batch` — anchors ≪
    corpus, broadcast anchors against ONE corpus scan, label
    inequality filters map-side before the per-anchor row_number heap
    (shuffled only by anchor id). Anchor choice is md5-priority
    (rand()-free, retry/partition-stable). At 100 TB mine against the
    IVF/JL-projected index instead of the exact scan — same output
    contract, this exact pass is the recall yardstick.

    Returns (anchor_id, anchor_label, vec_id, neg_label, score).
    """
    from pyspark.sql import Window

    from ..functions.hashing import md5_long

    key = md5_long(F.concat(F.lit("hneg:"), F.col(id_col).cast("string")))
    anchors = (
        df.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("av"),
            F.col(label_col).alias("anchor_label"),
            key.alias("kk"),
        )
        .orderBy(F.asc("kk"), F.asc("anchor_id"))
        .limit(n_anchors)
        .drop("kk")
    )
    scored = (
        df.crossJoin(F.broadcast(anchors))
        .where(F.col(label_col) != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col(id_col),
            F.col(label_col).alias("neg_label"),
            F.round(cosine(F.col(vec_col), F.col("av")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("anchor_id", "anchor_label", id_col, "neg_label", "score")
    )


def whiten_all_but_top(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 8,
    n_sample: int = 4,
) -> DataFrame:
    """All-but-the-top postprocessing APPLIED (Mu & Viswanath 2018):
    for a deterministic md5 sample of vectors, emit the whitened
    components ``w_d = (v_d − μ_d) − ⟨v − μ, u⟩·u_d`` — mean removed,
    top principal component projected out. The classic fix for
    embedding anisotropy (a dominant common direction makes every
    cosine look alike); :func:`embedding_top_pc` DIAGNOSES it, this
    operator performs the repair the diagnosis recommends.

    Sampled rather than corpus-wide here because the OUTPUT is the
    verification surface (long-format per-dim doubles) — in
    production the same μ/u frames (65 tiny rows) broadcast against
    the full corpus and the transform is one map-side expression per
    row, the cheapest possible repair pass at 100 TB.

    Numerics: μ and u come from the exact-DECIMAL covariance power
    iteration (_top_pc_state, deterministic); the dot product folds
    d-SORTED per vector; each output is single-rounded double
    arithmetic, rounded 6dp.

    Returns (vec_id, dim, w) — n_sample × dim rows.
    """
    from ..functions.hashing import md5_long

    cov, mu, vdf, sg, _matvec = _top_pc_state(df, vec_col, dim, iters)
    uu = vdf.crossJoin(F.broadcast(sg)).select(
        F.col("j").alias("d"), (F.col("sg") * F.col("vj")).alias("u")
    )
    key = md5_long(F.concat(F.lit("whiten:"), F.col(id_col).cast("string")))
    picked = (
        df.select(F.col(id_col), F.col(vec_col), key.alias("k"))
        .orderBy(F.asc("k"), F.asc(id_col))
        .limit(n_sample)
    )
    comps = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.struct(
            i.cast("int").alias("d"),
            F.element_at(F.col(vec_col), i).cast("double").alias("x"),
        ),
    )
    cent = (
        picked.select(id_col, F.explode(comps).alias("e"))
        .select(id_col, "e.*")
        .join(F.broadcast(mu.select(F.col("i").alias("d"), "mu")), "d")
        .select(id_col, "d", (F.col("x") - F.col("mu")).alias("cv"))
    )
    cent = cent.join(F.broadcast(uu), "d")
    dt = cent.groupBy(id_col).agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("d"), (F.col("cv") * F.col("u")).alias("t"))
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["t"],
        ).alias("dot")
    )
    return cent.join(dt, id_col).select(
        id_col,
        F.col("d").alias("dim"),
        F.round(F.col("cv") - F.col("dot") * F.col("u"), 6).alias("w"),
    )


def centroid_margin_audit(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    centroid_col: str = "centroid",
    round_to: int = 6,
) -> DataFrame:
    """Per-cluster separation audit — the centroid-based silhouette
    reading for the k-means / IVF / weak-label tier: for each vector,
    cohesion a = cosine to its OWN (best) centroid and separation
    b = cosine to the runner-up centroid; per label, the means of a,
    b, and the margin a-b. A margin near 0 means the cluster boundary
    is arbitrary (assignments will churn under retraining, IVF probes
    must widen); a wide margin justifies single-probe routing. The
    eval companion to classify_to_centroids the way
    minhash_recall_eval is to the LSH tier.

    Determinism: scores are rounded BEFORE ranking (the argmax/
    runner-up are identical across engines even at 1-ulp raw
    differences; cell DESC breaks exact ties); per-label means
    accumulate the rounded scores in DECIMAL(27,6) (order-free) with
    ONE double division each. Plan: broadcast centroid fan-out
    (n·ncells map-side scores, zero shuffle on the big side), a
    per-vector rank window partitioned by the fine-grained id key,
    one per-label rollup. Single-centroid inputs yield NULL
    separation/margin.

    Returns (label, n_vectors, mean_cohesion, mean_second_best,
    mean_margin) ordered by label.
    """
    from pyspark.sql import Window

    score = F.round(
        cosine(F.col(vec_col), F.col(centroid_col)), round_to
    ).alias("s")
    scored = vectors.select(id_col, vec_col).crossJoin(
        F.broadcast(centroids.select(cell_col, centroid_col))
    ).select(id_col, F.col(cell_col).alias("__cell"), score)
    w = Window.partitionBy(id_col).orderBy(F.desc("s"), F.desc("__cell"))
    ranked = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 2
    )
    per_vec = ranked.groupBy(id_col).agg(
        F.max(F.when(F.col("rn") == 1, F.col("__cell"))).alias("label"),
        F.max(F.when(F.col("rn") == 1, F.col("s"))).alias("a"),
        F.max(F.when(F.col("rn") == 2, F.col("s"))).alias("b"),
    )
    dec = lambda c: c.cast("decimal(27,6)")  # noqa: E731
    m = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(dec(F.col("a"))).alias("__sa"),
        F.sum(dec(F.col("b"))).alias("__sb"),
        F.count("b").cast("long").alias("__nb"),
    )
    n = F.col("n_vectors").cast("double")
    return m.select(
        "label",
        "n_vectors",
        F.round(F.col("__sa").cast("double") / n, 6).alias("mean_cohesion"),
        F.when(
            F.col("__nb") == F.col("n_vectors"),
            F.round(F.col("__sb").cast("double") / n, 6),
        ).alias("mean_second_best"),
        F.when(
            F.col("__nb") == F.col("n_vectors"),
            F.round(
                (F.col("__sa") - F.col("__sb")).cast("double") / n, 6
            ),
        ).alias("mean_margin"),
    ).orderBy("label")


def ann_rank_quality_eval(
    df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    qid_col: str = "qid",
    qvec_col: str = "qv",
) -> DataFrame:
    """Rank-quality evaluation of the IVF path against the exact
    top-k: nDCG@k and reciprocal rank per query — the ORDER-aware
    companion to ann_recall_eval: recall@k treats the returned set
    as a bag; a serving stack that feeds a reranker or shows a
    ranked list needs to know whether the RIGHT items are also EARLY
    (nDCG, graded by exact-rank relevance k-r+1) and where the true
    best neighbor lands (MRR). Together the pair decides
    nprobe/ncells the way precision/recall decide a threshold.

    Both arms reuse the serving operators; ranks re-derive from the
    returned k-row lists with the identical (rounded score desc, id
    asc) window, so positions replay across engines. Each DCG term
    rel/log2(pos+1) has ONE log2 on an exact integer, rounded 6dp
    then DECIMAL(27,6)-summed; the ideal DCG comes from a literal
    1..k Range with the same pattern; nDCG is one division.

    Returns (qid, ndcg_at_k, reciprocal_rank) per query; queries
    whose approximate list missed the exact top-k entirely score 0.
    """
    from pyspark.sql import Window

    worder = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    brute = cosine_topk_batch(
        df, queries, k=k, id_col=id_col, vec_col=vec_col,
        qid_col=qid_col, qvec_col=qvec_col,
    ).withColumn("exact_rank", F.row_number().over(worder)).select(
        qid_col, id_col, "exact_rank"
    )
    approx = ivf_topk_batch(
        df, centroids, queries, k=k, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col, cell_col=cell_col, qid_col=qid_col,
        qvec_col=qvec_col,
    ).withColumn("pos", F.row_number().over(worder)).select(
        qid_col, id_col, "pos"
    )
    joined = approx.join(brute, [qid_col, id_col], "left")
    rel = F.when(
        F.col("exact_rank").isNotNull(),
        (F.lit(k) - F.col("exact_rank") + F.lit(1)).cast("double"),
    ).otherwise(F.lit(0.0))
    dterm = F.round(
        rel / F.log2((F.col("pos") + F.lit(1)).cast("double")), 6
    )
    dec6 = lambda c: c.cast("decimal(27,6)")  # noqa: E731
    per = joined.groupBy(qid_col).agg(
        F.sum(dec6(dterm)).alias("__dcg"),
        F.min(
            F.when(F.col("exact_rank") == 1, F.col("pos"))
        ).alias("__first"),
    )
    spine = df.sparkSession.range(1, k + 1).select(
        F.col("id").alias("i")
    )
    ideal = spine.agg(
        F.sum(
            dec6(
                F.round(
                    (F.lit(k) - F.col("i") + F.lit(1)).cast("double")
                    / F.log2((F.col("i") + F.lit(1)).cast("double")),
                    6,
                )
            )
        ).alias("__idcg")
    )
    out = (
        queries.select(qid_col)
        .join(per, qid_col, "left")
        .crossJoin(F.broadcast(ideal))
    )
    return out.select(
        qid_col,
        F.round(
            F.coalesce(F.col("__dcg").cast("double"), F.lit(0.0))
            / F.col("__idcg").cast("double"),
            6,
        ).alias(f"ndcg_at_{k}"),
        F.round(
            F.when(
                F.col("__first").isNotNull(),
                F.lit(1.0) / F.col("__first").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("reciprocal_rank"),
    )


def mmr_diversify(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 30,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qv",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998) — the result-diversification stage completing the
    retrieval stack (rank: cosine_topk_batch; fuse: RRF; filter:
    pre-filter; diversify: MMR): pure relevance top-k returns k
    near-copies of the best hit when the corpus has near-dups; MMR
    greedily picks argmax lam*rel - (1-lam)*max_sim_to_picked, so
    each subsequent pick must EARN its redundancy.

    Plan: one broadcast-query corpus scan builds the per-query
    top-``pool`` candidate list (rounded-score/id total order),
    materialized ONCE (eager localCheckpoint — the loop-input rule;
    each greedy step re-references it). Each of the k-1 steps is
    bounded work on <= pool*k rows per query: candidate x picked
    cosines, a max per candidate, one per-qid argmax window. Greedy
    selection is inherently sequential in k — k is small and fixed,
    data never re-scanned.

    Exact: rel, pairwise sims and the MMR score are 6dp-rounded with
    id tie-breaks, so the greedy trajectory replays identically on a
    sequential engine. Returns (qid, pos, vec_id, rel, max_sim, mmr)
    with NULL max_sim/mmr at pos 1 (pure-relevance seed), ordered by
    (qid, pos).
    """
    from pyspark.sql import Window
    from ..functions.vectors import cosine

    scored = df.crossJoin(F.broadcast(queries)).select(
        F.col(qid_col).alias("qid"),
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("emb"),
        F.round(cosine(F.col(vec_col), F.col(qvec_col)), 6).alias("rel"),
    )
    w_rel = Window.partitionBy("qid").orderBy(
        F.desc("rel"), F.asc("vid")
    )
    cand = (
        scored.withColumn("rn", F.row_number().over(w_rel))
        .where(F.col("rn") <= pool)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    picked = (
        cand.withColumn("rn", F.row_number().over(w_rel))
        .where(F.col("rn") == 1)
        .select(
            "qid",
            F.lit(1).cast("int").alias("pos"),
            "vid",
            "emb",
            "rel",
            F.lit(None).cast("double").alias("max_sim"),
            F.lit(None).cast("double").alias("mmr"),
        )
    )
    for pos in range(2, k + 1):
        pk = picked.select(
            "qid", F.col("vid").alias("pid"), F.col("emb").alias("pemb")
        )
        remaining = cand.join(
            picked.select("qid", "vid"), ["qid", "vid"], "left_anti"
        )
        sims = (
            remaining.join(pk, "qid")
            .select(
                "qid",
                "vid",
                F.round(cosine(F.col("emb"), F.col("pemb")), 6).alias(
                    "sim"
                ),
            )
            .groupBy("qid", "vid")
            .agg(F.max("sim").alias("max_sim"))
        )
        stepped = (
            remaining.join(sims, ["qid", "vid"])
            .withColumn(
                "mmr",
                F.round(
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.col("max_sim"),
                    6,
                ),
            )
        )
        w_mmr = Window.partitionBy("qid").orderBy(
            F.desc("mmr"), F.asc("vid")
        )
        nxt = (
            stepped.withColumn("rn", F.row_number().over(w_mmr))
            .where(F.col("rn") == 1)
            .select(
                "qid",
                F.lit(pos).cast("int").alias("pos"),
                "vid",
                "emb",
                "rel",
                "max_sim",
                "mmr",
            )
        )
        # Checkpoint the loop STATE too (not just the loop input):
        # each step references `picked` three times, so a lazy union
        # chain re-embeds every prior step's plan 3^i times — audited
        # at 900 exchanges unchecked vs ~40 with the cut.
        picked = picked.unionByName(nxt).localCheckpoint(eager=True)
    return picked.select(
        "qid",
        "pos",
        F.col("vid").alias(id_col),
        "rel",
        "max_sim",
        "mmr",
    ).orderBy("qid", "pos")
