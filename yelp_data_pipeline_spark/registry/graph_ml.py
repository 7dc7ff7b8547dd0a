"""Link-analysis centrality, closed-form OLS, layout/pruning evals, and the round-10+ additions.

Split from the single-file queries.py (round 15). Modules are imported by registry/__init__.py in a FIXED order; every @_q call appends to the shared _REGISTRY in registry/core.py, so registration order (the driver's export order) is preserved byte-for-byte.
"""

from __future__ import annotations

from .core import (
    DataFrame,
    F,
    _q,
    _t,
    cl,
    cosine_sql,
    dd,
    dq,
    graph,
    joins,
    md5_family_sql,
    md5_long_sql,
    mm,
    sim,
    smp,
    ts_ops,
    tx,
)  # noqa: F401
from .dedup import _SHINGLES_CTE, _minhash_oracle  # noqa: F401
from .similarity import _EMB_DIM  # noqa: F401
from .curation import _CURATE_KEEP_CTE, _CURATE_Q_CTE  # noqa: F401
from .multimodal import _AFP_SQL, _DHASH_SQL, _VIDEO_SIG_CTE, _WAV_ORACLE_BASE  # noqa: F401
from .stats_evals import _oracle_of  # noqa: F401

# --------------------------------------------------------------------------
# Round 10: link-analysis centrality, closed-form multi-feature OLS,
# conformal intervals, quantile normalization, cross-source dedup
# analytics, token-budget allocation.
# --------------------------------------------------------------------------


@_q(
    "part_supplier_hits",
    """
WITH e AS (
  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS l, CAST(l_suppkey AS BIGINT) AS r
  FROM lineitem WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
),
h1 AS (SELECT l, count(*) AS s FROM e GROUP BY l),
a1 AS (SELECT e.r, sum(h1.s) AS s FROM e JOIN h1 USING (l) GROUP BY e.r),
h2 AS (SELECT e.l, sum(a1.s) AS s FROM e JOIN a1 ON e.r = a1.r GROUP BY e.l),
a2 AS (SELECT e.r, sum(h2.s) AS s FROM e JOIN h2 ON e.l = h2.l GROUP BY e.r),
deg AS (SELECT r, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY r),
top AS (
  SELECT a2.r AS node, deg.degree, CAST(a2.s AS BIGINT) AS authority
  FROM a2 JOIN deg ON a2.r = deg.r
  ORDER BY authority DESC, node LIMIT 10
)
SELECT node, degree, authority,
       CAST(row_number() OVER (ORDER BY authority DESC, node) AS INT) AS rank
FROM top ORDER BY rank
""",
    doc="HITS link analysis (Kleinberg 1999) on the bipartite "
    "part <-> supplier graph from deduped lineitem edges "
    "(operators/graph.py:hits_bipartite): top-10 suppliers by 2-round "
    "authority mass. Unnormalized EXACT-INTEGER recurrence (L2 "
    "normalization only rescales the ranking, so it is dropped; "
    "DECIMAL(38,0) accumulation, BIGINT projection) — the oracle "
    "replays the same unrolled recurrence. An edge list under the "
    "broadcast threshold runs the recurrence on the driver after one "
    "bounded collect; an authority past the long range or a "
    "threshold of -1 keep the distributed plan: each half-round one "
    "key-partitioned join + combinable groupBy on the persisted edge "
    "list, the top-k a TakeOrdered, and the rank window on 10 rows, "
    "never the graph.",
)
def q_part_supplier_hits(spark, sf_dir):
    return graph.hits_bipartite(
        _t(spark, sf_dir, "lineitem"), "l_partkey", "l_suppkey",
        rounds=2, top_k=10,
    )


@_q(
    "price_qty_discount_ols",
    """
WITH f AS (
  SELECT l_returnflag,
         CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS y,
         CAST(FLOOR(CAST(l_quantity AS DOUBLE) + 0.5) AS BIGINT) AS x1,
         CAST(FLOOR(CAST(l_discount AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS x2
  FROM lineitem
),
stats AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1,
         CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(x1 * x1) AS s11,
         sum(x2 * x2) AS s22,
         sum(x1 * x2) AS s12,
         sum(x1 * y) AS s1y,
         sum(x2 * y) AS s2y,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM f GROUP BY l_returnflag
),
d AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1,
         CAST(s2 AS DOUBLE) AS s2, CAST(sy AS DOUBLE) AS sy,
         CAST(s11 AS DOUBLE) AS s11, CAST(s22 AS DOUBLE) AS s22,
         CAST(s12 AS DOUBLE) AS s12, CAST(s1y AS DOUBLE) AS s1y,
         CAST(s2y AS DOUBLE) AS s2y, CAST(syy AS DOUBLE) AS syy
  FROM stats
),
dets AS (
  SELECT *,
    nd * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      + s2 * (s1 * s12 - s11 * s2) AS det,
    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      + s2 * (s1y * s12 - s11 * s2y) AS det0,
    nd * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
      + s2 * (s1 * s2y - s1y * s2) AS det1,
    nd * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
      + sy * (s1 * s12 - s11 * s2) AS det2
  FROM d
),
coefs AS (
  SELECT l_returnflag, n, sy, s1y, s2y, syy, nd,
         CASE WHEN det <> 0.0 THEN det0 / det END AS b0,
         CASE WHEN det <> 0.0 THEN det1 / det END AS b1,
         CASE WHEN det <> 0.0 THEN det2 / det END AS b2,
         det
  FROM dets
),
fit AS (
  SELECT l_returnflag, n, b0, b1, b2,
         syy - b0 * sy - b1 * s1y - b2 * s2y AS sse,
         syy - sy * sy / nd AS sst, det
  FROM coefs
)
SELECT l_returnflag, n AS n_rows,
       round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
       round(CASE WHEN det <> 0.0 AND sst <> 0.0
                  THEN 1.0 - sse / sst END, 6) AS r2
FROM fit ORDER BY l_returnflag
""",
    doc="Two-feature least squares extendedprice_cents ~ quantity + "
    "discount_pct per returnflag via the NORMAL EQUATIONS "
    "(operators/timeseries.py:ols_multifeature_fit): ONE combinable "
    "aggregate builds the 3x3 Gram matrix (exact ints: first-order "
    "int64, second-order DECIMAL(38,0)); Cramer's rule + R-squared "
    "run as a fixed IEEE-double expression tree on the 3-row result. "
    "The distributed closed form for fitting regressions at 100 TB: "
    "same plan shape as a grouped count.",
)
def q_price_qty_discount_ols(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice").cast("double") * 100.0 + 0.5)
        .cast("long")
        .alias("y"),
        F.floor(F.col("l_quantity").cast("double") + 0.5)
        .cast("long")
        .alias("x1"),
        F.floor(F.col("l_discount").cast("double") * 100.0 + 0.5)
        .cast("long")
        .alias("x2"),
    )
    return ts_ops.ols_multifeature_fit(
        li, ["l_returnflag"], "y", "x1", "x2"
    ).orderBy("l_returnflag")


_CONF_SPLIT_SQL = md5_long_sql("CAST(event_id AS VARCHAR)", "conf")


@_q(
    "conformal_event_intervals",
    f"""
WITH base AS (
  SELECT event_type, event_id,
         CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         ({_CONF_SPLIT_SQL} % 2 = 0) AS is_calib
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_calib,
         CAST(sum(v) AS BIGINT) AS sum_v
  FROM base WHERE is_calib GROUP BY event_type
),
m AS (
  SELECT event_type, n_calib,
         CAST(sum_v AS DOUBLE) / CAST(n_calib AS DOUBLE) AS mean_v,
         least(((n_calib + 1) * 9 + 9) // 10, n_calib) AS r_rank
  FROM stats
),
rk AS (
  SELECT b.event_type,
         abs(CAST(b.v AS DOUBLE) - m.mean_v) AS resid,
         row_number() OVER (
           PARTITION BY b.event_type
           ORDER BY abs(CAST(b.v AS DOUBLE) - m.mean_v), b.event_id
         ) AS rn,
         m.r_rank
  FROM base b JOIN m ON b.event_type = m.event_type
  WHERE b.is_calib
),
q AS (SELECT event_type, resid AS qhat FROM rk WHERE rn = r_rank),
t AS (
  SELECT b.event_type,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN abs(CAST(b.v AS DOUBLE) - m.mean_v) <= q.qhat
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM base b
  JOIN m ON b.event_type = m.event_type
  JOIN q ON b.event_type = q.event_type
  WHERE NOT b.is_calib GROUP BY b.event_type
)
SELECT m.event_type, m.n_calib, t.n_test,
       round(q.qhat / 100.0, 6) AS qhat,
       round(CAST(t.n_covered AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6)
         AS coverage
FROM m JOIN q ON m.event_type = q.event_type
       JOIN t ON m.event_type = t.event_type
ORDER BY m.event_type
""",
    doc="Split-conformal prediction intervals for event value per "
    "event_type (Vovk et al. 2005; operators/quality.py:"
    "conformal_intervals): deterministic md5 half-split, predictor = "
    "calibration mean, qhat = ceil((n+1)*0.9)-th smallest absolute "
    "residual (pure-integer rank arithmetic), plus MEASURED held-out "
    "coverage — the distribution-free >=90% guarantee a monitoring "
    "pipeline wraps around any point forecast. One combinable "
    "aggregate + one per-group calibration sort + one broadcast "
    "join onto the test half.",
)
def q_conformal_event_intervals(spark, sf_dir):
    from ..functions.hashing import md5_long

    base = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value").cast("double") * 100.0 + 0.5)
            .cast("long")
            .alias("v"),
            (md5_long(F.col("event_id").cast("string"), "conf") % 2 == 0)
            .alias("is_calib"),
        )
    )
    return dq.conformal_intervals(
        base, "event_type", "v", "is_calib", "event_id",
        alpha_num=1, alpha_den=10,
    )


@_q(
    "quantile_normalized_doclens",
    """
WITH cells AS (
  SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS cnt FROM documents GROUP BY 1
),
cum AS (
  SELECT v, CAST(cnt AS BIGINT) AS cnt,
         CAST(sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum
  FROM cells
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
rk AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS nc,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rnk,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_g
  FROM documents
),
pos AS (
  SELECT rk.*, (rnk * tot.n_total + n_g - 1) // n_g AS p FROM rk, tot
)
SELECT pos.doc_id, pos.source, pos.nc AS n_chars, c.v AS norm_n_chars
FROM pos JOIN cum c ON pos.p > c.cum - c.cnt AND pos.p <= c.cum
ORDER BY pos.doc_id
""",
    doc="Quantile normalization of document lengths across sources "
    "(Bolstad et al. 2003; operators/quality.py:quantile_normalize): "
    "every source's length distribution is mapped onto the POOLED "
    "distribution at matching within-source quantiles — the "
    "cross-source calibration that makes per-source thresholds "
    "comparable before a global quality gate. Pure integer rank/"
    "floor-div arithmetic; pooled CDF is a bounded VALUE-CELLS "
    "relation (never a global row sort), broadcast range-joined back "
    "onto the distributed rows.",
)
def q_quantile_normalized_doclens(spark, sf_dir):
    return dq.quantile_normalize(
        _t(spark, sf_dir, "documents"), "source", "n_chars", "doc_id"
    )


@_q(
    "cross_source_dup_matrix",
    "WITH mp AS (SELECT doc_a, doc_b FROM ("
    + _oracle_of("dedup_minhash_pairs")
    + """) z),
ds AS (SELECT doc_id, source FROM documents),
pairs AS (
  SELECT least(a.source, b.source) AS src_a,
         greatest(a.source, b.source) AS src_b,
         m.doc_a, m.doc_b
  FROM mp m
  JOIN ds a ON m.doc_a = a.doc_id
  JOIN ds b ON m.doc_b = b.doc_id
),
agg AS (
  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS dup_pairs
  FROM pairs GROUP BY 1, 2
),
di AS (
  SELECT src_a, src_b, CAST(count(DISTINCT d) AS BIGINT) AS docs_involved
  FROM (
    SELECT src_a, src_b, doc_a AS d FROM pairs
    UNION ALL
    SELECT src_a, src_b, doc_b FROM pairs
  ) u GROUP BY 1, 2
),
n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1),
spine AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CASE WHEN a.source = b.source
              THEN (a.n_docs * (a.n_docs - 1)) // 2
              ELSE a.n_docs * b.n_docs END AS possible_pairs
  FROM n a JOIN n b ON a.source <= b.source
)
SELECT s.src_a, s.src_b,
       CAST(coalesce(g.dup_pairs, 0) AS BIGINT) AS dup_pairs,
       CAST(coalesce(di.docs_involved, 0) AS BIGINT) AS docs_involved,
       s.possible_pairs,
       round(CAST(coalesce(g.dup_pairs, 0) AS DOUBLE)
             / CAST(s.possible_pairs AS DOUBLE), 6) AS dup_rate
FROM spine s
LEFT JOIN agg g ON s.src_a = g.src_a AND s.src_b = g.src_b
LEFT JOIN di ON s.src_a = di.src_a AND s.src_b = di.src_b
ORDER BY s.src_a, s.src_b
""",
    doc="Cross-source duplication matrix: verified near-dup pairs "
    "(the green minhash relation, jaccard >= 0.8) bucketed by "
    "UNORDERED source pair over the full source x source spine — "
    "pair count, distinct docs involved, possible-pair denominator "
    "and the normalized dup_rate. The corpus-composition question "
    "dedup reports answer at ingest: which feeds mirror each other "
    "(cross-source mass) vs self-repeat (diagonal mass). Everything "
    "downstream of the LSH join is two slim joins against a "
    "broadcastable (doc_id, source) projection + combinable "
    "groupBys; the spine is a bounded |sources|^2 aggregate join.",
)
def q_cross_source_dup_matrix(spark, sf_dir):
    from ..session import cut_lineage

    docs = _t(spark, sf_dir, "documents")
    ds = docs.select("doc_id", "source")
    mp = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=12, bands=4, threshold=0.8
    ).select("doc_a", "doc_b")
    a = ds.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = ds.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    # Eager lineage cut (the dedup_threshold_curve lesson): the slim
    # source-tagged pair relation feeds TWO aggregates — lazily
    # persisted, each consumer's plan re-embeds the whole MinHash
    # subtree (audited 76 exchanges / 34 broadcasts round 12).
    pairs = cut_lineage(
        mp.join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "doc_a",
            "doc_b",
        )
    )
    aggp = pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("dup_pairs")
    )
    di = (
        pairs.select("src_a", "src_b", F.col("doc_a").alias("d"))
        .unionAll(pairs.select("src_a", "src_b", F.col("doc_b").alias("d")))
        .groupBy("src_a", "src_b")
        .agg(F.countDistinct("d").cast("long").alias("docs_involved"))
    )
    n = ds.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    na = n.select(F.col("source").alias("src_a"), F.col("n_docs").alias("n_a"))
    # The spine is an unordered self-cross of the source dimension.
    # Rather than an inequality NLJ of two aggregates (whose
    # boundedness AQE's runtime limit-elision hides from the plan
    # text), the build side is a keys=[] aggregate carrying the WHOLE
    # bounded dimension in one row — broadcast 1 row, explode per
    # probe row, filter to src_a <= src_b. Same |sources|^2 output,
    # plan-provably bounded-cross.
    dim = n.agg(
        F.collect_list(
            F.struct(
                F.col("source").alias("src_b"), F.col("n_docs").alias("n_b")
            )
        ).alias("__dim")
    )
    spine = (
        na.crossJoin(F.broadcast(dim))
        .select("src_a", "n_a", F.explode("__dim").alias("b"))
        .where(F.col("src_a") <= F.col("b.src_b"))
        .select(
            "src_a",
            F.col("b.src_b").alias("src_b"),
            "n_a",
            F.col("b.n_b").alias("n_b"),
        )
        .withColumn(
            "possible_pairs",
            F.when(
                F.col("src_a") == F.col("src_b"),
                F.expr("(n_a * (n_a - 1)) div 2"),
            ).otherwise(F.col("n_a") * F.col("n_b")),
        )
        .select("src_a", "src_b", "possible_pairs")
    )
    return (
        spine.join(aggp, ["src_a", "src_b"], "left")
        .join(di, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce("dup_pairs", F.lit(0)).cast("long").alias("dup_pairs"),
            F.coalesce("docs_involved", F.lit(0))
            .cast("long")
            .alias("docs_involved"),
            "possible_pairs",
            # A single-doc source has 0 possible same-source pairs:
            # NULL rate (SQL 0/0), never an ANSI crash.
            F.when(
                F.col("possible_pairs") > 0,
                F.round(
                    F.coalesce("dup_pairs", F.lit(0)).cast("double")
                    / F.col("possible_pairs").cast("double"),
                    6,
                ),
            ).alias("dup_rate"),
        )
        .orderBy("src_a", "src_b")
    )


@_q(
    "dedup_composition_shift",
    "WITH RECURSIVE cl AS (SELECT doc_id, cluster_id FROM ("
    + _oracle_of("dedup_clusters_star")
    + """) z),
d AS (SELECT doc_id, source FROM documents),
j AS (
  SELECT d.source, (d.doc_id = cl.cluster_id) AS survives
  FROM d JOIN cl ON d.doc_id = cl.doc_id
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_before,
         CAST(sum(CASE WHEN survives THEN 1 ELSE 0 END) AS BIGINT) AS n_after
  FROM j GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_before) AS BIGINT) AS tb,
         CAST(sum(n_after) AS BIGINT) AS ta
  FROM agg
)
SELECT source, n_before, n_after, n_before - n_after AS removed,
       round(CAST(n_before AS DOUBLE) / CAST(tb AS DOUBLE), 6)
         AS share_before,
       round(CAST(n_after AS DOUBLE) / CAST(ta AS DOUBLE), 6)
         AS share_after,
       round(CAST(n_after AS DOUBLE) / CAST(ta AS DOUBLE)
             - CAST(n_before AS DOUBLE) / CAST(tb AS DOUBLE), 6)
         AS share_shift
FROM agg, tot ORDER BY source
""",
    doc="Dedup composition-shift report: per-source corpus share "
    "BEFORE vs AFTER near-dup removal (survivor = cluster "
    "representative, doc_id == min-label cluster_id from the green "
    "connected-components relation) — the side-effect audit every "
    "production dedup needs, because removing duplicates is an "
    "implicit RE-WEIGHTING of the mixture (the feed that mirrors "
    "others loses share). share_shift > 0 means dedup promoted the "
    "source. Post-clustering work is one slim join + one combinable "
    "groupBy + a broadcast 1-row totals frame (bounded-cross).",
)
def q_dedup_composition_shift(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=12, bands=4, threshold=0.8
    ).select("doc_a", "doc_b")
    cl = graph.dedup_clusters(docs, pairs)
    j = (
        docs.select("doc_id", "source")
        .join(cl, "doc_id")
        .select(
            "source",
            (F.col("doc_id") == F.col("cluster_id")).alias("survives"),
        )
    )
    aggd = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        F.sum(F.when(F.col("survives"), 1).otherwise(0))
        .cast("long")
        .alias("n_after"),
    )
    tot = aggd.agg(
        F.sum("n_before").cast("long").alias("tb"),
        F.sum("n_after").cast("long").alias("ta"),
    )
    sb = F.col("n_before").cast("double") / F.col("tb").cast("double")
    sa = F.col("n_after").cast("double") / F.col("ta").cast("double")
    return (
        aggd.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("removed"),
            F.round(sb, 6).alias("share_before"),
            F.round(sa, 6).alias("share_after"),
            F.round(sa - sb, 6).alias("share_shift"),
        )
        .orderBy("source")
    )


def _waterfill_rounds_sql(rounds: int) -> tuple[str, str, str, str]:
    """Unrolled water-filling round CTEs for the token-budget oracle.
    Returns (cte_blocks, last_capped, final_W, final_Beff)."""
    blocks = []
    prev, src = "capped0", "s0"
    for r in range(1, rounds + 1):
        blocks.append(
            f"""r{r}a AS (
  SELECT *,
    CAST(coalesce(sum(CASE WHEN NOT {prev} THEN w END) OVER (), 0)
      AS BIGINT) AS W{r},
    B - CAST(coalesce(sum(CASE WHEN {prev} THEN cap END) OVER (), 0)
      AS BIGINT) AS Beff{r}
  FROM {src}),
r{r}b AS (
  SELECT *, CASE WHEN W{r} > 0 THEN (Beff{r} * w) // W{r} ELSE 0 END
    AS prov{r}
  FROM r{r}a),
r{r} AS (SELECT *, {prev} OR prov{r} >= cap AS capped{r} FROM r{r}b)"""
        )
        prev, src = f"capped{r}", f"r{r}"
    fr = rounds + 1
    blocks.append(
        f"""fin AS (
  SELECT *,
    CAST(coalesce(sum(CASE WHEN NOT {prev} THEN w END) OVER (), 0)
      AS BIGINT) AS W{fr},
    B - CAST(coalesce(sum(CASE WHEN {prev} THEN cap END) OVER (), 0)
      AS BIGINT) AS Beff{fr}
  FROM {src})"""
    )
    return ",\n".join(blocks), prev, f"W{fr}", f"Beff{fr}"


_WF_BLOCKS, _WF_CAPPED, _WF_W, _WF_BEFF = _waterfill_rounds_sql(3)


@_q(
    "token_budget_allocation",
    f"""
WITH per AS (
  SELECT source,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
           AS tok,
         (n_chars >= 300) AS passes
  FROM documents
),
t AS (
  SELECT source, CAST(sum(tok) AS BIGINT) AS t,
         CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS w
  FROM per GROUP BY source
),
s0 AS (
  SELECT source, t, w, 2 * t AS cap,
         (9 * CAST(sum(t) OVER () AS BIGINT)) // 5 AS B,
         false AS capped0
  FROM t
),
{_WF_BLOCKS},
alloc AS (
  SELECT source, t, w, cap,
         CASE WHEN {_WF_CAPPED} THEN cap
              WHEN {_WF_W} > 0
                THEN least(cap, ({_WF_BEFF} * w) // {_WF_W})
              ELSE 0 END AS alloc_tokens,
         {_WF_CAPPED} AS capped
  FROM fin
)
SELECT source, t AS tokens_available, w AS weight, cap AS cap_tokens,
       alloc_tokens,
       round(CAST(alloc_tokens AS DOUBLE) / CAST(t AS DOUBLE), 6) AS epochs,
       capped
FROM alloc ORDER BY source
""",
    doc="Token-budget allocation under a repeat cap (Muennighoff et "
    "al. 2023 data-constrained scaling; operators/sampling.py:"
    "token_budget_allocation): per-source available tokens (one "
    "combinable whitespace-token aggregate) + integer quality "
    "weights (docs with n_chars >= 300), budget = 1.8x total corpus "
    "tokens, max 2 epochs per source — WATER-FILLED in 3 unrolled "
    "capping rounds + a final pass, all pure integer floor-div "
    "arithmetic on the |sources|-row stats relation. The mixture "
    "planning step that decides how many epochs of each feed a "
    "training run actually gets; capped=true marks feeds the budget "
    "wants more of than the repeat cap allows.",
)
def q_token_budget_allocation(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "source",
        tx.token_count(F.col("text")).cast("long").alias("tok"),
        (F.col("n_chars") >= 300).alias("passes"),
    )
    stats = d.groupBy("source").agg(
        F.sum("tok").alias("tokens"),
        F.sum(F.when(F.col("passes"), 1).otherwise(0))
        .cast("long")
        .alias("weight"),
    )
    return smp.token_budget_allocation(
        stats, "source", "tokens", "weight",
        budget_num=9, budget_den=5, repeat_cap=2, rounds=3,
    )


@_q(
    "bloom_fpr_eval",
    """
WITH build AS (
  SELECT DISTINCT CAST(c_custkey AS BIGINT) AS key
  FROM customer WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey IS NOT NULL
),
bh AS (
  SELECT key,
         CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 16, 13) AS BIGINT) AS h2
  FROM build
),
bpos AS (
  SELECT DISTINCT (h1 + i * h2) % 2048 AS pos
  FROM bh, (VALUES (0), (1)) AS ii(i)
),
probe AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS key
  FROM events WHERE user_id IS NOT NULL
),
ph AS (
  SELECT key,
         CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 16, 13) AS BIGINT) AS h2
  FROM probe
),
flags AS (
  SELECT key,
         ((h1 % 2048) IN (SELECT pos FROM bpos))
           AND (((h1 + h2) % 2048) IN (SELECT pos FROM bpos)) AS passes,
         key IN (SELECT key FROM build) AS is_member
  FROM ph
),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_build_keys FROM build),
ag AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probe_keys,
         CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_members,
         CAST(sum(CASE WHEN passes AND NOT is_member THEN 1 ELSE 0 END)
           AS BIGINT) AS n_false_pos,
         CAST(sum(CASE WHEN is_member AND NOT passes THEN 1 ELSE 0 END)
           AS BIGINT) AS n_missed_members
  FROM flags
)
SELECT nb.n_build_keys, ag.n_probe_keys, ag.n_pass, ag.n_members,
       ag.n_false_pos, ag.n_missed_members,
       round(CAST(ag.n_false_pos AS DOUBLE)
             / CAST(ag.n_probe_keys - ag.n_members AS DOUBLE), 6) AS fpr,
       round(2.0 * CAST(nb.n_build_keys AS DOUBLE) / 2048.0, 6)
         AS load_factor,
       round((2.0 * CAST(nb.n_build_keys AS DOUBLE) / 2048.0)
             * (2.0 * CAST(nb.n_build_keys AS DOUBLE) / 2048.0), 6)
         AS fp_bound
FROM nb, ag
""",
    doc="Measured false-positive rate of the Bloom prefilter "
    "(operators/joins.py:bloom_prefilter_fpr_stats) — the accuracy "
    "eval completing the sketch tier's no-sketch-without-an-error-"
    "report rule (KMV rel_err / CMS overcount / HLL bias / histogram "
    "bound / minhash-simhash recall; Bloom was the one member "
    "without one). Deliberately UNDERSIZED image (2 Kibit for ~300 "
    "AUTOMOBILE keys, load 0.29) so the false-positive regime is "
    "real at fixture scale: reports measured fpr vs the (kn/m)^k "
    "sizing bound, and PROVES the no-false-negative contract "
    "(n_missed_members column, structurally 0). Two distinct-key "
    "aggregates + broadcast position joins; nothing quadratic.",
)
def q_bloom_fpr_eval(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id")
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "AUTOMOBILE"
    ).select("c_custkey")
    return joins.bloom_prefilter_fpr_stats(
        e, c, "user_id", "c_custkey", m_bits=2048, k=2
    )


def _band_candidates_sql(k: int = 12, bands_list: tuple = (2, 3, 4, 6)) -> str:
    """CTE blocks: MinHash sig once, candidate pairs per banding
    (DuckDB twin of operators/dedup.py:minhash_band_candidates)."""
    mh_cols = ",\n         ".join(
        f"list_min(list_transform(shingles, s -> {md5_family_sql('s', i)}))"
        f" AS mh{i}"
        for i in range(k)
    )
    parts = []
    for bands in bands_list:
        rows = k // bands
        band_cols = ",\n         ".join(
            "md5(concat_ws('|', "
            + ", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
            + f")) AS band{b}"
            for b in range(bands)
        )
        band_union = "\nUNION ALL\n".join(
            f"SELECT doc_id, {b} AS band_id, band{b} AS key FROM banded{bands}"
            for b in range(bands)
        )
        parts.append(
            f"""banded{bands} AS (
  SELECT doc_id,
         {band_cols}
  FROM sig
),
bl{bands} AS ({band_union}),
cand{bands} AS (
  SELECT DISTINCT CAST({bands} AS INT) AS bands,
         CAST({rows} AS INT) AS rows_per_band,
         a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bl{bands} a JOIN bl{bands} b
    ON a.band_id = b.band_id AND a.key = b.key AND a.doc_id < b.doc_id
)"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM cand{b}" for b in bands_list)
    return (
        f"""sig AS MATERIALIZED (
  SELECT doc_id,
         {mh_cols}
  FROM sh WHERE len(shingles) > 0
),
"""
        + ",\n".join(parts)
        + f""",
cands AS ({union})"""
    )


@_q(
    "minhash_band_tuning_curve",
    f"""
WITH {_SHINGLES_CTE},
{_band_candidates_sql(k=12, bands_list=(2, 3, 4, 6))},
ex AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    WITH exx AS (
      SELECT doc_id, CAST(len(shingles) AS INT) AS n_sh, unnest(shingles) AS s
      FROM sh
    ),
    c AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
             count(*) AS common
      FROM exx a JOIN exx b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b
    FROM c
    WHERE round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6)
          >= 0.8
  ) q
),
per AS (
  SELECT c.bands, c.rows_per_band,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_common
  FROM cands c
  LEFT JOIN ex e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
  GROUP BY 1, 2
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM ex),
spine AS (
  SELECT CAST(v.bands AS INT) AS bands,
         CAST(12 / v.bands AS INT) AS rows_per_band
  FROM (VALUES (2), (3), (4), (6)) AS v(bands)
)
SELECT s.bands, s.rows_per_band,
       CAST(coalesce(p.n_candidates, 0) AS BIGINT) AS n_candidates,
       t.n_truth,
       CAST(coalesce(p.n_common, 0) AS BIGINT) AS n_common,
       CASE WHEN t.n_truth > 0
         THEN round(CAST(coalesce(p.n_common, 0) AS DOUBLE)
                    / CAST(t.n_truth AS DOUBLE), 6) END AS recall,
       CASE WHEN coalesce(p.n_candidates, 0) > 0
         THEN round(CAST(p.n_common AS DOUBLE)
                    / CAST(p.n_candidates AS DOUBLE), 6) END AS precision
FROM spine s
LEFT JOIN per p ON s.bands = p.bands
CROSS JOIN t
ORDER BY s.bands
""",
    doc="MinHash banding S-curve, measured (operators/dedup.py:"
    "minhash_band_candidates): CANDIDATE recall and precision at "
    "bands = 2/3/4/6 of the SAME 12-hash signature vs the exact "
    "3-gram-Jaccard >= 0.8 ground truth. minhash_recall_eval grades "
    "the one shipped banding (4x3) after verification; this is the "
    "eval that CHOOSES the banding — more bands buys recall with "
    "candidate volume (the verification bill), and the curve shows "
    "where the knee is. Signatures computed once and shared; each "
    "banding is one bucketed slim self-join; the comparison joins "
    "bounded pair relations.",
    scale_note="eval-tier — the exact ground-truth arm inherits "
    "ngram_jaccard_exact's superlinear recall-baseline cost; at "
    "corpus scale replay on an md5-capped subsample (the "
    "simhash_recall_eval sampling pattern)",
)
def q_minhash_band_tuning_curve(spark, sf_dir):
    from concurrent.futures import ThreadPoolExecutor

    from ..session import cut_lineage

    d = _t(spark, sf_dir, "documents")
    # The candidate arm (eager signature lineage cut inside
    # minhash_band_candidates) and the exact-truth arm (eager
    # cut_lineage of the full shingle self-join — the
    # dedup_threshold_curve lesson: lazily persisted it was re-embedded
    # in each consumer's plan, audited 98 exchanges round 12) are
    # independent driver-blocking builds; two driver threads overlap
    # them (guide §2.6). Results unchanged — both arms deterministic.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cands = pool.submit(
            lambda: dd.minhash_band_candidates(
                d, "doc_id", "text", k=12, bands_list=(2, 3, 4, 6)
            ).withColumn(
                "rows_per_band", (F.lit(12) / F.col("bands")).cast("int")
            )
        )
        f_truth = pool.submit(
            lambda: cut_lineage(
                dd.ngram_jaccard_pairs(
                    d, "doc_id", "text", n=3, threshold=0.8,
                    max_doc_freq=None,
                ).select("doc_a", "doc_b", F.lit(1).alias("e"))
            )
        )
        cands, truth = f_cands.result(), f_truth.result()
    per = (
        cands.join(truth, ["doc_a", "doc_b"], "left")
        .groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.coalesce("e", F.lit(0))).cast("long").alias("n_common"),
        )
    )
    t = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    spine = spark.createDataFrame(
        [(b, 12 // b) for b in (2, 3, 4, 6)], ["bands", "rows_per_band"]
    ).select(
        F.col("bands").cast("int").alias("bands"),
        F.col("rows_per_band").cast("int").alias("rows_per_band"),
    )
    rec = F.when(
        F.col("n_truth") > 0,
        F.round(
            F.coalesce("n_common", F.lit(0)).cast("double")
            / F.col("n_truth").cast("double"),
            6,
        ),
    )
    prec = F.when(
        F.coalesce("n_candidates", F.lit(0)) > 0,
        F.round(
            F.col("n_common").cast("double")
            / F.col("n_candidates").cast("double"),
            6,
        ),
    )
    return (
        spine.join(per, ["bands", "rows_per_band"], "left")
        .crossJoin(F.broadcast(t))
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_candidates", F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            "n_truth",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            rec.alias("recall"),
            prec.alias("precision"),
        )
        .orderBy("bands")
    )


_INT8_QZ_CTE = """base AS (
  SELECT vec_id, embedding,
         list_aggregate(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE))), 'max')
           AS m
  FROM embeddings
),
qz AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / m)
                                  AS INT)) AS qvec
  FROM base WHERE m > 0
)"""


@_q(
    "int8_recall_eval",
    f"""
WITH {_INT8_QZ_CTE},
rc AS (
  SELECT round({cosine_sql('embedding', 'qvec', _EMB_DIM)}, 6) AS c FROM qz
),
mr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         round(CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS mean_recon_cosine
  FROM rc
),
q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20
),
brute AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round({cosine_sql('e.embedding', 'q.qv', _EMB_DIM)}, 6)
                        DESC,
                      e.vec_id ASC) AS rn
    FROM embeddings e, q
  ) WHERE rn <= 10
),
i8 AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, z.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round({cosine_sql('z.qvec', 'q.qv', _EMB_DIM)}, 6)
                        DESC,
                      z.vec_id ASC) AS rn
    FROM qz z, q
  ) WHERE rn <= 10
),
h AS (
  SELECT CAST(count(*) AS BIGINT) AS total_hits
  FROM brute b JOIN i8 ON b.qid = i8.qid AND b.vec_id = i8.vec_id
),
nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q)
SELECT mr.n_vectors, mr.mean_recon_cosine, nq.n_queries, h.total_hits,
       round(CAST(h.total_hits AS DOUBLE)
             / (CAST(nq.n_queries AS DOUBLE) * 10.0), 6)
         AS mean_recall_at_10
FROM mr, nq, h
""",
    doc="Accuracy eval for the int8 scalar quantization "
    "(quantized_embeddings; operators/similarity.py:"
    "quantize_embeddings) — the eval the quantization tier owed "
    "(PQ has pq_recall_eval, JL has jl_distortion_pairs): mean "
    "per-vector reconstruction cosine (scale cancels in cosine, so "
    "it is measured against the raw int codes; per-vector values "
    "rounded 6dp then accumulated in DECIMAL — order-independent) "
    "and recall@10 of full-precision queries against the QUANTIZED "
    "corpus vs the exact ranking, over the standard 20-query set. "
    "The 4x-shrink-for-how-much-recall number an index deployment "
    "decides on. Single quantize+cosine scan feeds the distortion "
    "arm; both rank arms are one corpus scan each.",
)
def q_int8_recall_eval(spark, sf_dir):
    from ..functions.vectors import cosine
    from ..session import track_persist

    emb = _t(spark, sf_dir, "embeddings")
    absmax = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    qz = track_persist(
        emb.withColumn("__m", absmax)
        .where(F.col("__m") > 0)
        .select(
            "vec_id",
            "embedding",
            F.transform(
                F.col("embedding"),
                lambda x: F.round(
                    x.cast("double") * F.lit(127.0) / F.col("__m")
                ).cast("int"),
            ).alias("qvec"),
        )
    )
    rc = qz.select(
        F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("c")
    )
    mr = rc.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(
            F.sum(F.col("c").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_recon_cosine"),
    )
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    brute = sim.cosine_topk_batch(emb, qs, k=10).select("qid", "vec_id")
    i8 = sim.cosine_topk_batch(
        qz.select("vec_id", F.col("qvec").alias("embedding")), qs, k=10
    ).select("qid", "vec_id")
    h = brute.join(i8, ["qid", "vec_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("total_hits")
    )
    nq = qs.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return (
        mr.crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(h))
        .select(
            "n_vectors",
            "mean_recon_cosine",
            "n_queries",
            "total_hits",
            # NULL recall with zero queries (empty relation) — SQL
            # division semantics, never an ANSI crash.
            F.when(
                F.col("n_queries") > 0,
                F.round(
                    F.col("total_hits").cast("double")
                    / (F.col("n_queries").cast("double") * F.lit(10.0)),
                    6,
                ),
            ).alias("mean_recall_at_10"),
        )
    )


@_q(
    "time_weighted_event_means",
    """
WITH base AS (
  SELECT event_type, event_id,
         CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         epoch_us(ts) AS t
  FROM events WHERE value IS NOT NULL
),
stepped AS (
  SELECT event_type, v,
         lead(t) OVER (PARTITION BY event_type ORDER BY t, event_id) - t
           AS dt
  FROM base
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(v) AS BIGINT) AS sum_v,
         CAST(sum(CASE WHEN dt IS NOT NULL THEN dt END) AS BIGINT)
           AS span_us,
         sum(CASE WHEN dt IS NOT NULL THEN CAST(v AS HUGEINT) * dt END)
           AS sum_vdt
  FROM stepped GROUP BY event_type
)
SELECT event_type, n_points,
       CAST(coalesce(span_us, 0) AS BIGINT) AS span_us,
       round(CAST(sum_v AS DOUBLE) / CAST(n_points AS DOUBLE) / 100.0, 6)
         AS naive_mean,
       CASE WHEN span_us > 0 THEN
         round(CAST(sum_vdt AS DOUBLE) / CAST(span_us AS DOUBLE) / 100.0, 6)
       END AS time_weighted_mean
FROM agg ORDER BY event_type
""",
    doc="Time-weighted mean event value per type over the IRREGULAR "
    "event stream (operators/timeseries.py:time_weighted_mean) — the "
    "TSDB-standard LOCF integral (TimescaleDB time_weight): each "
    "value holds until the next observation, so burst seconds stop "
    "over-weighting the mean; reported NEXT to the naive row mean so "
    "the sampling bias is visible per type. Exact DECIMAL(38,0) "
    "value*microsecond products (the per-row product exits int64); "
    "per-type lead() windows, parallel across types, never global.",
)
def q_time_weighted_event_means(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("value").cast("double") * 100.0 + 0.5)
        .cast("long")
        .alias("v"),
    )
    return ts_ops.time_weighted_mean(e, "event_type", "ts", "v", "event_id")


@_q(
    "pretraining_data_report",
    "WITH comp AS (SELECT * FROM ("
    + _oracle_of("dedup_composition_shift")
    + ") z1),\nleak AS (SELECT * FROM ("
    + _oracle_of("split_leakage_audit")
    + ") z2),\nbud AS (SELECT * FROM ("
    + _oracle_of("token_budget_allocation")
    + ") z3),\nimg AS (SELECT * FROM ("
    + _oracle_of("image_neardup_pairs")
    + ") z4),\nafp AS (SELECT * FROM ("
    + _oracle_of("audio_fingerprints")
    + """) z5),
a AS (
  -- coalesce: n_docs is a COUNT-like total (0 on an empty corpus,
  -- matching the Spark pane's count aggregate), not a NULL sum.
  SELECT CAST(coalesce(sum(n_before), 0) AS BIGINT) AS n_docs,
         CAST(sum(n_after) AS BIGINT) AS n_survivors
  FROM comp
),
b AS (
  SELECT CAST(sum(CASE WHEN strategy = 'naive_hash'
                       THEN leaking_pairs ELSE 0 END) AS BIGINT)
           AS naive_leaked_pairs,
         CAST(sum(CASE WHEN strategy = 'cluster_keyed'
                       THEN leaking_pairs ELSE 0 END) AS BIGINT)
           AS clusterkeyed_leaked_pairs
  FROM leak
),
c AS (
  SELECT CAST(sum(tokens_available) AS BIGINT) AS total_tokens,
         CAST(sum(alloc_tokens) AS BIGINT) AS alloc_tokens,
         CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sources_capped
  FROM bud
),
i1 AS (SELECT CAST(count(*) AS BIGINT) AS n_image_dup_pairs FROM img),
i2 AS (
  SELECT CAST(count(DISTINCT d) AS BIGINT) AS n_image_dup_docs
  FROM (SELECT doc_a AS d FROM img UNION ALL SELECT doc_b FROM img) u
),
a2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n_audio_dup_pairs
  FROM afp x JOIN afp y
    ON x.doc_id < y.doc_id AND bit_count(xor(x.afp, y.afp)) <= 6
)
SELECT a.n_docs, a.n_survivors,
       round(CAST(a.n_survivors AS DOUBLE) / CAST(a.n_docs AS DOUBLE), 6)
         AS survivor_rate,
       b.naive_leaked_pairs, b.clusterkeyed_leaked_pairs,
       c.total_tokens, c.alloc_tokens, c.n_sources_capped,
       round(CAST(c.alloc_tokens AS DOUBLE) / CAST(c.total_tokens AS DOUBLE),
             6) AS mean_epochs,
       i1.n_image_dup_pairs, i2.n_image_dup_docs,
       round(CAST(i2.n_image_dup_docs AS DOUBLE) / CAST(a.n_docs AS DOUBLE),
             6) AS image_dup_doc_rate,
       a2.n_audio_dup_pairs
FROM a, b, c, i1, i2, a2
""",
    doc="One-row pretraining-data readiness pane — the curation "
    "tier's dashboard in the corpus_health_report / "
    "event_drift_report / retrieval_health_report mold: dedup "
    "survivor count and rate (CC representatives), near-dup pairs "
    "LEAKING across train/val/test under the naive hash split vs "
    "the cluster-keyed split (the latter structurally 0 — proven "
    "every sweep, not asserted), the token-budget outcome (corpus "
    "tokens, allocated tokens = mean epochs, sources hitting the "
    "repeat cap), and — round 11 — the MULTIMODAL dup tier next to "
    "the text one: image near-dup pairs/docs/rate (dHash + the "
    "scale-safe MIH join) and audio near-dup pairs (0 on this "
    "fixture — the PCM has no pairs inside the lossless radius, and "
    "the count PROVES that per sweep rather than assuming it). Every "
    "member reuses the green operators; the Spark plan computes the "
    "LSH pair relation ONCE (persisted) and feeds clustering and "
    "both leakage arms from it; the oracle composes the member "
    "oracle strings verbatim via _oracle_of.",
)
def q_pretraining_data_report(spark, sf_dir):
    from ..operators import packing as pk
    from ..session import cut_lineage

    docs = _t(spark, sf_dir, "documents")
    # Eager lineage cuts, not lazy persists: the pane broadcasts its
    # arms on separate threads (each crossJoin(broadcast(x)) arm
    # materializes concurrently), and concurrent first-computations
    # race past a lazy persist's unpopulated cache — round 11 measured
    # the pane re-running the fingerprint/LSH subtrees (+6.1s). Each
    # slim relation is materialized exactly once, up front.
    #
    # The three eager chains (text LSH → CC, image dHash→MIH, audio
    # fingerprint→MIH) are independent, and the pane is JOB-COUNT
    # bound (r18 stage profile: 63 jobs totaling 8.7s, none over 0.9s,
    # cores mostly idle) — so the chains run on three driver threads
    # (guide §2.6, the retrieval_health_report / rand_index pattern).
    # Each chain's internal persists are private to its thread;
    # deterministic arms, values unchanged.
    from concurrent.futures import ThreadPoolExecutor

    def _text_chain():
        p = cut_lineage(
            dd.minhash_lsh_pairs(
                docs, "doc_id", "text", k=12, bands=4, threshold=0.8
            ).select("doc_a", "doc_b")
        )
        return p, cut_lineage(graph.dedup_clusters(docs, p))

    def _image_chain():
        return cut_lineage(
            mm.hamming_neardup_pairs_mih(
                mm.image_dhash(mm.attach_bmp_payload(docs))
            )
        )

    def _audio_chain():
        return cut_lineage(
            mm.hamming_neardup_pairs_mih(
                mm.audio_fingerprint(mm.attach_wav_payload(docs)).select(
                    "doc_id", F.col("afp").alias("dhash")
                )
            )
        )

    with ThreadPoolExecutor(max_workers=3) as _pool:
        _ft = _pool.submit(_text_chain)
        _fi = _pool.submit(_image_chain)
        _fa = _pool.submit(_audio_chain)
        pairs, cl = _ft.result()
        ip = _fi.result()
        ap = _fa.result()
    a = cl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("doc_id") == F.col("cluster_id"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_survivors"),
    )

    def leaked(assign: DataFrame) -> DataFrame:
        sa = assign.select(
            F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
        )
        sb = assign.select(
            F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
        )
        return (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .where(F.col("sa") != F.col("sb"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    naive = pk.split_assign(docs).select("doc_id", "split")
    safe = pk.split_assign(cl, key_col="cluster_id").select(
        "doc_id", "split"
    )
    b_n = leaked(naive).withColumnRenamed("n", "naive_leaked_pairs")
    b_c = leaked(safe).withColumnRenamed("n", "clusterkeyed_leaked_pairs")

    d = docs.select(
        "source",
        tx.token_count(F.col("text")).cast("long").alias("tok"),
        (F.col("n_chars") >= 300).alias("passes"),
    )
    stats = d.groupBy("source").agg(
        F.sum("tok").alias("tokens"),
        F.sum(F.when(F.col("passes"), 1).otherwise(0))
        .cast("long")
        .alias("weight"),
    )
    c = smp.token_budget_allocation(
        stats, "source", "tokens", "weight",
        budget_num=9, budget_den=5, repeat_cap=2, rounds=3,
    ).agg(
        F.sum("tokens_available").cast("long").alias("total_tokens"),
        F.sum("alloc_tokens").cast("long").alias("alloc_tokens"),
        F.sum(F.when(F.col("capped"), 1).otherwise(0))
        .cast("long")
        .alias("n_sources_capped"),
    )
    # Multimodal dup tier: image near-dup pairs via the scale-safe MIH
    # join (lineage-cut — the pair relation feeds both the count and
    # the distinct-doc aggregate, whose broadcasts race a lazy cache)
    # and audio pairs over the PCM fingerprints; both chains were
    # materialized above on their own driver threads.
    i1 = ip.agg(F.count(F.lit(1)).cast("long").alias("n_image_dup_pairs"))
    i2 = ip.select(
        F.explode(F.array("doc_a", "doc_b")).alias("d")
    ).agg(F.countDistinct("d").cast("long").alias("n_image_dup_docs"))
    # Audio arm lineage-cut too (r12 verdict #6): single consumer
    # TODAY, but the pane's history (+6.1s in r11 from exactly this
    # re-computation class) says cut every arm BEFORE it grows one.
    a2 = ap.agg(F.count(F.lit(1)).cast("long").alias("n_audio_dup_pairs"))
    return (
        a.crossJoin(F.broadcast(b_n))
        .crossJoin(F.broadcast(b_c))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(i1))
        .crossJoin(F.broadcast(i2))
        .crossJoin(F.broadcast(a2))
        .select(
            "n_docs",
            "n_survivors",
            # Every pane ratio is guarded for the zero-denominator
            # (empty corpus) case — NULL, SQL semantics, never an
            # ANSI crash.
            F.when(
                F.col("n_docs") > 0,
                F.round(
                    F.col("n_survivors").cast("double")
                    / F.col("n_docs").cast("double"),
                    6,
                ),
            ).alias("survivor_rate"),
            "naive_leaked_pairs",
            "clusterkeyed_leaked_pairs",
            "total_tokens",
            "alloc_tokens",
            "n_sources_capped",
            F.when(
                F.col("total_tokens") > 0,
                F.round(
                    F.col("alloc_tokens").cast("double")
                    / F.col("total_tokens").cast("double"),
                    6,
                ),
            ).alias("mean_epochs"),
            "n_image_dup_pairs",
            "n_image_dup_docs",
            F.when(
                F.col("n_docs") > 0,
                F.round(
                    F.col("n_image_dup_docs").cast("double")
                    / F.col("n_docs").cast("double"),
                    6,
                ),
            ).alias("image_dup_doc_rate"),
            "n_audio_dup_pairs",
        )
    )


@_q(
    "modality_dup_matrix",
    f"""
WITH tp AS (SELECT doc_a, doc_b FROM ({_minhash_oracle(k=12, bands=4, threshold=0.8)}) z),
isig AS (
  SELECT doc_id, {_DHASH_SQL} AS dhash
  FROM (SELECT doc_id,
               8 + (doc_id % 5) * 4 AS w,
               6 + (doc_id % 3) * 6 AS h
        FROM documents) dims
),
ip AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM isig a JOIN isig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
),
asig AS (
  SELECT doc_id, afp FROM (
    {_WAV_ORACLE_BASE.strip()},
    t AS (
      SELECT w.doc_id, w.data_len, d.text, strlen(d.text) AS sl
      FROM w JOIN documents d USING (doc_id)
    )
    SELECT doc_id, {_AFP_SQL} AS afp FROM t
  ) q
),
ap AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM asig a JOIN asig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.afp, b.afp)) <= 6
),
dup AS (
  SELECT 'text' AS modality, doc_a AS doc_id FROM tp
  UNION SELECT 'text', doc_b FROM tp
  UNION SELECT 'image', doc_a FROM ip
  UNION SELECT 'image', doc_b FROM ip
  UNION SELECT 'audio', doc_a FROM ap
  UNION SELECT 'audio', doc_b FROM ap
),
srcs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
mods AS (SELECT unnest(['audio', 'image', 'text']) AS modality),
ds AS (
  SELECT u.modality, d.source,
         CAST(count(DISTINCT u.doc_id) AS BIGINT) AS n_dup_docs
  FROM dup u JOIN documents d USING (doc_id)
  GROUP BY 1, 2
)
SELECT m.modality, s.source, s.n_docs,
       CAST(coalesce(ds.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       round(CAST(coalesce(ds.n_dup_docs, 0) AS DOUBLE)
             / CAST(s.n_docs AS DOUBLE), 6) AS dup_doc_rate
FROM mods m CROSS JOIN srcs s
LEFT JOIN ds ON ds.modality = m.modality AND ds.source = s.source
ORDER BY m.modality, s.source
""",
    doc="Cross-modal duplication matrix — the (modality × source) "
    "pane completing the reporting symmetry (text dedup rates r10, "
    "contamination direction r11, modality r12): for each ingestion "
    "source, how many of its documents participate in >= 1 near-dup "
    "pair under each modality's production matcher (text: MinHash "
    "12/4 + exact-Jaccard >= 0.8; image: dHash + MIH hamming <= 6; "
    "audio: PCM fingerprint + MIH hamming <= 6 — 0-proven on this "
    "fixture, the honest empty arm). Each pair relation computes "
    "once, explodes to its dup-doc set, and one combinable groupBy "
    "against the broadcast (doc, source) map fills a modality × "
    "source spine (bounded 3 × |sources| cross). The answer to "
    "'WHICH feed is polluting WHICH modality' before reweighting a "
    "mixture.",
)
def q_modality_dup_matrix(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    tp = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=12, bands=4, threshold=0.8
    ).select("doc_a", "doc_b")
    ip = mm.hamming_neardup_pairs_mih(
        mm.image_dhash(mm.attach_bmp_payload(docs))
    ).select("doc_a", "doc_b")
    ap = mm.hamming_neardup_pairs_mih(
        mm.audio_fingerprint(mm.attach_wav_payload(docs)).select(
            "doc_id", F.col("afp").alias("dhash")
        )
    ).select("doc_a", "doc_b")

    def dup_docs(pairs: DataFrame, modality: str) -> DataFrame:
        return pairs.select(
            F.lit(modality).alias("modality"),
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
        ).distinct()

    dup = (
        dup_docs(tp, "text")
        .unionByName(dup_docs(ip, "image"))
        .unionByName(dup_docs(ap, "audio"))
    )
    ds = (
        dup.join(src, "doc_id")
        .groupBy("modality", "source")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_dup_docs"))
    )
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    mods = spark.createDataFrame(
        [("audio",), ("image",), ("text",)], "modality string"
    )
    # Broadcast the LITERAL side (3 rows, LocalTableScan — provably
    # bounded in plan text); per-source counts stay the stream side.
    return (
        base.crossJoin(F.broadcast(mods))
        .join(ds, ["modality", "source"], "left")
        .select(
            "modality",
            "source",
            "n_docs",
            F.coalesce("n_dup_docs", F.lit(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.round(
                F.coalesce("n_dup_docs", F.lit(0)).cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_doc_rate"),
        )
        .orderBy("modality", "source")
    )


@_q(
    "multimodal_curation_funnel",
    f"""
WITH {_CURATE_Q_CTE},
{_CURATE_KEEP_CTE},
isig AS (
  SELECT doc_id, {_DHASH_SQL} AS dhash
  FROM (SELECT doc_id,
               8 + (doc_id % 5) * 4 AS w,
               6 + (doc_id % 3) * 6 AS h
        FROM documents) dims
),
idrop AS (
  SELECT DISTINCT b.doc_id
  FROM isig a JOIN isig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
),
asig AS (
  SELECT doc_id, afp FROM (
    {_WAV_ORACLE_BASE.strip()},
    t AS (
      SELECT w.doc_id, w.data_len, d.text, strlen(d.text) AS sl
      FROM w JOIN documents d USING (doc_id)
    )
    SELECT doc_id, {_AFP_SQL} AS afp FROM t
  ) aq
),
adrop AS (
  SELECT DISTINCT b.doc_id
  FROM asig a JOIN asig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.afp, b.afp)) <= 6
),
{_VIDEO_SIG_CTE.strip()},
vdrop AS (
  SELECT DISTINCT doc_b AS doc_id FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM vsig a
    JOIN vsig b ON a.doc_id < b.doc_id AND a.frame_idx = b.frame_idx
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
    GROUP BY 1, 2
    HAVING count(*) >= 2
  ) vp
),
fl AS (
  SELECT d.source,
         CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS s1,
         CASE WHEN k.doc_id IS NOT NULL
                   AND q.quality_score >= 0.45 THEN 1 ELSE 0 END AS s2,
         CASE WHEN k.doc_id IS NOT NULL
                   AND q.quality_score >= 0.45
                   AND q.n_tokens BETWEEN 5 AND 5000 THEN 1 ELSE 0 END AS s3,
         CASE WHEN k.doc_id IS NOT NULL
                   AND q.quality_score >= 0.45
                   AND q.n_tokens BETWEEN 5 AND 5000
                   AND i.doc_id IS NULL THEN 1 ELSE 0 END AS s4,
         CASE WHEN k.doc_id IS NOT NULL
                   AND q.quality_score >= 0.45
                   AND q.n_tokens BETWEEN 5 AND 5000
                   AND i.doc_id IS NULL
                   AND aa.doc_id IS NULL THEN 1 ELSE 0 END AS s5,
         CASE WHEN k.doc_id IS NOT NULL
                   AND q.quality_score >= 0.45
                   AND q.n_tokens BETWEEN 5 AND 5000
                   AND i.doc_id IS NULL
                   AND aa.doc_id IS NULL
                   AND v.doc_id IS NULL THEN 1 ELSE 0 END AS s6
  FROM documents d
  LEFT JOIN keep k ON d.doc_id = k.doc_id
  JOIN q ON d.doc_id = q.doc_id
  LEFT JOIN idrop i ON d.doc_id = i.doc_id
  LEFT JOIN adrop aa ON d.doc_id = aa.doc_id
  LEFT JOIN vdrop v ON d.doc_id = v.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(sum(s1) AS BIGINT) AS n_text_dedup,
       CAST(sum(s2) AS BIGINT) AS n_quality,
       CAST(sum(s3) AS BIGINT) AS n_length,
       CAST(sum(s4) AS BIGINT) AS n_image_dedup,
       CAST(sum(s5) AS BIGINT) AS n_audio_dedup,
       CAST(sum(s6) AS BIGINT) AS n_final,
       round(CAST(sum(s6) AS DOUBLE) / count(*), 6) AS survival_rate
FROM fl
GROUP BY source
""",
    doc="Modality-aware curation funnel (verdict r12 item #7) — "
    "curation_funnel_by_source extended with the multimodal near-dup "
    "cut stages the tier now implements: raw → text fingerprint-dedup "
    "survivors → + quality >= 0.45 → + token bounds → + image "
    "near-dup cut (dHash + MIH hamming <= 6) → + audio near-dup cut "
    "(PCM fingerprint + MIH hamming <= 6) → + video near-dup cut "
    "(>= 2 aligned frames within hamming 6), with end-to-end "
    "survival. Each modality cut applies the keep-lowest-id rule (a "
    "doc is dropped iff it is the higher id of some near-dup pair — "
    "deterministic, matches the pair relations' doc_a < doc_b "
    "convention). The first four columns are BY CONSTRUCTION equal "
    "to curation_funnel_by_source's (same shared CTEs oracle-side, "
    "same operators Spark-side; pytest-pinned), so the multimodal "
    "stages' marginal losses are exactly attributable. Stage flags "
    "are conditional sums in ONE source-keyed aggregate; the only "
    "shuffles are the relations each stage already needs, and every "
    "modality pair join is the scale-safe MIH bucketed join.",
)
def q_multimodal_curation_funnel(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    qf = tx.quality_features(docs, "doc_id", "text").select(
        "doc_id", "quality_score", "n_tokens"
    )
    keep = (
        tx.doc_fingerprints(docs, "doc_id", "text")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("is_keep"))
    )

    def drop_set(pairs: DataFrame, b_col: str, flag: str) -> DataFrame:
        return (
            pairs.select(F.col(b_col).alias("doc_id"))
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    idrop = drop_set(
        mm.hamming_neardup_pairs_mih(
            mm.image_dhash(mm.attach_bmp_payload(docs))
        ),
        "doc_b",
        "img_dup",
    )
    adrop = drop_set(
        mm.hamming_neardup_pairs_mih(
            mm.audio_fingerprint(mm.attach_wav_payload(docs)).select(
                "doc_id", F.col("afp").alias("dhash")
            )
        ),
        "doc_b",
        "aud_dup",
    )
    vdrop = drop_set(
        mm.video_neardup_pairs(
            mm.video_frame_fingerprints(
                mm.attach_avi_payload(docs), stride=2
            )
        ),
        "video_b",
        "vid_dup",
    )
    fl = (
        docs.select("doc_id", "source")
        .join(keep, "doc_id", "left")
        .join(qf, "doc_id")
        .join(idrop, "doc_id", "left")
        .join(adrop, "doc_id", "left")
        .join(vdrop, "doc_id", "left")
    )
    s1 = F.col("is_keep").isNotNull()
    s2 = s1 & (F.col("quality_score") >= 0.45)
    s3 = s2 & F.col("n_tokens").between(5, 5000)
    s4 = s3 & F.col("img_dup").isNull()
    s5 = s4 & F.col("aud_dup").isNull()
    s6 = s5 & F.col("vid_dup").isNull()
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return fl.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.sum(flag(s1)).cast("long").alias("n_text_dedup"),
        F.sum(flag(s2)).cast("long").alias("n_quality"),
        F.sum(flag(s3)).cast("long").alias("n_length"),
        F.sum(flag(s4)).cast("long").alias("n_image_dedup"),
        F.sum(flag(s5)).cast("long").alias("n_audio_dedup"),
        F.sum(flag(s6)).cast("long").alias("n_final"),
        F.round(
            F.sum(flag(s6)).cast("double") / F.count(F.lit(1)), 6
        ).alias("survival_rate"),
    )


