"""North-star: dedup clustering, sampling, curation, retrieval stats.

Split from the single-file queries.py (round 15). Modules are imported by registry/__init__.py in a FIXED order; every @_q call appends to the shared _REGISTRY in registry/core.py, so registration order (the driver's export order) is preserved byte-for-byte.
"""

from __future__ import annotations

from .core import (
    F,
    _q,
    _t,
    agg,
    cosine_sql,
    dd,
    graph,
    md5_long_sql,
    sim,
    smp,
    tx,
)  # noqa: F401
from .dedup import _minhash_oracle  # noqa: F401
from .similarity import _EMB_DIM, _signlsh_adaptive_oracle  # noqa: F401

# --------------------------------------------------------------------------
# North-star: dedup clustering, sampling, curation, retrieval stats
# --------------------------------------------------------------------------


@_q(
    "dedup_clusters",
    f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle(k=12, bands=4, threshold=0.8)}) mp
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
)
SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
""",
    doc="Connected components over MinHash near-dup pairs: pairs alone "
    "can't pick survivors (A~B, B~C ⇒ {A,B,C} is ONE group) — "
    "graph.connected_components labels every doc with its component's "
    "min id; "
    "oracle = exact reachability via recursive CTE, so the check "
    "covers the transitive closure, not a banding replay.",
)
def q_dedup_clusters(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", k=12, bands=4, threshold=0.8)
    return graph.dedup_clusters(docs, pairs)


@_q(
    "semantic_dedup_survivors",
    f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_signlsh_adaptive_oracle(threshold=0.42)}) sp
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
walk(node, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
),
clusters AS (
  SELECT node AS vec_id, min(label) AS cluster_id FROM walk GROUP BY node
)
SELECT cluster_id AS vec_id, count(*) AS n_members
FROM clusters GROUP BY cluster_id
""",
    doc="Semantic (embedding-space) dedup end to end: sign-LSH cosine "
    "near-dup pairs → connected components → min-id survivor per "
    "cluster with member count — the embedding twin of the MinHash "
    "dedup_clusters path, so a curation pipeline can dedup on meaning "
    "rather than surface text. Oracle = recursive-CTE reachability "
    "over the replayed LSH pairs (checks the transitive closure).",
)
def q_semantic_dedup_survivors(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    pairs = sim.cosine_neardup_pairs(emb, threshold=0.42)
    comp = graph.connected_components(pairs, "id_a", "id_b")
    clusters = (
        emb.select(F.col("vec_id"))
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id", F.coalesce("cluster", F.col("vec_id")).alias("cluster_id")
        )
    )
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("cluster_id").alias("vec_id"), "n_members")
    )


@_q(
    "shipping_priority_top10",
    """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4)))
            AS DOUBLE) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate  > DATE '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape (shipping priority): selective dim filter "
    "broadcast into a fact-fact join, decimal-exact revenue per order, "
    "global top-10 via TakeOrderedAndProject (no full sort). Both date "
    "predicates push to the scans.",
)
def q_shipping_priority_top10(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")),
               F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(agg.exact_sum(disc_price, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@_q(
    "top_orders_with_ties",
    """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY o_custkey
                      ORDER BY floor(o_totalprice / 10000) DESC) AS rk
  FROM orders
) WHERE rk <= 2
""",
    doc="rank()-based top-k per group KEEPING ties (vs row_number's "
    "arbitrary cut in top_n_per_group): orders bucketed to a coarse "
    "price band so genuine ties exist; every order in a tied band "
    "survives. One partitioned window — same single-shuffle shape.",
)
def q_top_orders_with_ties(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    band = F.floor(F.col("o_totalprice") / 10000)
    w = Window.partitionBy("o_custkey").orderBy(band.desc())
    return (
        o.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def _kmeans_cte_chain(k: int, iters: int) -> str:
    """CTE chain c0 → a1 → c1 → … → c{iters} replaying
    kmeans_centroids: fixed init (vec_id < k), per-iteration argmax
    assignment (rounded score, label-DESC tiebreak), rounded
    per-dimension means — the identical deterministic trajectory the
    Spark loop takes."""
    cos = cosine_sql("c.centroid", "e.embedding", _EMB_DIM)
    ctes = [f"""c0 AS (
  SELECT vec_id AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
  FROM embeddings WHERE vec_id < {k}
)"""]
    for it in range(1, iters + 1):
        ctes.append(f"""a{it} AS (
  SELECT vec_id, cell AS label FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({cos}, 6) DESC, c.cell DESC) AS rn
    FROM embeddings e, c{it - 1} c
  ) WHERE rn = 1
)""")
        ctes.append(f"""c{it} AS (
  SELECT cell, list(m ORDER BY pos) AS centroid FROM (
    SELECT a.label AS cell, i AS pos,
           round(avg(CAST(e.embedding[i] AS DOUBLE)), 6) AS m
    FROM embeddings e JOIN a{it} a ON e.vec_id = a.vec_id,
         (SELECT unnest(generate_series(1, {_EMB_DIM})) AS i) g
    GROUP BY 1, 2
  ) t GROUP BY cell
)""")
    return ",".join(ctes)


def _kmeans_oracle(k: int = 4, iters: int = 2) -> str:
    cos = cosine_sql("c.centroid", "e.embedding", _EMB_DIM)
    return f"""WITH {_kmeans_cte_chain(k, iters)}
SELECT vec_id, cell AS label, s AS score FROM (
  SELECT e.vec_id, c.cell, round({cos}, 6) AS s,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({cos}, 6) DESC, c.cell DESC) AS rn
  FROM embeddings e, c{iters} c
) t WHERE rn = 1
"""


def _ivf_neardup_oracle(
    threshold: float, k_cells: int = 8, probes: int = 2, iters: int = 1
) -> str:
    cos = cosine_sql("c.centroid", "e.embedding", _EMB_DIM)
    vcos = cosine_sql("ea.embedding", "eb.embedding", _EMB_DIM)
    return f"""WITH {_kmeans_cte_chain(k_cells, iters)},
scored AS (
  SELECT e.vec_id, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({cos}, 6) DESC, c.cell DESC) AS rn
  FROM embeddings e, c{iters} c
),
probed AS (SELECT vec_id, cell FROM scored WHERE rn <= {probes}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM probed a JOIN probed b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round({vcos}, 6) AS score
FROM cand
JOIN embeddings ea ON ea.vec_id = id_a
JOIN embeddings eb ON eb.vec_id = id_b
WHERE round({vcos}, 6) >= {threshold}
"""


@_q(
    "embedding_neardup_ivf",
    _ivf_neardup_oracle(threshold=0.42, k_cells=8, probes=2, iters=1),
    doc="Embedding near-dup pairs blocked by IVF cells — the bucketing "
    "whose cardinality grows with the corpus (k_cells ≈ n/target at "
    "scale), unlike sign-LSH's fixed 2^bits buckets whose candidate "
    "blowup the 5× bench measured. Spherical-k-means cells, top-2 "
    "multi-probe routing for boundary recall, exact-cosine verify; "
    "the oracle replays the identical deterministic training and "
    "routing.",
)
def q_embedding_neardup_ivf(spark, sf_dir):
    return sim.neardup_pairs_ivf(
        _t(spark, sf_dir, "embeddings"), threshold=0.42,
        k_cells=8, probes=2, iters=1,
    )


@_q(
    "kmeans_assignments",
    _kmeans_oracle(k=4, iters=2),
    doc="Spherical k-means, 2 Lloyd iterations (iterative ML in pure "
    "Catalyst): deterministic init (vec_id < k), broadcast-cross-join "
    "assignment with rounded-score/label-tiebreak argmax, rounded "
    "per-dimension means — every iteration replayable by a sequential "
    "engine, so the oracle follows the identical trajectory.",
)
def q_kmeans_assignments(spark, sf_dir):
    return sim.kmeans_spherical(
        _t(spark, sf_dir, "embeddings"), k=4, iters=2
    )


@_q(
    "dedup_clusters_star",
    f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle(k=12, bands=4, threshold=0.8)}) mp
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
)
SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
""",
    doc="The dedup_clusters pipeline under a second name, kept from "
    "when the two ran different CC algorithms: graph.dedup_clusters "
    "over the MinHash pairs, whose connected_components picks driver "
    "union-find or distributed large-star/small-star from the edge "
    "count. The identical recursive-CTE oracle checks the transitive "
    "closure.",
)
def q_dedup_clusters_star(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=12, bands=4, threshold=0.8
    )
    return graph.dedup_clusters(docs, pairs)


_SAMPLE_KEY_SQL = md5_long_sql("concat_ws('|', 'r2', CAST(doc_id AS VARCHAR))")


@_q(
    "sampled_documents",
    f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_SAMPLE_KEY_SQL} % 10000 < 1000
""",
    doc="Deterministic 10% hash sample: rand() resamples per partition "
    "layout, a content-hash bucket selects the same rows on every "
    "engine/rerun/repartition — zero shuffle, pure map-side.",
)
def q_sampled_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return smp.hash_sample(d, "doc_id", 0.10, salt="r2")


@_q(
    "stratified_sample_by_lang",
    f"""
SELECT doc_id, lang
FROM documents
WHERE {_SAMPLE_KEY_SQL} % 10000 <
      CASE WHEN lang = 'en' THEN 500
           WHEN lang = 'zh' THEN 5000
           ELSE 2000 END
""",
    doc="Stratified hash sampling — per-language rates (downsample "
    "dominant en 5%, keep half of rare zh, 20% default): the corpus "
    "rebalancing move, still deterministic and map-side.",
)
def q_stratified_sample_by_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return smp.stratified_hash_sample(
        d, "doc_id", "lang", {"en": 0.05, "zh": 0.5}, default_fraction=0.2, salt="r2"
    )


@_q(
    "tfidf_top_terms",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rnk FROM ranked WHERE rnk <= 3
""",
    doc="Top-3 TF-IDF terms per doc: two slim groupBys (term-level "
    "relation never carries payloads) + window top-n; score rounded to "
    "6dp BEFORE ranking with a term tiebreak so both engines select "
    "the identical set.",
)
def q_tfidf_top_terms(spark, sf_dir):
    return tx.tfidf_top_terms(_t(spark, sf_dir, "documents"), "doc_id", "text", 3)


@_q(
    "scrub_pii_docs",
    f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{tx.EMAIL_PATTERN}', '<EMAIL>', 'g'),
         '{tx.URL_PATTERN}', '<URL>', 'g'),
         '{tx.PHONE_PATTERN}', '<PHONE>', 'g') AS scrubbed_text,
       CAST(len(regexp_extract_all(text, '{tx.EMAIL_PATTERN}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{tx.URL_PATTERN}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(text, '{tx.PHONE_PATTERN}')) AS INT) AS n_phones
FROM documents
""",
    doc="PII scrub pass: emails/URLs/phone-ish spans → typed "
    "placeholders + per-kind counts; patterns restricted to the "
    "Java-regex ∩ RE2 dialect so the oracle replays them exactly.",
)
def q_scrub_pii_docs(spark, sf_dir):
    return tx.scrub_pii(_t(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "inverted_postings",
    """
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS term
  FROM documents
),
agg AS (
  SELECT term, count(*) AS df,
         (list_sort(list(doc_id)))[1:20] AS postings
  FROM tok WHERE term <> '' GROUP BY term
)
SELECT term, df, array_to_string(postings, ',') AS postings
FROM agg WHERE df >= 2
""",
    doc="Inverted-index posting lists: term → df + first 20 sorted doc "
    "ids; hapax tail dropped (min_df=2). Shuffle key is the term; "
    "payloads never move. Postings serialized to CSV for the harness "
    "canonicalizer; `tx.inverted_index` keeps the typed array.",
)
def q_inverted_postings(spark, sf_dir):
    out = tx.inverted_index(
        _t(spark, sf_dir, "documents"), "doc_id", "text", min_df=2, max_postings=20
    )
    return out.select("term", "df", F.array_join("postings", ",").alias("postings"))


# Shared curation-stage CTEs (DuckDB): the quality features and the
# fingerprint-dedup survivor set — consumed by both the survivor query
# (curated_documents) and the per-source funnel report.
_CURATE_Q_CTE = f"""q AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS INT) AS n_tokens,
         round(least(CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
               + round(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    t -> t IN ({", ".join(f"'{w}'" for w in tx.LANG_STOPWORDS['en'])}))) AS DOUBLE)
                 / CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE), 6) * 0.3
               + (1.0 - least(round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE), 6) * 10, 1.0)) * 0.2,
               6) AS quality_score
  FROM documents
)"""

_CURATE_KEEP_CTE = """keep AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
)"""


@_q(
    "curated_documents",
    f"""
WITH {_CURATE_Q_CTE},
{_CURATE_KEEP_CTE}
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
JOIN keep USING (doc_id)
JOIN q USING (doc_id)
WHERE q.quality_score >= 0.45 AND q.n_tokens BETWEEN 5 AND 5000
""",
    doc="End-to-end curation composite: fingerprint-dedup survivors ∩ "
    "quality threshold ∩ token-length bounds — the assembled "
    "training-data filter chain (dedup → quality → bounds) as one "
    "declarative plan.",
)
def q_curated_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    q = tx.quality_features(docs, "doc_id", "text").filter(
        (F.col("quality_score") >= 0.45) & F.col("n_tokens").between(5, 5000)
    )
    keep = (
        tx.doc_fingerprints(docs, "doc_id", "text")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        docs.join(keep.select("doc_id"), "doc_id", "left_semi")
        .join(q.select("doc_id"), "doc_id", "left_semi")
        .select("doc_id", "lang", "source", "n_chars")
    )


