"""URL/domain curation tier + sketches + the statistics/eval tier (drift, calibration, golden records, retrieval health).

Split from the single-file queries.py (round 15). Modules are imported by registry/__init__.py in a FIXED order; every @_q call appends to the shared _REGISTRY in registry/core.py, so registration order (the driver's export order) is preserved byte-for-byte.
"""

from __future__ import annotations

from .core import (
    DataFrame,
    F,
    _REGISTRY,
    _q,
    _t,
    agg,
    cosine_sql,
    dd,
    dq,
    graph,
    md5_long_sql,
    mm,
    sim,
    ts_ops,
    tx,
    ur,
)  # noqa: F401
from .aggregates import _BM25_TERMS  # noqa: F401
from .dedup import _simhash_sig_sql  # noqa: F401
from .similarity import (
    _EMB_DIM,
    _empty_if_no_query,
    _query_vec,
    q_pq_recall_eval,
)  # noqa: F401
from .curation import _CURATE_KEEP_CTE, _CURATE_Q_CTE  # noqa: F401
from .warehouse_a import KNN_EDGES_CTE, _supplier_knn_edges  # noqa: F401

# --------------------------------------------------------------------------
# URL / domain curation tier (operators/urls.py)
# --------------------------------------------------------------------------
# The documents fixture has no URL column, so (like the % 97
# decontamination split) a deterministic messy URL is synthesized
# in-query IDENTICALLY on both engines: scheme/host case, tracking
# params, param order, default ports, fragments, and trailing slashes
# vary by residue class; hosts come from the source column across five
# public-suffix classes (incl. multi-label co.uk / github.io).

_DOC_URLS_CTE = """urls AS (
  SELECT doc_id, lang, source,
         concat(
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'http' END,
           '://',
           CASE WHEN doc_id % 11 = 0 THEN 'blog.' WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END,
           source, '.',
           (['com','co.uk','org','github.io','net'])[CAST(doc_id % 5 AS INT) + 1],
           CASE WHEN doc_id % 4 = 0 THEN (CASE WHEN doc_id % 3 = 1 THEN ':443' ELSE ':80' END)
                WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END,
           '/D', CAST(doc_id % 10 AS VARCHAR),
           CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END,
           CASE WHEN doc_id % 2 = 0 THEN concat('?utm_source=feed&q=', CAST(doc_id % 5 AS VARCHAR), '&a=1')
                ELSE concat('?a=1&q=', CAST(doc_id % 5 AS VARCHAR), '&utm_campaign=x') END,
           CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END
         ) AS url
  FROM documents
)"""

_CANON_CTE = _DOC_URLS_CTE + """,
cu1 AS (SELECT doc_id, lang, url, regexp_replace(url, '#.*$', '') AS uf FROM urls),
cu2 AS (SELECT *, lower(regexp_extract(uf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
               regexp_replace(uf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM cu1),
cu3 AS (SELECT *, regexp_extract(rest, '^([^/?]+)', 1) AS hostport,
               regexp_replace(rest, '^[^/?]+', '') AS pathq FROM cu2),
cu4 AS (SELECT *, lower(regexp_extract(hostport, '^([^:]+)', 1)) AS host0,
               regexp_extract(hostport, ':([0-9]+)$', 1) AS port FROM cu3),
cu5 AS (SELECT *, CASE WHEN starts_with(host0, 'www.') THEN substr(host0, 5) ELSE host0 END AS host,
               regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path,
               regexp_extract(pathq, '\\?(.*)$', 1) AS qs FROM cu4),
canon AS (
  SELECT doc_id, lang, url, host,
         concat(scheme, '://', host,
           CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                         OR (scheme = 'https' AND port = '443'))
                THEN concat(':', port) ELSE '' END,
           path,
           CASE WHEN qc <> '' THEN concat('?', qc) ELSE '' END) AS canonical_url
  FROM (SELECT *, array_to_string(list_sort(list_filter(string_split(qs, '&'),
             p -> p <> '' AND NOT starts_with(p, 'utm_')
                  AND NOT (string_split(p, '=')[1] IN ('fbclid','gclid','mc_cid','mc_eid','ref')))), '&') AS qc
        FROM cu5)
)"""

_SFX_VALUES = ", ".join(
    f"('{s}', {s.count('.') + 1})" for s in ur.DEFAULT_PUBLIC_SUFFIXES
)

_REGDOM_CTE = _CANON_CTE + f""",
sfx(suffix, sfx_labels) AS (VALUES {_SFX_VALUES}),
lbl AS (SELECT doc_id, lang, host, string_split(host, '.') AS L FROM canon),
cnd AS (
  SELECT doc_id, CAST(k AS INT) AS k,
         array_to_string(L[len(L) - CAST(k AS INT) + 1:len(L)], '.') AS cand
  FROM lbl, LATERAL unnest(generate_series(1, least(len(L) - 1, 3))) AS u(k)
  WHERE len(L) >= 2),
hit AS (SELECT doc_id, max(k) AS bk, arg_max(cand, k) AS s
        FROM cnd JOIN sfx ON cnd.cand = sfx.suffix GROUP BY doc_id),
reg AS (SELECT l.doc_id, l.lang, l.host,
               CASE WHEN bk IS NOT NULL THEN concat(L[len(L) - bk], '.', s)
                    ELSE host END AS registrable_domain
        FROM lbl l LEFT JOIN hit ON l.doc_id = hit.doc_id)"""


def _doc_urls(spark, sf_dir) -> DataFrame:
    """Spark twin of _DOC_URLS_CTE — the synthesized messy URL column."""
    d = _t(spark, sf_dir, "documents")

    def m(k):
        return F.col("doc_id") % k

    scheme = (
        F.when(m(3) == 0, F.lit("HTTP"))
        .when(m(3) == 1, F.lit("https"))
        .otherwise(F.lit("http"))
    )
    sub = (
        F.when(m(11) == 0, F.lit("blog."))
        .when(m(2) == 0, F.lit("WWW."))
        .otherwise(F.lit(""))
    )
    tld = F.element_at(
        F.array(*[F.lit(x) for x in ["com", "co.uk", "org", "github.io", "net"]]),
        (m(5) + 1).cast("int"),
    )
    port = (
        F.when(m(4) == 0, F.when(m(3) == 1, F.lit(":443")).otherwise(F.lit(":80")))
        .when(m(4) == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    q = F.when(
        m(2) == 0,
        F.concat(F.lit("?utm_source=feed&q="), m(5).cast("string"), F.lit("&a=1")),
    ).otherwise(
        F.concat(F.lit("?a=1&q="), m(5).cast("string"), F.lit("&utm_campaign=x"))
    )
    url = F.concat(
        scheme, F.lit("://"), sub, F.col("source"), F.lit("."), tld, port,
        F.lit("/D"), m(10).cast("string"),
        F.when(m(6) == 0, F.lit("/")).otherwise(F.lit("")),
        q,
        F.when(m(7) == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    return d.select("doc_id", "lang", "source", url.alias("url"))


def _doc_domains(spark, sf_dir) -> DataFrame:
    """(doc_id, lang, host, registrable_domain) via the broadcast
    public-suffix table."""
    u = _doc_urls(spark, sf_dir)
    hosts = u.select(
        "doc_id", "lang", ur.url_host(F.col("url")).alias("host")
    )
    return ur.registrable_domain(
        hosts, "host", ["doc_id", "lang"], ur.suffix_table(spark)
    )


@_q(
    "canonical_url_dedup",
    "WITH " + _CANON_CTE + """
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_variants,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
       CAST(min(doc_id) AS BIGINT) AS keep_doc
FROM canon GROUP BY canonical_url HAVING count(*) >= 2
""",
    doc="URL-key dedup groups (operators/urls.py:canonicalize_url): "
    "documents whose URLs differ only by scheme/host case, www., "
    "tracking params (utm_* + fbclid/gclid/...), param ORDER, default "
    "ports, fragments, or trailing slashes collapse to one canonical "
    "key; groups of ≥2 surface with a deterministic min-id survivor — "
    "the C4/RefinedWeb fetch-dedup stage that runs BEFORE any text "
    "op. Canonicalization is one map-side Catalyst expression (regexp "
    "extracts + array filter/sort, zero UDF); the groupBy shuffles "
    "only the canonical string — at 100 TB swap in its xxhash64 for "
    "the shuffle key (the r7 shingle-key move).",
)
def q_canonical_url_dedup(spark, sf_dir):
    c = _doc_urls(spark, sf_dir).select(
        "doc_id", "url", ur.canonicalize_url(F.col("url")).alias("canonical_url")
    )
    return (
        c.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.count_distinct(F.col("url")).alias("n_raw_forms"),
            F.min("doc_id").alias("keep_doc"),
        )
        .where(F.col("n_variants") >= 2)
    )


@_q(
    "domain_mixture_stats",
    "WITH " + _REGDOM_CTE + """,
st AS (SELECT registrable_domain, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       FROM reg GROUP BY 1),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM st)
SELECT registrable_domain, n_docs, n_langs,
       round(CAST(n_docs AS DOUBLE) / total, 6) AS share
FROM st, tot
""",
    doc="Per-registrable-domain corpus mixture audit (operators/urls."
    "py:registrable_domain): public-suffix extraction — each host "
    "explodes into ≤3 trailing-label candidates, ONE broadcast hash "
    "join against the (tiny, ~9k-row in production) suffix table, "
    "longest match via a combinable max-struct agg; subdomains "
    "(blog.x.com, www.x.com) collapse into x.com, multi-label "
    "suffixes (co.uk, github.io) handled by construction. Shares via "
    "a broadcast 1-row total (bounded-cross). The audit that catches "
    "a boilerplate domain dominating the corpus before training.",
)
def q_domain_mixture_stats(spark, sf_dir):
    dom = _doc_domains(spark, sf_dir)
    st = dom.groupBy("registrable_domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("lang")).alias("n_langs"),
    )
    tot = st.agg(F.sum("n_docs").alias("total"))
    return st.crossJoin(F.broadcast(tot)).select(
        "registrable_domain",
        "n_docs",
        "n_langs",
        F.round(F.col("n_docs").cast("double") / F.col("total"), 6).alias("share"),
    )


@_q(
    "domain_capped_docs",
    "WITH " + _REGDOM_CTE + f"""
SELECT doc_id, registrable_domain FROM (
  SELECT doc_id, registrable_domain,
         row_number() OVER (
           PARTITION BY registrable_domain
           ORDER BY {md5_long_sql("concat_ws('|', 'domaincap', CAST(doc_id AS VARCHAR))")} ASC,
                    doc_id ASC) AS rk
  FROM reg) t
WHERE rk <= 20
""",
    doc="Per-domain document cap (operators/urls.py:cap_per_domain): "
    "at most 20 docs per registrable domain, selected by a "
    "deterministic md5 priority over doc_id — rand()-free, so the "
    "survivor set is identical across engines/partitionings/retries "
    "(the repo's sampling rule). ONE domain-keyed window; at extreme "
    "skew (one domain = half the corpus) the documented two-pass "
    "variant windows only the over-cap domains (broadcast list). The "
    "RefinedWeb per-domain cap that stops boilerplate farms from "
    "dominating the training mixture.",
)
def q_domain_capped_docs(spark, sf_dir):
    dom = _doc_domains(spark, sf_dir).select("doc_id", "registrable_domain")
    return ur.cap_per_domain(
        dom, "registrable_domain", "doc_id", cap=20, seed="domaincap"
    )


@_q(
    "price_histogram_quantiles",
    """
WITH h AS (
  SELECT o_orderpriority AS prio,
         CAST(floor(CAST(o_totalprice AS DOUBLE) / 5000.0) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
),
c AS (
  SELECT prio, bucket, cnt,
         CAST(sum(cnt) OVER (PARTITION BY prio ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY prio) AS BIGINT) AS n
  FROM h
),
x AS (SELECT c.*, CAST(q AS DOUBLE) AS q
      FROM c, (VALUES (0.25), (0.5), (0.9), (0.99)) AS qs(q))
SELECT prio, q,
       round(5000.0 * (CAST(bucket AS DOUBLE)
             + CAST(CAST(ceil(q * n) AS BIGINT) - (cum - cnt) AS DOUBLE)
               / CAST(cnt AS DOUBLE)), 6) AS quantile_est,
       n AS n_rows
FROM x
WHERE cum >= CAST(ceil(q * n) AS BIGINT)
  AND (cum - cnt) < CAST(ceil(q * n) AS BIGINT)
""",
    doc="Grouped quantile estimates from a fixed-boundary mergeable "
    "histogram (operators/aggregates.py:histogram_quantiles) — the "
    "deterministic quantile member the sketch tier (KMV/HLL/CMS) "
    "lacked: width-5000 linear buckets over o_totalprice per order "
    "priority; the target rank ceil(q·n) lands in exactly one bucket, "
    "linear interpolation inside it bounds error by the bucket width. "
    "Data-independent boundaries ⇒ per-partition/per-day histograms "
    "merge by SUMMING bucket counts (the t-digest/DDSketch property "
    "without ln/exp, so the oracle replays bit-for-bit); one "
    "combinable groupBy to ≤groups×buckets rows, window + probe on "
    "the bucket relation only. The exact twin is "
    "price_quantiles_by_priority (per-group sort of values vs "
    "bounded bucket state here).",
)
def q_price_histogram_quantiles(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"), "o_totalprice"
    )
    return agg.histogram_quantiles(
        o, ["prio"], "o_totalprice", width=5000.0,
        quantiles=[0.25, 0.5, 0.9, 0.99],
    )


@_q(
    "kmv_daily_user_merge",
    f"""
WITH hx AS (
  SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         {md5_long_sql("CAST(user_id AS VARCHAR)")} AS h
  FROM events
),
pk AS (
  SELECT day, h FROM (
    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM hx) t
  WHERE rn <= 64
),
pd AS (
  SELECT day, CAST(count(*) AS BIGINT) AS m, max(h) AS hk
  FROM pk GROUP BY day
),
mg AS (
  SELECT CAST(count(*) AS BIGINT) AS m, max(h) AS hk FROM (
    SELECT DISTINCT h FROM pk ORDER BY h LIMIT 64) t
),
dr AS (
  SELECT CAST(count(*) AS BIGINT) AS m, max(h) AS hk FROM (
    SELECT DISTINCT h FROM hx ORDER BY h LIMIT 64) t
)
SELECT day,
       CASE WHEN m < 64 THEN m
            ELSE CAST(round(63.0 * 1152921504606846976.0
                            / CAST(hk AS DOUBLE)) AS BIGINT) END AS est_distinct
FROM pd
UNION ALL
SELECT '__merged__',
       CASE WHEN m < 64 THEN m
            ELSE CAST(round(63.0 * 1152921504606846976.0
                            / CAST(hk AS DOUBLE)) AS BIGINT) END
FROM mg
UNION ALL
SELECT '__direct__',
       CASE WHEN m < 64 THEN m
            ELSE CAST(round(63.0 * 1152921504606846976.0
                            / CAST(hk AS DOUBLE)) AS BIGINT) END
FROM dr
""",
    doc="KMV sketch-associativity demo (operators/aggregates.py:"
    "kmv_daily_merge): per-day k=64 KMV distinct-user sketches, plus "
    "the MERGED estimate (union per-day k-min sets, re-take k) and "
    "the DIRECT global estimate — equal by construction (every global "
    "k-min member is in its own day's k-min set), proven on real data "
    "by the __merged__/__direct__ row pair. The property that lets a "
    "100 TB pipeline answer date-range distinct queries by merging "
    "O(days·k) sketch rows instead of rescanning raw events. One "
    "(day,hash)-distinct combinable pass; estimates over ≤days·k "
    "rows; md5 family ⇒ bit-exact oracle replay.",
)
def q_kmv_daily_user_merge(spark, sf_dir):
    return agg.kmv_daily_merge(
        _t(spark, sf_dir, "events"), "ts", "user_id", k=64
    )


def _jl_oracle(out_dim: int = 16, in_dim: int = 64, n_vecs: int = 64) -> str:
    import math as _math

    m = sim.jl_matrix(out_dim, in_dim)
    mat = "[" + ", ".join(
        "[" + ", ".join(("1.0" if v > 0 else "-1.0") for v in row) + "]"
        for row in m
    ) + "]"
    scale = repr(1.0 / _math.sqrt(out_dim))
    key = md5_long_sql("concat('jlpair:', CAST(vec_id AS VARCHAR))")

    def dsq(a, b, n):
        return (
            f"list_sum(list_transform(generate_series(1, {n}), i -> "
            f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
            f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
        )

    return f"""
WITH picked AS MATERIALIZED (
  SELECT vec_id, embedding, {key} AS k FROM embeddings
  ORDER BY k ASC, vec_id ASC LIMIT {n_vecs}
),
mt AS MATERIALIZED (
  SELECT CAST(j AS INT) AS j, ({mat})[CAST(j AS INT)] AS mrow
  FROM (SELECT unnest(generate_series(1, {out_dim})) AS j) t
),
pj AS MATERIALIZED (
  SELECT p.vec_id, m.j,
         list_sum(list_transform(generate_series(1, {in_dim}), i ->
           CAST(p.embedding[i] AS DOUBLE) * m.mrow[i])) * {scale} AS c
  FROM picked p, mt m
),
pvec AS (SELECT vec_id, list(c ORDER BY j ASC) AS p FROM pj GROUP BY vec_id),
sel AS (SELECT pk.vec_id, pk.embedding, pk.k, pv.p
        FROM picked pk JOIN pvec pv USING (vec_id)),
r AS (SELECT vec_id, embedding, p,
             row_number() OVER (ORDER BY k ASC, vec_id ASC) AS rn
      FROM sel),
a AS (SELECT (rn + 1) // 2 AS pid, vec_id AS vec_a, embedding AS ea, p AS pa
      FROM r WHERE rn % 2 = 1),
b AS (SELECT rn // 2 AS pid, vec_id AS vec_b, embedding AS eb, p AS pb
      FROM r WHERE rn % 2 = 0),
d AS (SELECT vec_a, vec_b,
             sqrt({dsq("ea", "eb", in_dim)}) AS do_,
             sqrt({dsq("pa", "pb", out_dim)}) AS dp_
      FROM a JOIN b USING (pid))
SELECT vec_a, vec_b, round(do_, 6) AS d_orig, round(dp_, 6) AS d_proj,
       CASE WHEN do_ > 0 THEN round(dp_ / do_, 6) END AS dist_ratio
FROM d
"""


@_q(
    "jl_distortion_pairs",
    _jl_oracle(),
    doc="Johnson-Lindenstrauss projection distortion eval (operators/"
    "similarity.py:jl_project/jl_distortion_pairs; Achlioptas 2001 "
    "±1 Rademacher matrix from the md5 family, so the oracle replays "
    "the projection bit-exactly): 64→16 dims, 32 deterministic "
    "md5-sampled vector pairs, original vs projected Euclidean "
    "distance + ratio. The empirical ε-check a pipeline runs before "
    "committing LSH banding / IVF routing / rerank to the projected "
    "space (dim is the multiplier on every distance op at 100 TB — "
    "project once, run ANN short, rerank survivors on originals). "
    "Projection map-side zip_with/aggregate folds; sample one "
    "TakeOrdered heap; pairing on a ≤64-row bounded window.",
)
def q_jl_distortion_pairs(spark, sf_dir):
    return sim.jl_distortion_pairs(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        out_dim=16, in_dim=64, n_vecs=64,
    )


@_q(
    "daily_seasonal_decomposition",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
t AS (
  SELECT date, cnt,
         CAST(sum(cnt) OVER w7 AS BIGINT) AS s7,
         CAST(count(*) OVER w7 AS BIGINT) AS c7,
         dayofweek(date) AS dow
  FROM daily
  WINDOW w7 AS (ORDER BY date ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
t2 AS (SELECT *, CASE WHEN c7 = 7 THEN 7 * cnt - s7 END AS num FROM t),
wk AS (SELECT dow, CAST(sum(num) AS BIGINT) AS nw,
              CAST(count(*) AS BIGINT) AS mw
       FROM t2 WHERE num IS NOT NULL GROUP BY dow)
SELECT t2.date, t2.cnt,
       CASE WHEN num IS NOT NULL AND nw IS NOT NULL
            THEN round(CAST(s7 AS DOUBLE) / 7.0, 6) END AS trend,
       CASE WHEN num IS NOT NULL AND nw IS NOT NULL
            THEN round(CAST(nw AS DOUBLE) / (7.0 * CAST(mw AS DOUBLE)), 6)
       END AS seasonal,
       CASE WHEN num IS NOT NULL AND nw IS NOT NULL
            THEN round(CAST(num * mw - nw AS DOUBLE)
                       / (7.0 * CAST(mw AS DOUBLE)), 6)
       END AS residual
FROM t2 LEFT JOIN wk ON t2.dow = wk.dow
""",
    doc="Classical additive seasonal decomposition of the daily event "
    "count (operators/timeseries.py:seasonal_decompose_daily): "
    "trend = centered 7-day moving average (full windows only), "
    "seasonal = per-weekday mean of the detrended series, residual = "
    "the rest — the seasonal-aware anomaly baseline ('is Tuesday "
    "always low, or is THIS Tuesday anomalous?'). Every intermediate "
    "an exact integer (7·cnt−S7, weekday N_w/m_w, num·m_w−N_w); each "
    "output ONE correctly-rounded double division — bit-identical "
    "cross-engine, no float accumulators. One raw-data groupBy, then "
    "everything on the bounded ≤calendar-days relation (dim_time "
    "window class) + a 7-row broadcast weekday join.",
)
def q_daily_seasonal_decomposition(spark, sf_dir):
    return ts_ops.seasonal_decompose_daily(
        _t(spark, sf_dir, "events"), "ts"
    )


@_q(
    "event_user_skew_report",
    """
WITH pk AS (
  SELECT CAST(user_id AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
)
SELECT CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_rows_per_key,
       round(quantile_cont(c, 0.5), 6) AS p50_cnt,
       round(quantile_cont(c, 0.9), 6) AS p90_cnt,
       round(quantile_cont(c, 0.99), 6) AS p99_cnt,
       CAST(max(c) AS BIGINT) AS max_cnt,
       (max({'c': c, 'k': k})).k AS top_key,
       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_share
FROM pk
""",
    doc="Join/shuffle-key skew diagnostic on events.user_id "
    "(operators/quality.py:key_skew_report): rows, distinct keys, "
    "exact p50/p90/p99/max of the per-key count distribution, and "
    "the hottest key's share — the numbers that choose between plain "
    "shuffle, broadcast, salting, and AQE skew-split BEFORE the job "
    "runs (a 1% hot key on a 100 TB fact is >1 TB on one reducer). "
    "One combinable groupBy + a 1-row aggregate; percentile == "
    "quantile_cont cross-engine; hottest key via max_by with a "
    "deterministic (count, key) tiebreak.",
)
def q_event_user_skew_report(spark, sf_dir):
    return dq.key_skew_report(_t(spark, sf_dir, "events"), "user_id")


@_q(
    "docs_embeddings_integrity",
    """
WITH lk AS (SELECT DISTINCT doc_id AS k FROM documents),
rk AS (SELECT DISTINCT vec_id AS k FROM embeddings),
j AS (SELECT lk.k AS l, rk.k AS r FROM lk FULL OUTER JOIN rk ON lk.k = rk.k)
SELECT CAST(sum(CASE WHEN l IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_keys,
       CAST(sum(CASE WHEN r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_keys,
       CAST(sum(CASE WHEN l IS NOT NULL AND r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN l IS NOT NULL AND r IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_orphans,
       CAST(sum(CASE WHEN l IS NULL AND r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_orphans
FROM j
""",
    doc="Two-way referential-integrity audit documents ↔ embeddings "
    "(operators/quality.py:referential_integrity_audit): distinct-key "
    "counts per side, matches, and orphans in both directions — the "
    "check that catches a failed encoder batch (docs without vectors) "
    "or a stale index (vectors without docs) before training consumes "
    "the join. ONE full-outer join of the pre-shrunk distinct-key "
    "relations (no row payloads move) + a single combinable flag "
    "aggregate — all five counts in one pass, cheaper than the two "
    "anti-joins it replaces.",
)
def q_docs_embeddings_integrity(spark, sf_dir):
    return dq.referential_integrity_audit(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        "doc_id",
        "vec_id",
    )


@_q(
    "event_changepoint_cusum",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS s
        FROM daily),
c AS (SELECT date, cnt, n, s, n * cnt - s AS dev FROM daily, tot),
cus AS (SELECT date, n,
               CAST(sum(dev) OVER (ORDER BY date
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM c),
peak AS (SELECT date AS change_date, cum AS peak, n FROM cus
         ORDER BY abs(cum) DESC, date ASC LIMIT 1),
seg AS (SELECT p.change_date, p.n AS n_days, p.peak,
               sum(CASE WHEN d.date <= p.change_date THEN d.cnt END) AS sb,
               sum(CASE WHEN d.date <= p.change_date THEN 1 END) AS nb,
               sum(CASE WHEN d.date > p.change_date THEN d.cnt END) AS sa,
               sum(CASE WHEN d.date > p.change_date THEN 1 END) AS na
        FROM daily d, peak p GROUP BY 1, 2, 3)
SELECT change_date, n_days,
       round(CAST(peak AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS cusum_peak,
       round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS mean_before,
       CASE WHEN na > 0
            THEN round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE), 6)
       END AS mean_after
FROM seg
""",
    doc="CUSUM change-point detection on daily event volume "
    "(operators/timeseries.py:cusum_changepoint_daily; Page 1954): "
    "the |cumulative deviation| peak locates the most likely LEVEL "
    "SHIFT — the regime-change question z-scores (point anomalies) "
    "and histogram drift (two fixed windows) don't answer. "
    "Deviations scaled to exact ints (n·cnt−S) so cumsum/argmax/"
    "segment sums are exact with deterministic tiebreaks; the three "
    "emitted stats are single correctly-rounded divisions. One "
    "raw-data groupBy, then everything on the bounded calendar-day "
    "relation (1-row totals broadcast, bounded-cross).",
)
def q_event_changepoint_cusum(spark, sf_dir):
    return ts_ops.cusum_changepoint_daily(_t(spark, sf_dir, "events"), "ts")


@_q(
    "hard_negative_pairs",
    f"""
WITH anc AS (
  SELECT anchor_id, av, anchor_label FROM (
    SELECT vec_id AS anchor_id, embedding AS av, label AS anchor_label,
           {md5_long_sql("concat('hneg:', CAST(vec_id AS VARCHAR))")} AS kk
    FROM embeddings) t
  ORDER BY kk ASC, anchor_id ASC LIMIT 8
),
scored AS (
  SELECT a.anchor_id, a.anchor_label, e.vec_id,
         e.label AS neg_label,
         round({cosine_sql('e.embedding', 'a.av', 64)}, 6) AS score
  FROM embeddings e, anc a
  WHERE e.label <> a.anchor_label
)
SELECT anchor_id, anchor_label, vec_id, neg_label, score FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY score DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 5
""",
    doc="Contrastive hard-negative mining (operators/similarity.py:"
    "hard_negatives_topk): for each of 8 md5-sampled anchors, the 5 "
    "most cosine-similar vectors with a DIFFERENT label — the "
    "near-boundary negatives contrastive/triplet/InfoNCE batches "
    "need (random negatives are mostly trivial at scale; hard ones "
    "carry the gradient). Serving shape: anchors ≪ corpus, broadcast "
    "anchors vs ONE corpus scan, map-side label filter, per-anchor "
    "row_number heap. At 100 TB mine against the IVF/JL index; this "
    "exact pass is the recall yardstick.",
)
def q_hard_negative_pairs(spark, sf_dir):
    return sim.hard_negatives_topk(
        _t(spark, sf_dir, "embeddings"), n_anchors=8, k=5
    )


@_q(
    "dedup_corpus_lines",
    f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
lines AS (
  SELECT doc_id, CAST(g AS INT) AS pos,
         array_to_string(t[CAST(g * 6 + 1 AS INT):CAST(g * 6 + 6 AS INT)], ' ') AS line
  FROM toks, LATERAL unnest(generate_series(0, CAST((len(t) - 1) // 6 AS INT))) AS u(g)
),
hx AS (SELECT doc_id, pos, line, {md5_long_sql("line")} AS h FROM lines),
fst AS (SELECT h, min({{'d': doc_id, 'p': pos}}) AS f FROM hx GROUP BY h),
surv AS (
  SELECT hx.doc_id, hx.pos, hx.line
  FROM hx JOIN fst ON hx.h = fst.h
  WHERE hx.doc_id = fst.f.d AND hx.pos = fst.f.p
),
rb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         array_to_string(list(line ORDER BY pos ASC), chr(10)) AS kept_text
  FROM surv GROUP BY doc_id
),
og AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM hx GROUP BY doc_id)
SELECT og.doc_id, og.n_lines,
       coalesce(rb.n_kept, 0) AS n_kept,
       coalesce(rb.kept_text, '') AS kept_text
FROM og LEFT JOIN rb ON og.doc_id = rb.doc_id
""",
    doc="C4-style exact line dedup across the corpus (operators/"
    "textops.py:dedup_corpus_lines) — the middle tier of the dedup "
    "ladder between doc-level (MinHash/SimHash) and span-level "
    "(duplicate_substring_spans): boilerplate repeats as whole lines, "
    "and C4 shipped exactly this filter. The fixture has no newlines, "
    "so lines are synthesized identically on both engines (6-token "
    "groups). First-occurrence choice is a combinable min-struct "
    "groupBy on 60-bit line hashes (8-byte shuffle keys; a groupBy "
    "not a window so a hot boilerplate line cannot pin one reducer) "
    "+ an AQE-splittable hash join back; rebuild is one doc-keyed "
    "groupBy with array_sort. Fully-duplicate docs surface with "
    "n_kept = 0.",
)
def q_dedup_corpus_lines(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    synth = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(
                F.lit(0), F.floor((F.size(toks) - 1) / 6).cast("int")
            ),
            lambda g: F.concat_ws(" ", F.slice(toks, g * 6 + 1, 6)),
        ),
    )
    return tx.dedup_corpus_lines(
        d.select("doc_id", synth.alias("text")), "doc_id", "text"
    )


@_q(
    "simhash_recall_eval",
    f"""
WITH sdocs AS MATERIALIZED (
  SELECT * FROM documents
  WHERE {md5_long_sql("CAST(doc_id AS VARCHAR)", seed="srs")} % 4 = 0
),
{_simhash_sig_sql(src="sdocs")},
p AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p)
SELECT n AS n_exact, n AS n_banded, n AS n_common,
       CASE WHEN n > 0
         THEN round(CAST(n AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS recall,
       CASE WHEN n > 0
         THEN round(CAST(n AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS precision
FROM agg
""",
    doc="SimHash banding equivalence PROVED on a sampled ground truth "
    "— the simhash twin of minhash_recall_eval. An md5-residue sample "
    "(seed 'srs', 1-in-4 docs; at 100 TB the residue modulus grows so "
    "the sample stays eval-sized ~10k docs) bounds the brute-force "
    "side: the Spark plan instantiates TWO independent "
    "implementations — all-pairs hamming over dedup.simhash "
    "signatures (a broadcast nested-loop the auditor tags "
    "'sampled-cross': the build side is the md5-residue-filtered "
    "sample, bounded by construction) and the 7-band LSH join of "
    "multimodal.hamming_neardup_pairs over the same signatures — and "
    "full-outer joins their pair sets. The "
    "pigeonhole guarantee (≤6 dirty bands at hamming ≤ 6 ⇒ ≥1 clean "
    "band) says recall = precision = 1.0; this query MEASURES it, so "
    "any banding bug (band split across the two hash words, mask "
    "arithmetic, dedup of multi-band collisions) surfaces as a "
    "sub-1.0 cell against the oracle's single brute-force relation.",
)
def q_simhash_recall_eval(spark, sf_dir):
    from ..functions.hashing import md5_long

    d = _t(spark, sf_dir, "documents")
    samp = d.filter(
        F.pmod(md5_long(F.col("doc_id").cast("string"), seed="srs"), F.lit(4))
        == 0
    )
    # The signature pipeline (tokenize → md5 per token → 56 vote sums)
    # previously ran THREE times: once per BNLJ side of the brute arm
    # plus once inside simhash_pairs. r18 (guide §2.4): ONE eager
    # lineage cut feeds the brute arm's STREAM side and the banded
    # arm; the BNLJ BUILD side stays a FRESH un-cached subtree (pinned
    # with F.broadcast) so the md5-residue Filter remains visible in
    # the physical plan, where the auditor's 'sampled-cross' category
    # (and tests/test_plan_audit.py) reads it. A persist could not do
    # this: the cache manager substitutes EVERY matching subtree,
    # including the build side; a checkpoint is a distinct LogicalRDD
    # plan, so the fresh side stays fresh. Values are unchanged — the
    # checkpoint preserves the exact signature rows.
    from ..session import cut_lineage

    sig = dd.simhash(samp, "doc_id", "text")
    sigc = cut_lineage(sig)
    a, b = sigc.alias("a"), sig.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    ex = (
        a.join(F.broadcast(b), F.col("a.doc") < F.col("b.doc"))
        .filter(ham <= 6)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.lit(1).alias("e"),
        )
    )
    # The banded arm is the 7×8-bit band join of
    # mm.hamming_neardup_pairs over the SAME checkpointed signatures
    # (dd.simhash is the 56-bit signature dd.simhash_pairs bands at
    # this corpus size), so it does not re-derive them from text.
    banded = mm.hamming_neardup_pairs(
        sigc, id_col="doc", hash_col="simhash"
    ).select("doc_a", "doc_b", F.lit(1).alias("l"))
    j = ex.join(banded, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("e", F.lit(0)).alias("e"),
        F.coalesce("l", F.lit(0)).alias("l"),
    )
    # coalesce: COUNT-like totals are 0 on an empty corpus (SQL sum
    # over no rows is NULL; the oracle's counts are 0).
    agg = j.agg(
        F.coalesce(F.sum("e"), F.lit(0)).cast("long").alias("n_exact"),
        F.coalesce(F.sum("l"), F.lit(0)).cast("long").alias("n_banded"),
        F.coalesce(F.sum(F.col("e") * F.col("l")), F.lit(0))
        .cast("long")
        .alias("n_common"),
    )
    rec = F.when(
        F.col("n_exact") > 0,
        F.round(
            F.col("n_common").cast("double") / F.col("n_exact").cast("double"),
            6,
        ),
    )
    prec = F.when(
        F.col("n_banded") > 0,
        F.round(
            F.col("n_common").cast("double") / F.col("n_banded").cast("double"),
            6,
        ),
    )
    return agg.select(
        "n_exact", "n_banded", "n_common",
        rec.alias("recall"), prec.alias("precision"),
    )


@_q(
    "incremental_event_state_merge",
    """
WITH st AS (
  SELECT CAST(ts AS DATE) AS day, event_type AS key, count(*) AS n,
         SUM(CAST(value AS DECIMAL(27,4))) AS s,
         min(value) AS mn, max(value) AS mx
  FROM events WHERE ts < TIMESTAMP '2024-01-25' GROUP BY 1, 2
  UNION ALL
  SELECT CAST(ts AS DATE), event_type, count(*),
         SUM(CAST(value AS DECIMAL(27,4))), min(value), max(value)
  FROM events WHERE ts >= TIMESTAMP '2024-01-25' GROUP BY 1, 2
),
m AS (
  SELECT key, CAST(sum(n) AS BIGINT) AS n, sum(s) AS s,
         min(mn) AS mn, max(mx) AS mx
  FROM st GROUP BY key
),
d AS (
  SELECT event_type AS key, count(*) AS n,
         SUM(CAST(value AS DECIMAL(27,4))) AS s,
         min(value) AS mn, max(value) AS mx
  FROM events GROUP BY event_type
)
SELECT '__merged__' AS src, key AS event_type, n AS n_events,
       CAST(s AS DOUBLE) AS total_value,
       round(mn, 6) AS min_value, round(mx, 6) AS max_value,
       round(CAST(s AS DOUBLE) / n, 6) AS avg_value
FROM m
UNION ALL
SELECT '__direct__', key, n, CAST(s AS DOUBLE),
       round(mn, 6), round(mx, 6), round(CAST(s AS DOUBLE) / n, 6)
FROM d
""",
    doc="Incremental-maintenance equivalence proof (operators/"
    "aggregates.py:incremental_state_merge_demo) — the general-"
    "aggregate sibling of kmv_daily_user_merge: per-(day, type) "
    "mergeable state (count / exact-DECIMAL sum / min / max) built "
    "INDEPENDENTLY for the base (< 2024-01-25) and delta partitions, "
    "folded per type, emitted as __merged__ rows next to a __direct__ "
    "full recompute. Equal by the monoid laws; measured, not assumed. "
    "The nightly-ETL contract at 100 TB: a state refresh scans only "
    "the delta partition (date predicate pruned) plus days×keys "
    "state rows, never the full history; avg is derived at read time "
    "by ONE double division over the exact sum, so merged and direct "
    "agree bit-for-bit on both engines.",
)
def q_incremental_event_state_merge(spark, sf_dir):
    return agg.incremental_state_merge_demo(
        _t(spark, sf_dir, "events"), "ts", "event_type", "value", "2024-01-25"
    )


@_q(
    "curation_funnel_by_source",
    f"""
WITH {_CURATE_Q_CTE},
{_CURATE_KEEP_CTE},
fl AS (
  SELECT d.source,
         CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS s1,
         CASE WHEN k.doc_id IS NOT NULL
                   AND q.quality_score >= 0.45 THEN 1 ELSE 0 END AS s2,
         CASE WHEN k.doc_id IS NOT NULL
                   AND q.quality_score >= 0.45
                   AND q.n_tokens BETWEEN 5 AND 5000 THEN 1 ELSE 0 END AS s3
  FROM documents d
  LEFT JOIN keep k ON d.doc_id = k.doc_id
  JOIN q ON d.doc_id = q.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(sum(s1) AS BIGINT) AS n_dedup,
       CAST(sum(s2) AS BIGINT) AS n_quality,
       CAST(sum(s3) AS BIGINT) AS n_final,
       round(CAST(sum(s3) AS DOUBLE) / count(*), 6) AS survival_rate
FROM fl
GROUP BY source
""",
    doc="Per-source curation funnel — the loss-accounting table every "
    "published corpus ships (C4/RefinedWeb/Dolma all report one): raw "
    "→ fingerprint-dedup survivors → + quality ≥ 0.45 → + token "
    "bounds, with the end-to-end survival rate. EXACTLY the "
    "curated_documents stage predicates (shared CTEs on the oracle "
    "side, shared operators on the Spark side), so the funnel's "
    "n_final per source sums to that query's row count by "
    "construction. One pass: stage flags are conditional integer "
    "sums in a single source-keyed aggregate — no per-stage rescan, "
    "20 groups, map-side combinable; the only shuffles are the "
    "fingerprint groupBy the dedup stage already needs and the "
    "doc-keyed joins. The ops twin of corpus_diversity_by_source.",
)
def q_curation_funnel_by_source(spark, sf_dir):
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
    fl = (
        docs.select("doc_id", "source")
        .join(keep, "doc_id", "left")
        .join(qf, "doc_id")
    )
    dedup_ok = F.col("is_keep").isNotNull()
    quality_ok = dedup_ok & (F.col("quality_score") >= 0.45)
    final_ok = quality_ok & F.col("n_tokens").between(5, 5000)
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return fl.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(flag(dedup_ok)).cast("long").alias("n_dedup"),
        F.sum(flag(quality_ok)).cast("long").alias("n_quality"),
        F.sum(flag(final_ok)).cast("long").alias("n_final"),
        F.round(
            F.sum(flag(final_ok)).cast("double") / F.count(F.lit(1)), 6
        ).alias("survival_rate"),
    )


@_q(
    "simhash_jaccard_proxy_eval",
    f"""
WITH {_simhash_sig_sql()},
flagged AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
),
toks2 AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
sh2 AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')))
         ELSE [] END AS shingles
  FROM toks2
),
ex0 AS (
  SELECT doc_id, CAST(len(shingles) AS INT) AS n_sh, unnest(shingles) AS s
  FROM sh2
),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS common
  FROM ex0 a JOIN ex0 b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
truth AS MATERIALIZED (
  SELECT doc_a, doc_b FROM c
  WHERE round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6)
        >= 0.8
),
j AS (
  SELECT CASE WHEN truth.doc_a IS NOT NULL THEN 1 ELSE 0 END AS e,
         CASE WHEN flagged.doc_a IS NOT NULL THEN 1 ELSE 0 END AS l
  FROM truth FULL OUTER JOIN flagged
    ON truth.doc_a = flagged.doc_a AND truth.doc_b = flagged.doc_b
),
agg AS (
  SELECT CAST(sum(e) AS BIGINT) AS n_truth,
         CAST(sum(l) AS BIGINT) AS n_flagged,
         CAST(sum(e * l) AS BIGINT) AS n_common
  FROM j
)
SELECT n_truth, n_flagged, n_common,
       CASE WHEN n_truth > 0
         THEN round(CAST(n_common AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) END
         AS recall,
       CASE WHEN n_flagged > 0
         THEN round(CAST(n_common AS DOUBLE) / CAST(n_flagged AS DOUBLE), 6)
         END AS precision
FROM agg
""",
    doc="SimHash as a JACCARD DETECTOR, measured — the informative "
    "companion of simhash_recall_eval (which proves implementation "
    "equivalence and is 1.0 by construction): the full-corpus "
    "hamming ≤ 6 pair set scored against the exact 3-gram-Jaccard "
    "≥ 0.8 ground truth. Recall says how many true near-dups the "
    "56-bit signature surfaces; precision says how many flagged "
    "pairs are real — the numbers that decide whether SimHash can "
    "REPLACE MinHash for a corpus or must feed a verify stage (every "
    "production pipeline re-derives this trade-off; on this corpus "
    "hamming ≤ 6 is far LOOSER than Jaccard 0.8, so precision is the "
    "story). Directly comparable to minhash_recall_eval, which "
    "scores its own banding against the SAME truth relation — the "
    "two rows rank the two families on real data. No sampling "
    "needed: both pair generators are bucketed (band join / shingle "
    "join), never n².",
    scale_note="eval-tier — the exact-Jaccard truth side inherits "
    "ngram_jaccard_exact's superlinear recall-baseline cost on hot "
    "shingles; at corpus scale replay this eval on an md5-capped "
    "subsample (the simhash_recall_eval sampling pattern)",
)
def q_simhash_jaccard_proxy_eval(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    flagged = dd.simhash_pairs(
        d, "doc_id", "text", max_hamming=6, band_bits=dd.SIMHASH_BAND_BITS
    ).select("doc_a", "doc_b", F.lit(1).alias("l"))
    truth = dd.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.8, max_doc_freq=None
    ).select("doc_a", "doc_b", F.lit(1).alias("e"))
    j = truth.join(flagged, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("e", F.lit(0)).alias("e"),
        F.coalesce("l", F.lit(0)).alias("l"),
    )
    agg_row = j.agg(
        F.sum("e").cast("long").alias("n_truth"),
        F.sum("l").cast("long").alias("n_flagged"),
        F.sum(F.col("e") * F.col("l")).cast("long").alias("n_common"),
    )
    rec = F.when(
        F.col("n_truth") > 0,
        F.round(
            F.col("n_common").cast("double") / F.col("n_truth").cast("double"),
            6,
        ),
    )
    prec = F.when(
        F.col("n_flagged") > 0,
        F.round(
            F.col("n_common").cast("double")
            / F.col("n_flagged").cast("double"),
            6,
        ),
    )
    return agg_row.select(
        "n_truth", "n_flagged", "n_common",
        rec.alias("recall"), prec.alias("precision"),
    )


@_q(
    "event_value_histogram_merge",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(floor(CAST(value AS DOUBLE) / 10.0) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
mh AS (
  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt FROM daily GROUP BY bucket
),
dh AS (
  SELECT CAST(floor(CAST(value AS DOUBLE) / 10.0) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
probe_m AS (
  SELECT bucket, cnt,
         CAST(sum(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum,
         CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM mh
),
probe_d AS (
  SELECT bucket, cnt,
         CAST(sum(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum,
         CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM dh
),
qs AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES (0.25), (0.5), (0.9), (0.99)) t(q))
SELECT '__merged__' AS src, q,
       round(10.0 * (CAST(bucket AS DOUBLE)
             + CAST(CAST(ceil(q * n) AS BIGINT) - (cum - cnt) AS DOUBLE)
               / CAST(cnt AS DOUBLE)), 6) AS quantile_est,
       n AS n_rows
FROM probe_m, qs
WHERE cum >= CAST(ceil(q * n) AS BIGINT)
  AND (cum - cnt) < CAST(ceil(q * n) AS BIGINT)
UNION ALL
SELECT '__direct__', q,
       round(10.0 * (CAST(bucket AS DOUBLE)
             + CAST(CAST(ceil(q * n) AS BIGINT) - (cum - cnt) AS DOUBLE)
               / CAST(cnt AS DOUBLE)), 6),
       n
FROM probe_d, qs
WHERE cum >= CAST(ceil(q * n) AS BIGINT)
  AND (cum - cnt) < CAST(ceil(q * n) AS BIGINT)
""",
    doc="Histogram sketch-associativity demo (operators/aggregates.py:"
    "histogram_daily_merge) — completes the proof family: KMV "
    "(kmv_daily_user_merge) proved distinct-count merge, "
    "incremental_event_state_merge proved the sum/min/max monoids, "
    "this proves the QUANTILE sketch: per-day fixed-boundary "
    "histograms of event values merged by summing bucket counts give "
    "the identical quantile estimates as the direct whole-table "
    "histogram — because floor(v/width) boundaries are data-"
    "independent, the property t-digest/DDSketch buy with log "
    "buckets, here replayable bit-for-bit by the oracle (no ln/exp). "
    "__merged__/__direct__ row pairs per q ∈ {.25,.5,.9,.99}; both "
    "probes run the SAME factored arithmetic (_hist_quantile_probe) "
    "over ≤50 bucket rows. At 100 TB the per-day bucket relation IS "
    "the serving layer: any date-range quantile = sum O(days × "
    "buckets) integers, no raw rescan.",
)
def q_event_value_histogram_merge(spark, sf_dir):
    return agg.histogram_daily_merge(
        _t(spark, sf_dir, "events"), "ts", "value", width=10.0,
        quantiles=[0.25, 0.5, 0.9, 0.99],
    )


@_q(
    "hll_daily_user_merge",
    agg.hll_merge_oracle_sql("events", "ts", "user_id", m=64),
    doc="HLL register-max merge proof (operators/aggregates.py:"
    "hll_daily_merge) — the proof-family member whose merge is NOT a "
    "sum: per-day register states fold with MAX (associative, "
    "commutative, IDEMPOTENT — re-merging a day is harmless, which "
    "neither counters nor k-min sets give you), then the merged "
    "state's estimate is emitted next to the direct whole-table "
    "sketch. registers_hit and rho_sum pin the full register state, "
    "so the __merged__/__direct__ pair proves STATE equality, not "
    "just estimate coincidence. Completes the family: KMV k-min "
    "union, histogram bucket sum, aggregate-state monoids, HLL "
    "register semilattice. At 100 TB keep days × 64 register rows; "
    "any date-range distinct is one max-fold, no raw rescan.",
)
def q_hll_daily_user_merge(spark, sf_dir):
    return agg.hll_daily_merge(
        _t(spark, sf_dir, "events"), "ts", "user_id", m=64
    )


@_q(
    "cms_daily_user_merge",
    agg.cms_merge_oracle_sql("events", "ts", "user_id", depth=4, width=512),
    doc="Count-Min grid merge proof (operators/aggregates.py:"
    "cms_daily_merge): per-day 4×512 counter grids summed cell-wise "
    "vs the direct whole-table grid — BOTH full nonzero grids are "
    "emitted (src, i, pos, cnt), bounded at 2·depth·width rows "
    "regardless of data volume, so the driver's value hash proves "
    "every counter equal, not a summary statistic. Closes the "
    "sketch-merge proof set (counters ADD, k-min sets UNION, "
    "histogram buckets ADD, HLL registers MAX). At 100 TB the "
    "per-day grids are the stored artifact; any date-range heavy-"
    "hitter query sums O(days·depth·width) integers before the "
    "min-over-rows probe — no raw rescan.",
)
def q_cms_daily_user_merge(spark, sf_dir):
    return agg.cms_daily_merge(
        _t(spark, sf_dir, "events"), "ts", "user_id", depth=4, width=512
    )




@_q(
    "event_value_ks_drift",
    """
WITH cells AS (
  SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS BIGINT) AS tb
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT CAST(sum(ta) OVER w AS BIGINT) AS ca,
         CAST(sum(tb) OVER w AS BIGINT) AS cb
  FROM cells
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (SELECT CAST(max(ca) AS BIGINT) AS na, CAST(max(cb) AS BIGINT) AS nb FROM cum),
m AS (
  SELECT t.na AS n_a, t.nb AS n_b,
         max(abs(CAST(c.ca AS HUGEINT) * t.nb - CAST(c.cb AS HUGEINT) * t.na)) AS num
  FROM cum c, tot t GROUP BY 1, 2
)
SELECT n_a, n_b,
       round(CAST(num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d,
       round(CAST(1.36 AS DOUBLE)
             * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6) AS d_crit
FROM m
""",
    doc="Two-sample Kolmogorov-Smirnov drift test on event values, "
    "early vs late window (operators/timeseries.py:ks_drift) — the "
    "bin-free supremum-CDF-gap member that completes the drift "
    "battery (TV distance on fixed bins, PSI monitored number, "
    "rank-sum location z, KS any-shape-change). Both empirical CDFs "
    "are integer window sums over the domain-bounded cents-cell "
    "relation; the supremum is over EXACT integer cross-differences "
    "|ca*n_b - cb*n_a| (DECIMAL/HUGEINT — the product passes int64 "
    "near 1e9 rows/window), so D is ONE double division and the "
    "Smirnov 5% critical value a fixed IEEE sequence. One scan, one "
    "bounded shuffle, one ordered window over cells.",
)
def q_event_value_ks_drift(spark, sf_dir):
    return ts_ops.ks_drift(
        _t(spark, sf_dir, "events"), "ts", "value", "2024-01-16"
    )


@_q(
    "daily_event_ewma",
    """
WITH c AS (
  SELECT CAST(ts AS DATE) AS date, count(*) AS cnt FROM events GROUP BY 1
),
span AS (SELECT min(date) AS lo, max(date) AS hi FROM c),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS date
  FROM span
),
s AS (
  SELECT spine.date, coalesce(c.cnt, 0) AS cnt
  FROM spine LEFT JOIN c ON spine.date = c.date
),
l AS (
  SELECT date, cnt,
         lag(cnt, 1) OVER w AS l1, lag(cnt, 2) OVER w AS l2,
         lag(cnt, 3) OVER w AS l3, lag(cnt, 4) OVER w AS l4,
         lag(cnt, 5) OVER w AS l5, lag(cnt, 6) OVER w AS l6,
         lag(cnt, 7) OVER w AS l7
  FROM s
  WINDOW w AS (ORDER BY date)
)
SELECT date, cnt,
       round(CAST(cnt * 128 + coalesce(l1, 0) * 64 + coalesce(l2, 0) * 32
                  + coalesce(l3, 0) * 16 + coalesce(l4, 0) * 8
                  + coalesce(l5, 0) * 4 + coalesce(l6, 0) * 2
                  + coalesce(l7, 0) AS DOUBLE)
             / CAST(128 + CASE WHEN l1 IS NOT NULL THEN 64 ELSE 0 END
                    + CASE WHEN l2 IS NOT NULL THEN 32 ELSE 0 END
                    + CASE WHEN l3 IS NOT NULL THEN 16 ELSE 0 END
                    + CASE WHEN l4 IS NOT NULL THEN 8 ELSE 0 END
                    + CASE WHEN l5 IS NOT NULL THEN 4 ELSE 0 END
                    + CASE WHEN l6 IS NOT NULL THEN 2 ELSE 0 END
                    + CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END AS DOUBLE),
             6) AS ewma
FROM l ORDER BY date
""",
    doc="Truncated exponentially weighted moving average (alpha=1/2, "
    "8 terms) of the gap-filled daily event count "
    "(operators/timeseries.py:ewma_daily_counts) — the low-latency "
    "smoother next to rolling_7d_event_avg: geometric recency "
    "weighting reacts in ~2 days instead of the window length, and "
    "with alpha=1/2 the truncated weights clear to INTEGER "
    "numerator/denominator (powers of two), so each day's EWMA is "
    "ONE double division of exact int64s — no float powers, no "
    "order-dependent sums. All lag terms are literal offsets over "
    "the tiny daily relation; work is independent of event volume.",
)
def q_daily_event_ewma(spark, sf_dir):
    return ts_ops.ewma_daily_counts(_t(spark, sf_dir, "events"), "ts")


@_q(
    "customer_order_survival",
    """
WITH e AS (SELECT max(o_orderdate) AS end_d FROM orders),
seq AS (
  SELECT o_custkey, o_orderdate,
         lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS nxt
  FROM orders
),
durs AS (
  SELECT CAST(CASE WHEN nxt IS NOT NULL THEN date_diff('day', o_orderdate, nxt)
              ELSE date_diff('day', o_orderdate, (SELECT end_d FROM e)) END AS BIGINT) AS t,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM seq
),
cells AS (
  SELECT t, CAST(sum(ev) AS BIGINT) AS d, CAST(sum(1 - ev) AS BIGINT) AS c
  FROM durs GROUP BY 1
),
tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM cells),
ar AS (
  SELECT t, d, c,
         CAST((SELECT n FROM tot)
              - coalesce(sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_at_risk
  FROM cells
),
terms AS (
  SELECT t, d, c, n_at_risk,
         CASE WHEN d < n_at_risk
              THEN round(ln(CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)), 6)
              ELSE CAST(0.0 AS DOUBLE) END AS term,
         CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS exh
  FROM ar
),
curve AS (
  SELECT t, d, c, n_at_risk,
         sum(CAST(term AS DECIMAL(27,6))) OVER wc AS cum,
         max(exh) OVER wc AS exh2
  FROM terms
  WINDOW wc AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT t AS t_days, n_at_risk, d AS n_events, c AS n_censored,
       CASE WHEN exh2 = 1 THEN CAST(0.0 AS DOUBLE)
            ELSE round(exp(CAST(cum AS DOUBLE)), 6) END AS survival
FROM curve WHERE d > 0 ORDER BY t_days
""",
    doc="Kaplan-Meier survival curve over customer inter-order gaps "
    "(operators/timeseries.py:kaplan_meier_gaps) — the censoring-"
    "correct 'time to next order' curve: consecutive-order gaps are "
    "events, the wait from each customer's LAST order to the corpus "
    "end-date is right-censored and enters the risk set without "
    "biasing the estimate (Kaplan & Meier 1958) — the full-curve "
    "companion to cohort_retention's fixed horizons. Per-time terms "
    "ln(1 - d/n) are 6dp-rounded then DECIMAL(27,6)-cumsummed over "
    "the bounded distinct-gap relation (order-free replay); exp is "
    "one libm call per output row; a risk-set-exhausting final time "
    "is exactly 0 on both engines.",
)
def q_customer_order_survival(spark, sf_dir):
    return ts_ops.kaplan_meier_gaps(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_orderdate"
    )




@_q(
    "priority_status_cramers_v",
    """
WITH cells AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS o
  FROM orders GROUP BY 1, 2
),
da AS (SELECT DISTINCT a FROM cells),
db AS (SELECT DISTINCT b FROM cells),
full_c AS (
  SELECT da.a, db.b, CAST(coalesce(c.o, 0) AS BIGINT) AS o
  FROM da CROSS JOIN db
  LEFT JOIN cells c ON c.a = da.a AND c.b = db.b
),
sized AS (
  SELECT a, b, o,
         CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS n_a,
         CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS n_b,
         CAST(sum(o) OVER () AS BIGINT) AS n
  FROM full_c
),
m AS (
  SELECT CAST(max(n) AS BIGINT) AS n_rows,
         (SELECT CAST(count(DISTINCT a) AS BIGINT) FROM cells) AS levels_a,
         (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM cells) AS levels_b,
         sum(CAST(round(
           (CAST(o AS DOUBLE)
            - CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(o AS DOUBLE)
              - CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS DOUBLE) / CAST(n AS DOUBLE)),
           6) AS DECIMAL(27,6))) AS chi2d
  FROM sized
)
SELECT n_rows, levels_a, levels_b,
       round(CAST(chi2d AS DOUBLE), 6) AS chi2,
       CASE WHEN least(levels_a - 1, levels_b - 1) > 0 THEN
         round(sqrt(CAST(chi2d AS DOUBLE)
                    / (CAST(n_rows AS DOUBLE)
                       * CAST(least(levels_a - 1, levels_b - 1) AS DOUBLE))), 6)
       END AS v
FROM m
""",
    doc="Chi-square statistic and Cramer's V between order priority "
    "and status (operators/aggregates.py:cramers_v) — the one-number "
    "effect-size rollup of priority_status_association's cell-level "
    "lift/PMI table, normalized to [0,1] and comparable across "
    "tables of any shape. Same plan shape as the association audit "
    "(one combinable groupBy, marginals as window sums over the "
    "bounded cell relation) plus the full r x c level spine so "
    "structurally-zero cells contribute their (0-e)^2/e terms — "
    "observed-only understates chi2 exactly when association is "
    "strongest; expected counts keep the n_a*n_b "
    "product exact in DECIMAL/HUGEINT (passes int64 near n ~ 1e10), "
    "each cell's (o-e)^2/e is a fixed IEEE sequence rounded 6dp and "
    "DECIMAL(27,6)-summed — order-free on both engines.",
)
def q_priority_status_cramers_v(spark, sf_dir):
    return agg.cramers_v(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


@_q(
    "nation_customer_hhi",
    """
WITH subs AS (
  SELECT n.n_name AS g, c.c_custkey AS e,
         CAST(sum(CAST(FLOOR(CAST(o.o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_totalprice IS NOT NULL
  GROUP BY 1, 2
),
m AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_entities,
         sum(CAST(s AS HUGEINT)) AS t,
         sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS q
  FROM subs GROUP BY 1
)
SELECT g AS n_name, n_entities,
       CASE WHEN t > 0 THEN round(CAST(q AS DOUBLE) / CAST(t * t AS DOUBLE), 6) END AS hhi,
       CASE WHEN t > 0 THEN round(CAST(t * t AS DOUBLE) / CAST(q AS DOUBLE), 6) END AS effective_n,
       CASE WHEN t > 0 AND n_entities > 1 THEN
         round((CAST(q AS DOUBLE) / CAST(t * t AS DOUBLE)
                - CAST(1.0 AS DOUBLE) / CAST(n_entities AS DOUBLE))
               / (CAST(1.0 AS DOUBLE) - CAST(1.0 AS DOUBLE) / CAST(n_entities AS DOUBLE)), 6)
       END AS hhi_normalized
FROM m ORDER BY n_name
""",
    doc="Herfindahl-Hirschman spend-concentration index per nation "
    "over customer order totals (operators/aggregates.py:"
    "hhi_by_group) — the dominance/market-structure companion to "
    "customer_spend_gini (inequality != concentration), with 1/HHI "
    "as the effective number of customers and the [0,1]-normalized "
    "variant for cross-nation comparison. Exact integer cents "
    "subtotals; sum-of-squares and squared-sum both exact in "
    "DECIMAL/HUGEINT (s^2 ~ 1e26 at 100 TB — past int64 by design); "
    "the index is ONE double division. Two combinable groupBys, a "
    "broadcast dim join, no windows.",
)
def q_nation_customer_hhi(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = o.join(
        c, o["o_custkey"] == c["c_custkey"]
    ).join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    return agg.hhi_by_group(j, "n_name", "c_custkey", "o_totalprice")


@_q(
    "event_value_anova_f",
    """
WITH grp AS (
  SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_g,
         sum(CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS HUGEINT)
             * CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS HUGEINT)) AS q_g
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
m AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS k_groups,
         sum(CAST(s_g AS HUGEINT)) AS t,
         sum(q_g) AS q,
         sum(CAST(round(CAST(CAST(s_g AS HUGEINT) * CAST(s_g AS HUGEINT) AS DOUBLE)
                        / CAST(n_g AS DOUBLE), 6) AS DECIMAL(27,6))) AS a
  FROM grp
),
x AS (
  SELECT n_rows, k_groups,
         CAST(a AS DOUBLE) AS ad,
         CAST(q AS DOUBLE) AS qd,
         round(CAST(t * t AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS grand
  FROM m
)
SELECT n_rows, k_groups,
       round((ad - grand) / CAST(10000.0 AS DOUBLE), 6) AS ss_between,
       round((qd - ad) / CAST(10000.0 AS DOUBLE), 6) AS ss_within,
       CASE WHEN k_groups > 1 AND (qd - ad) > 0 AND n_rows > k_groups THEN
         round(((ad - grand) / (CAST(k_groups AS DOUBLE) - CAST(1.0 AS DOUBLE)))
               / ((qd - ad) / (CAST(n_rows AS DOUBLE) - CAST(k_groups AS DOUBLE))), 6)
       END AS f_stat,
       CASE WHEN (qd - grand) > 0 THEN
         round((ad - grand) / (qd - grand), 6)
       END AS eta_sq
FROM x
""",
    doc="One-way ANOVA F and eta-squared of event value across event "
    "types (operators/aggregates.py:anova_f) — the parametric "
    "between-groups member of the distribution-testing tier: "
    "rank-sum/KS compare two time windows, ANOVA asks whether K "
    "category means differ beyond within-group noise, eta^2 is the "
    "variance-explained effect size a feature audit reads. Exact "
    "integer cents moments (Q in DECIMAL/HUGEINT); each group's "
    "S_g^2/n_g is ONE double division rounded 6dp then "
    "DECIMAL(27,6)-summed; F/eta^2 fixed IEEE sequences, NULL-"
    "guarded for degenerate inputs. One combinable groupBy to K "
    "rows, one 1-row aggregate.",
)
def q_event_value_anova_f(spark, sf_dir):
    return agg.anova_f(_t(spark, sf_dir, "events"), "event_type", "value")




@_q(
    "source_unigram_jsd",
    r"""
WITH cells AS (
  SELECT source AS g, w, CAST(count(*) AS BIGINT) AS y
  FROM (SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY 1, 2
),
words AS (SELECT w, CAST(sum(y) AS BIGINT) AS y_all FROM cells GROUP BY 1),
groups AS (SELECT g, CAST(sum(y) AS BIGINT) AS n_g FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(sum(y) AS BIGINT) AS n, CAST(count(DISTINCT w) AS BIGINT) AS v
  FROM cells
),
full_c AS (
  SELECT gr.g, gr.n_g, wo.w, wo.y_all, coalesce(c.y, 0) AS y
  FROM groups gr CROSS JOIN words wo
  LEFT JOIN cells c ON c.g = gr.g AND c.w = wo.w
),
pq AS (
  SELECT g, n_g,
         (CAST(y AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (CAST(n_g AS DOUBLE) + CAST(t.v AS DOUBLE)) AS p,
         (CAST(y_all AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (CAST(t.n AS DOUBLE) + CAST(t.v AS DOUBLE)) AS q,
         t.v AS v
  FROM full_c, tot t
),
terms AS (
  SELECT g, n_g, v,
         round(p * ln(p / ((p + q) / CAST(2.0 AS DOUBLE))), 6) AS tp,
         round(q * ln(q / ((p + q) / CAST(2.0 AS DOUBLE))), 6) AS tq
  FROM pq
)
SELECT g AS source, n_g AS n_tokens,
       CAST(max(v) AS BIGINT) AS n_vocab,
       round(CAST(sum(CAST(tp AS DECIMAL(27,6))) + sum(CAST(tq AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(1.3862943611198906 AS DOUBLE), 6) AS jsd_bits
FROM terms GROUP BY 1, 2 ORDER BY source
""",
    doc="Per-source Jensen-Shannon divergence (bits) between the "
    "source's unigram distribution and the whole corpus "
    "(operators/textops.py:unigram_jsd_to_corpus) — the mixture-"
    "design number next to distinctive_terms_by_source: log-odds "
    "names WHICH words set a source apart, JSD says HOW FAR the "
    "source sits from the corpus mixture (0 = indistinguishable, "
    "1 bit = disjoint), defined for disjoint vocabularies — why it "
    "beats KL for corpus comparison. One token explode + one "
    "(group,word) combinable groupBy; absent-word cells come from a "
    "vocab x groups spine over the SAME cell relation (no rescan); "
    "the two ln terms per row are individually 6dp-rounded then "
    "DECIMAL(27,6)-summed (order-free).",
)
def q_source_unigram_jsd(spark, sf_dir):
    return tx.unigram_jsd_to_corpus(
        _t(spark, sf_dir, "documents"), "source", "text"
    )


@_q(
    "quality_gate_kappa",
    r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS toks,
         string_split(text, chr(10)) AS lines,
         CAST(length(text) AS INT) AS n_chars,
         CAST(len(regexp_extract_all(text, '#')) AS INT)
           + CAST(len(regexp_extract_all(text, '(\.\.\.|…)')) AS INT) AS n_sym
  FROM documents
),
g AS (
  SELECT doc_id,
         (CAST(len(toks) AS INT) BETWEEN 50 AND 100000
          AND round(CAST(n_chars - (len(toks) - 1) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE), 6) BETWEEN 3.0 AND 10.0
          AND round(CAST(n_sym AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) <= 0.1
          AND round(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
                    / CAST(len(lines) AS DOUBLE), 6) <= 0.9
          AND round(CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
                    / CAST(len(lines) AS DOUBLE), 6) <= 0.3
          AND round(CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE), 6) >= 0.8
          AND CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS INT) >= 2
         ) AS ga
  FROM base
),
q AS (
  SELECT doc_id,
         (round(least(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
               + round(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                    t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS DOUBLE)
                 / CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE), 6) * 0.3
               + (1.0 - least(round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE), 6) * 10, 1.0)) * 0.2,
               6) >= 0.45) AS gb
  FROM documents
),
counts AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN coalesce(ga, false) AND coalesce(gb, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         CAST(sum(CASE WHEN coalesce(ga, false) AND NOT coalesce(gb, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
         CAST(sum(CASE WHEN NOT coalesce(ga, false) AND coalesce(gb, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
         CAST(sum(CASE WHEN NOT coalesce(ga, false) AND NOT coalesce(gb, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
  FROM g JOIN q USING (doc_id)
),
x AS (
  SELECT n_rows, n_both, n_only_a, n_only_b, n_neither,
         CAST(n_both + n_neither AS DOUBLE) / CAST(n_rows AS DOUBLE) AS po,
         (CAST(n_both + n_only_a AS DOUBLE) / CAST(n_rows AS DOUBLE))
           * (CAST(n_both + n_only_b AS DOUBLE) / CAST(n_rows AS DOUBLE))
         + (CAST(1.0 AS DOUBLE) - CAST(n_both + n_only_a AS DOUBLE) / CAST(n_rows AS DOUBLE))
           * (CAST(1.0 AS DOUBLE) - CAST(n_both + n_only_b AS DOUBLE) / CAST(n_rows AS DOUBLE)) AS pe
  FROM counts
)
SELECT n_rows, n_both, n_only_a, n_only_b, n_neither,
       round(po, 6) AS p_observed,
       round(pe, 6) AS p_expected,
       CASE WHEN pe < CAST(1.0 AS DOUBLE)
            THEN round((po - pe) / (CAST(1.0 AS DOUBLE) - pe), 6) END AS kappa
FROM x
""",
    doc="Cohen's kappa between the Gopher-style rule gate and the "
    "quality-score gate on documents (operators/quality.py:"
    "gate_agreement_kappa) — the chance-corrected agreement number "
    "read before swapping one quality filter for another: raw "
    "accuracy flatters any pair of gates that both pass almost "
    "everything; kappa subtracts the marginal-rate agreement "
    "(Cohen 1960). Both gates reuse the exact predicates of their "
    "green registry rows (gopher_quality_flags, "
    "quality_rate_confidence); every count is one combinable "
    "aggregate, every float step a fixed IEEE sequence on exact "
    "int64s, NULL-guarded at pe = 1.",
)
def q_quality_gate_kappa(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = tx.gopher_quality_flags(docs).select("doc_id", "passes_gopher")
    q = tx.quality_features(docs, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    j = g.join(q, "doc_id")
    return dq.gate_agreement_kappa(
        j, F.col("passes_gopher"), F.col("quality_score") >= 0.45
    )


@_q(
    "customer_name_edit_pairs",
    """
WITH rn AS (
  SELECT c_custkey AS id, c_name AS nm,
         row_number() OVER (ORDER BY c_name, c_custkey) AS rn
  FROM customer
),
pairs AS (
  SELECT least(a.id, b.id) AS doc_a, greatest(a.id, b.id) AS doc_b
  FROM rn a JOIN rn b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
)
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(ca.c_name, cb.c_name) AS INT) AS edit_dist
FROM pairs p
JOIN customer ca ON p.doc_a = ca.c_custkey
JOIN customer cb ON p.doc_b = cb.c_custkey
WHERE levenshtein(ca.c_name, cb.c_name) <= 2
ORDER BY doc_a, doc_b
""",
    doc="Edit-distance verification over SNM-blocked customer-name "
    "candidates (operators/dedup.py:edit_distance_verify over "
    "sorted_neighborhood_pairs) — the exact Levenshtein comparison "
    "stage the classic ER pipeline runs AFTER blocking and BEFORE "
    "clustering: O(len^2) per pair is affordable only because SNM "
    "bounded candidates to n*w, and on short identity strings it "
    "catches single-character typos that fall inside every shingle "
    "(the failure mode of token blocking). Integer distances, "
    "integer threshold — no floats anywhere; the blocked pair list "
    "joins the attribute relation on unique keys (equi-joins, "
    "linear in candidates, never all-pairs).",
)
def q_customer_name_edit_pairs(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    pairs = dd.sorted_neighborhood_pairs(
        c, "c_custkey", F.col("c_name"), window=3
    ).select("doc_a", "doc_b")
    return dd.edit_distance_verify(pairs, c, "c_custkey", "c_name", 2)




@_q(
    "event_value_cohens_d",
    """
WITH base AS (
  SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS x,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS a
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT CAST(sum(a) AS BIGINT) AS n_a,
         CAST(sum(1 - a) AS BIGINT) AS n_b,
         CAST(sum(a * x) AS BIGINT) AS s_a,
         CAST(sum((1 - a) * x) AS BIGINT) AS s_b,
         sum(CAST(a AS HUGEINT) * CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q_a,
         sum(CAST(1 - a AS HUGEINT) * CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q_b
  FROM base
),
x2 AS (
  SELECT n_a, n_b,
         CAST(CAST(n_a AS HUGEINT) * q_a - CAST(s_a AS HUGEINT) * CAST(s_a AS HUGEINT) AS DOUBLE)
           / CAST(n_a AS DOUBLE) AS ssa,
         CAST(CAST(n_b AS HUGEINT) * q_b - CAST(s_b AS HUGEINT) * CAST(s_b AS HUGEINT) AS DOUBLE)
           / CAST(n_b AS DOUBLE) AS ssb,
         CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
         CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
         CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - CAST(2.0 AS DOUBLE) AS dfree
  FROM m
)
SELECT n_a, n_b,
       round(ma / CAST(100.0 AS DOUBLE), 6) AS mean_a,
       round(mb / CAST(100.0 AS DOUBLE), 6) AS mean_b,
       CASE WHEN n_a > 1 AND n_b > 1 AND (ssa + ssb) / dfree > 0 THEN
         round((ma - mb) / sqrt((ssa + ssb) / dfree), 6) END AS cohens_d,
       CASE WHEN n_a > 1 AND n_b > 1 AND (ssa + ssb) / dfree > 0 THEN
         round((CAST(1.0 AS DOUBLE) - CAST(3.0 AS DOUBLE) / (CAST(4.0 AS DOUBLE) * dfree - CAST(1.0 AS DOUBLE)))
               * ((ma - mb) / sqrt((ssa + ssb) / dfree)), 6) END AS hedges_g
FROM x2
""",
    doc="Cohen's d and Hedges' g between the early/late event-value "
    "windows (operators/timeseries.py:cohens_d_drift) — the "
    "parametric effect size completing the drift battery's pair: "
    "rank-sum AUC is the distribution-free probability of "
    "superiority; d is the mean shift in pooled-SD units that power "
    "analyses and runbooks quote. Exact integer-cents moments from "
    "ONE combinable aggregate (Q in DECIMAL/HUGEINT); "
    "(n-1)s^2 = (nQ - S^2)/n keeps every product exact; d and the "
    "rational Hedges correction are short fixed IEEE sequences, "
    "NULL-guarded for degenerate windows.",
)
def q_event_value_cohens_d(spark, sf_dir):
    return ts_ops.cohens_d_drift(
        _t(spark, sf_dir, "events"), "ts", "value", "2024-01-16"
    )


@_q(
    "event_type_ranksum_scan",
    """
WITH cells AS (
  SELECT event_type AS g,
         CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         count(*) AS t,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS t_a
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
ranked AS (
  SELECT g, v, t, t_a,
         COALESCE(CAST(sum(t) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
  FROM cells
),
a AS (
  SELECT g,
         CAST(sum(t_a) AS BIGINT) AS n_a,
         CAST(sum(t) - sum(t_a) AS BIGINT) AS n_b,
         sum(CAST(t_a AS HUGEINT)
             * (2 * CAST(cb AS HUGEINT) + CAST(t AS HUGEINT) + 1)) AS r2a,
         sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
             - CAST(t AS HUGEINT)) AS ties
  FROM ranked GROUP BY 1
)
SELECT g AS event_type, n_a, n_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         round(CAST(r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS DOUBLE)
               / CAST(2.0 AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) END AS auc,
       CASE WHEN n_a > 0 AND n_b > 0
                 AND CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12.0 AS DOUBLE)
                     * ((CAST(n_a + n_b AS DOUBLE) + CAST(1.0 AS DOUBLE))
                        - CAST(ties AS DOUBLE)
                          / (CAST(n_a + n_b AS DOUBLE)
                             * (CAST(n_a + n_b AS DOUBLE) - CAST(1.0 AS DOUBLE)))) > 0 THEN
         round((CAST(r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS DOUBLE)
                - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
               / (CAST(2.0 AS DOUBLE)
                  * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12.0 AS DOUBLE)
                         * ((CAST(n_a + n_b AS DOUBLE) + CAST(1.0 AS DOUBLE))
                            - CAST(ties AS DOUBLE)
                              / (CAST(n_a + n_b AS DOUBLE)
                                 * (CAST(n_a + n_b AS DOUBLE) - CAST(1.0 AS DOUBLE)))))),
               6) END AS z
FROM a ORDER BY event_type
""",
    doc="Per-event-type Mann-Whitney drift scan, early vs late window "
    "(operators/timeseries.py:ranksum_drift with group_col) — the triage "
    "view over event_value_ranksum_drift's single global test: says "
    "WHICH types carry a corpus-level shift and catches offsetting "
    "per-type drifts the global number averages away. Identical "
    "exact construction with every window/aggregate partitioned by "
    "type (domain-bounded cents cells, DECIMAL/HUGEINT rank sums, "
    "fixed IEEE auc/z), NULL-guarded for one-sided or all-tied "
    "groups. One scan, one (type,cell) shuffle, one per-type "
    "ordered window over cells.",
)
def q_event_type_ranksum_scan(spark, sf_dir):
    return ts_ops.ranksum_drift(
        _t(spark, sf_dir, "events"), "ts", "value", "2024-01-16",
        group_col="event_type",
    )


@_q(
    "vocab_chao1_richness",
    r"""
WITH counts AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY 1
),
m AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_vocab,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM counts
)
SELECT n_tokens, n_vocab, f1, f2,
       round(CAST(n_vocab AS DOUBLE)
             + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - CAST(1.0 AS DOUBLE))
               / (CAST(2.0 AS DOUBLE) * (CAST(f2 AS DOUBLE) + CAST(1.0 AS DOUBLE))), 6) AS chao1,
       round(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS unseen_mass,
       round(CAST(1.0 AS DOUBLE) - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS coverage
FROM m
""",
    doc="Chao1 vocabulary-richness estimate plus Good-Turing unseen "
    "mass over the corpus unigram frequency-of-frequencies "
    "(operators/textops.py:chao1_richness) — vocab_coverage_curve "
    "shows how fast new types arrive; Chao1 (d + f1(f1-1)/(2(f2+1)), "
    "bias-corrected, defined at f2=0) estimates how many types "
    "EXIST, and f1/N is the probability the next token is unseen "
    "(Good-Turing) — the coverage number an LM-data curator reads. "
    "One token explode + word groupBy (the shuffle every vocab query "
    "pays), one combinable 1-row rollup; every output ONE double "
    "division on exact int64s.",
)
def q_vocab_chao1_richness(spark, sf_dir):
    return tx.chao1_richness(_t(spark, sf_dir, "documents"), "text")


@_q(
    "event_transition_entropy",
    """
WITH cells AS (
  SELECT from_type, to_type, count(*) AS cnt FROM (
    SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS from_type,
           event_type AS to_type
    FROM events)
  WHERE from_type IS NOT NULL
  GROUP BY 1, 2
),
sized AS (
  SELECT cnt,
         CAST(sum(cnt) OVER (PARTITION BY from_type) AS BIGINT) AS row_tot,
         CAST(sum(cnt) OVER () AS BIGINT) AS n,
         from_type
  FROM cells
),
m AS (
  SELECT n,
         CAST(count(DISTINCT from_type) AS BIGINT) AS n_states,
         sum(CAST(round((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(row_tot AS DOUBLE) / CAST(cnt AS DOUBLE)), 6)
                  AS DECIMAL(27,6))) AS h
  FROM sized GROUP BY 1
)
SELECT n AS n_transitions, n_states,
       round(CAST(h AS DOUBLE), 6) AS entropy_rate,
       round(ln(CAST(n_states AS DOUBLE)), 6) AS max_entropy
FROM m
""",
    doc="Entropy rate (nats) of the first-order event-type Markov "
    "chain (operators/behavior.py:transition_entropy) — the "
    "one-number predictability ceiling over the event_transitions "
    "matrix: near 0 = deterministic journeys, near ln(k) = the next "
    "event is anyone's guess; the number to read before investing "
    "in next-event prediction or session models. Deterministic "
    "(ts,id)-ordered transitions; row marginals are window sums over "
    "the tiny (from,to) cell relation; each term has ONE ln on a "
    "ratio of exact integers, 6dp-rounded then DECIMAL(27,6)-summed "
    "(order-free). One user-keyed window shuffle, one tiny reduce.",
)
def q_event_transition_entropy(spark, sf_dir):
    from ..operators import behavior as bh

    return bh.transition_entropy(_t(spark, sf_dir, "events"))


@_q(
    "price_quantity_partial_corr",
    """
WITH base AS (
  SELECT CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS y,
         CAST(FLOOR(CAST(l_discount AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS z
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, CAST(sum(z) AS BIGINT) AS sz,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
         sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS szz,
         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         sum(CAST(x AS HUGEINT) * CAST(z AS HUGEINT)) AS sxz,
         sum(CAST(y AS HUGEINT) * CAST(z AS HUGEINT)) AS syz
  FROM base
),
r AS (
  SELECT n_rows,
         CASE WHEN (CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                   AND (CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0 THEN
           round((CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END AS r_xy,
         CASE WHEN (CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                   AND (CAST(n_rows AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)) > 0 THEN
           round((CAST(n_rows AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                 / (sqrt(CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n_rows AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 6) END AS r_xz,
         CASE WHEN (CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                   AND (CAST(n_rows AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)) > 0 THEN
           round((CAST(n_rows AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
                 / (sqrt(CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                    * sqrt(CAST(n_rows AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 6) END AS r_yz
  FROM m
)
SELECT n_rows, r_xy, r_xz, r_yz,
       CASE WHEN (CAST(1.0 AS DOUBLE) - r_xz * r_xz) * (CAST(1.0 AS DOUBLE) - r_yz * r_yz) > 0 THEN
         round((r_xy - r_xz * r_yz)
               / sqrt((CAST(1.0 AS DOUBLE) - r_xz * r_xz) * (CAST(1.0 AS DOUBLE) - r_yz * r_yz)), 6)
       END AS partial_r
FROM r
""",
    doc="Partial correlation of extended price and quantity "
    "controlling for discount (operators/aggregates.py:"
    "partial_corr) — the confounder check completing the "
    "correlation ladder (Pearson/Spearman/Kendall): a pairwise r "
    "that collapses under conditioning was the third variable's "
    "doing. Ten exact DECIMAL/HUGEINT cents moments from ONE "
    "combinable aggregate; each pairwise r is the Pearson fixed "
    "IEEE sequence rounded 6dp, and the partial is computed FROM "
    "the rounded r's so the replay needs only the published "
    "numbers. NULL-guarded at zero variance or |r| = 1.",
)
def q_price_quantity_partial_corr(spark, sf_dir):
    return agg.partial_corr(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        "l_quantity",
        "l_discount",
    )


@_q(
    "event_value_levene",
    """
WITH cells AS (
  SELECT event_type AS g,
         CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS t
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT g, v, t,
         CAST(sum(t) OVER (PARTITION BY g ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(t) OVER (PARTITION BY g) AS BIGINT) AS n_g
  FROM cells
),
meds AS (
  SELECT g, n_g,
         min(CASE WHEN cum >= CAST(FLOOR((CAST(n_g AS DOUBLE) + 1) / 2.0) AS BIGINT) THEN v END) AS m1,
         min(CASE WHEN cum >= CAST(FLOOR(CAST(n_g AS DOUBLE) / 2.0) AS BIGINT) + 1 THEN v END) AS m2
  FROM cum GROUP BY 1, 2
),
dev AS (
  SELECT c.g, c.t, abs(2 * c.v - (m.m1 + m.m2)) AS zv
  FROM cells c JOIN meds m ON c.g = m.g
),
grp AS (
  SELECT g, CAST(sum(t) AS BIGINT) AS n_g,
         CAST(sum(t * zv) AS BIGINT) AS s_g,
         sum(CAST(t AS HUGEINT) * CAST(zv AS HUGEINT) * CAST(zv AS HUGEINT)) AS q_g
  FROM dev GROUP BY 1
),
m AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS k_groups,
         sum(CAST(s_g AS HUGEINT)) AS t,
         sum(q_g) AS q,
         sum(CAST(round(CAST(CAST(s_g AS HUGEINT) * CAST(s_g AS HUGEINT) AS DOUBLE)
                        / CAST(n_g AS DOUBLE), 6) AS DECIMAL(27,6))) AS a
  FROM grp
),
x AS (
  SELECT n_rows, k_groups,
         CAST(a AS DOUBLE) AS ad, CAST(q AS DOUBLE) AS qd,
         round(CAST(t * t AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS grand
  FROM m
)
SELECT n_rows, k_groups,
       CASE WHEN k_groups > 1 AND (qd - ad) > 0 AND n_rows > k_groups THEN
         round(((ad - grand) / (CAST(k_groups AS DOUBLE) - CAST(1.0 AS DOUBLE)))
               / ((qd - ad) / (CAST(n_rows AS DOUBLE) - CAST(k_groups AS DOUBLE))), 6)
       END AS f_stat
FROM x
""",
    doc="Brown-Forsythe (median-based Levene) test for equality of "
    "event-value spread across event types (operators/aggregates.py:"
    "levene_bf) — anova_f compares MEANS under an equal-variance "
    "assumption; this runs the same F machinery on absolute "
    "deviations from each group's MEDIAN (the robust 1974 variant), "
    "flagging heteroscedastic segments and gating pooled-variance "
    "use. Per-group medians are min-over-threshold order statistics "
    "on the domain-bounded cents-cell relation; deviations stay "
    "INTEGER via |2x - (m1+m2)| (the doubling cancels in F); then "
    "the identical cleared-denominator F pipeline as anova_f. One "
    "scan, one (type,cell) shuffle, bounded windows.",
)
def q_event_value_levene(spark, sf_dir):
    return agg.levene_bf(_t(spark, sf_dir, "events"), "event_type", "value")




@_q(
    "word_burstiness",
    r"""
WITH per_doc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY 1, 2
),
words AS (
  SELECT w, CAST(sum(c) AS BIGINT) AS total_cnt,
         CAST(count(*) AS BIGINT) AS doc_freq,
         sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS q
  FROM per_doc GROUP BY 1
),
d AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
SELECT w AS word, total_cnt, doc_freq,
       round(CAST(CAST(nd AS HUGEINT) * q
                  - CAST(total_cnt AS HUGEINT) * CAST(total_cnt AS HUGEINT) AS DOUBLE)
             / CAST(CAST(nd AS HUGEINT) * CAST(total_cnt AS HUGEINT) AS DOUBLE), 6) AS fano
FROM words, d
ORDER BY total_cnt DESC, word ASC
LIMIT 20
""",
    doc="Church-Gale burstiness (per-document Fano factor) for the 20 "
    "most frequent corpus words (operators/textops.py:"
    "word_burstiness_topk) — separates evenly-spread function words "
    "(Fano ~ 1) from topical/bursty vocabulary (>> 1) and "
    "once-per-doc boilerplate tokens (< 1); the per-word companion "
    "to doc_repetition_stats for template detection. Closed form "
    "over zero-docs: var/mean = (D*Q - T^2)/(D*T) on exact "
    "DECIMAL/HUGEINT integers — no doc-spine densification; top-k "
    "via TakeOrdered heap, never a global sort.",
)
def q_word_burstiness(spark, sf_dir):
    return tx.word_burstiness_topk(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=20
    )


@_q(
    "doc_length_moments",
    """
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS s2,
         sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)
             * CAST(n_chars AS HUGEINT)) AS s3,
         sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)
             * CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS s4
  FROM documents WHERE n_chars IS NOT NULL
),
x AS (
  SELECT n_docs,
         CAST(s1 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean,
         CAST(s2 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS r2,
         CAST(s3 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS r3,
         CAST(s4 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS r4
  FROM m
),
y AS (
  SELECT n_docs, mean,
         r2 - mean * mean AS m2,
         r3 - CAST(3.0 AS DOUBLE) * mean * r2
            + CAST(2.0 AS DOUBLE) * mean * mean * mean AS m3,
         r4 - CAST(4.0 AS DOUBLE) * mean * r3
            + CAST(6.0 AS DOUBLE) * mean * mean * r2
            - CAST(3.0 AS DOUBLE) * mean * mean * mean * mean AS m4
  FROM x
)
SELECT n_docs,
       round(mean, 6) AS mean_len,
       CASE WHEN m2 > 0 THEN round(sqrt(m2), 6) END AS sd_len,
       CASE WHEN m2 > 0 THEN round(m3 / (m2 * sqrt(m2)), 6) END AS skewness,
       CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - CAST(3.0 AS DOUBLE), 6) END AS excess_kurtosis
FROM y
""",
    doc="Four-moment shape profile of document lengths "
    "(operators/textops.py:doc_length_moments): mean, SD, skewness, "
    "excess kurtosis — the one-row audit behind length gates "
    "(natural corpora are right-skewed/heavy-tailed; near-zero skew "
    "flags truncation or templating, a kurtosis spike flags "
    "contamination at one length). Exact S1..S4 in DECIMAL/HUGEINT "
    "(len^4 passes int64 immediately); standardized moments are a "
    "FIXED documented IEEE sequence using sqrt (correctly rounded) "
    "instead of pow (not) — bit-identical replay. One scan, one "
    "1-row aggregate.",
)
def q_doc_length_moments(spark, sf_dir):
    return tx.doc_length_moments(_t(spark, sf_dir, "documents"), "n_chars")


@_q(
    "supplier_graph_clustering",
    "WITH "
    + KNN_EDGES_CTE
    + """,
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY 1
),
wed AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT) - CAST(d AS HUGEINT)) // 2 AS nw
  FROM deg
),
ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und),
oriented AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND u.a < u.b)
              THEN u.b ELSE u.a END AS v,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND u.a < u.b)
              THEN db.d ELSE da.d END AS dv
  FROM und u JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node
),
wedges AS (
  SELECT e1.u, e1.v AS v1, e2.v AS v2
  FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u
  WHERE (e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v)
),
tri AS (
  SELECT w.u FROM wedges w JOIN oriented o ON w.v1 = o.u AND w.v2 = o.v
),
tc AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri)
SELECT n_nodes, n_edges, n_triangles,
       CAST(nw AS BIGINT) AS n_wedges,
       CASE WHEN nw > 0 THEN
         round(CAST(3.0 AS DOUBLE) * CAST(n_triangles AS DOUBLE)
               / CAST(nw AS DOUBLE), 6) END AS c
FROM wed, ec, tc
""",
    doc="Global clustering coefficient (transitivity) of the supplier "
    "co-supply k-NN graph (operators/graph.py:global_clustering): "
    "C = 3*triangles/wedges — the cohesion number read next to "
    "degree assortativity before trusting community structure "
    "(C near random = incidental co-occurrence; C >> random = real "
    "communities worth clustering). Triangle mass reuses the "
    "degree-ordered compact-forward plan the triangle query "
    "verifies (O(m^1.5) bound); wedge mass is sum d(d-1)/2 over the "
    "degree relation in DECIMAL/HUGEINT; C is ONE double division "
    "of exact integers, NULL on wedge-free graphs.",
)
def q_supplier_graph_clustering(spark, sf_dir):
    knn = _supplier_knn_edges(spark, sf_dir)
    return graph.global_clustering(knn, "a", "b")


@_q(
    "nation_customer_pareto",
    """
WITH subs AS (
  SELECT n.n_name AS g, c.c_custkey AS e,
         CAST(sum(CAST(FLOOR(CAST(o.o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_totalprice IS NOT NULL
  GROUP BY 1, 2
),
ranked AS (
  SELECT g, e, s,
         CAST(row_number() OVER wo AS INT) AS rnk,
         CAST(sum(s) OVER (wo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(s) OVER (PARTITION BY g) AS BIGINT) AS tot,
         CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM subs
  WINDOW wo AS (PARTITION BY g ORDER BY s DESC, e ASC)
),
m AS (
  SELECT g,
         CAST(max(n) AS BIGINT) AS n_entities,
         CAST(min(CASE WHEN CAST(cum AS HUGEINT) * 5 >= CAST(tot AS HUGEINT) * 4
                       THEN rnk END) AS BIGINT) AS n_top80,
         CAST(max(CASE WHEN rnk = CAST(FLOOR(CAST(n + 9 AS DOUBLE) / CAST(10.0 AS DOUBLE)) AS BIGINT)
                       THEN cum END) AS BIGINT) AS cum10,
         CAST(max(tot) AS BIGINT) AS tot
  FROM ranked GROUP BY 1
)
SELECT g AS n_name, n_entities, n_top80,
       round(CAST(n_top80 AS DOUBLE) / CAST(n_entities AS DOUBLE), 6) AS top80_fraction,
       CASE WHEN tot > 0 THEN
         round(CAST(cum10 AS DOUBLE) / CAST(tot AS DOUBLE), 6) END AS top_decile_share
FROM m ORDER BY n_name
""",
    doc="Pareto (ABC) concentration of customer spend per nation "
    "(operators/aggregates.py:pareto_by_group): how many customers "
    "cover 80% of revenue, and the top decile's share — the "
    "planner's reading next to Gini (inequality) and HHI "
    "(dominance). Deterministic (spend desc, custkey asc) total "
    "order; the 80% cut is the INTEGER predicate 5*cumsum >= "
    "4*total in DECIMAL/HUGEINT (no float threshold); windows run "
    "over the per-nation ENTITY relation (gini_by_group pattern — "
    "swap in scalable_ranks for unbounded groups).",
)
def q_nation_customer_pareto(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = o.join(
        c, o["o_custkey"] == c["c_custkey"]
    ).join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    return agg.pareto_by_group(j, "n_name", "c_custkey", "o_totalprice")


@_q(
    "event_interarrival_burstiness",
    """
WITH gaps AS (
  SELECT event_type AS g,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY event_type, user_id ORDER BY ts, event_id) AS gap
  FROM events
),
m AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap) AS BIGINT) AS s,
         sum(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS q
  FROM gaps WHERE gap IS NOT NULL GROUP BY 1
)
SELECT g AS event_type, n_gaps,
       round(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) / CAST(1000000.0 AS DOUBLE), 6) AS mean_gap_s,
       CASE WHEN s > 0
                 AND CAST(CAST(n_gaps AS HUGEINT) * q - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE) >= 0 THEN
         round((sqrt(CAST(CAST(n_gaps AS HUGEINT) * q - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE))
                - CAST(s AS DOUBLE))
               / (sqrt(CAST(CAST(n_gaps AS HUGEINT) * q - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE))
                  + CAST(s AS DOUBLE)), 6) END AS burstiness
FROM m ORDER BY event_type
""",
    doc="Goh-Barabási burstiness B = (sigma-mu)/(sigma+mu) of "
    "per-user inter-arrival times per event type "
    "(operators/behavior.py:interarrival_burstiness) — the "
    "gap-level companion to the daily-count Fano factor: B = -1 "
    "periodic, ~0 Poisson, ->1 extreme bursts (human-dynamics "
    "diagnostic for retry storms vs organic traffic). Per-user gaps "
    "keep the window partitioned by fine-grained (type,user) keys — "
    "never a per-type global sort; exact integer MICROsecond gaps; "
    "B simplifies to (sqrt(nQ-S^2)-S)/(sqrt(nQ-S^2)+S) on exact "
    "DECIMAL/HUGEINT moments — the n cancels, one sqrt.",
)
def q_event_interarrival_burstiness(spark, sf_dir):
    from ..operators import behavior as bh

    return bh.interarrival_burstiness(_t(spark, sf_dir, "events"))




@_q(
    "event_value_quantile_shift",
    """
WITH cells AS (
  SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS BIGINT) AS tb
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT v,
         CAST(sum(ta) OVER w AS BIGINT) AS ca,
         CAST(sum(tb) OVER w AS BIGINT) AS cb
  FROM cells
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (SELECT CAST(max(ca) AS BIGINT) AS n_a, CAST(max(cb) AS BIGINT) AS n_b FROM cum),
dc AS (SELECT CAST(unnest(generate_series(1, 9)) AS INT) AS decile),
j AS (SELECT c.v, c.ca, c.cb, t.n_a, t.n_b, d.decile FROM cum c, tot t, dc d),
sel AS (
  SELECT decile,
         min(CASE WHEN n_a > 0 AND ca >= CAST(FLOOR(CAST(decile * n_a + 9 AS DOUBLE) / CAST(10.0 AS DOUBLE)) AS BIGINT)
                  THEN v END) AS qa,
         min(CASE WHEN n_b > 0 AND cb >= CAST(FLOOR(CAST(decile * n_b + 9 AS DOUBLE) / CAST(10.0 AS DOUBLE)) AS BIGINT)
                  THEN v END) AS qb
  FROM j GROUP BY 1
)
SELECT decile,
       round(CAST(qa AS DOUBLE) / CAST(100.0 AS DOUBLE), 6) AS q_early,
       round(CAST(qb AS DOUBLE) / CAST(100.0 AS DOUBLE), 6) AS q_late,
       round(CAST(qb - qa AS DOUBLE) / CAST(100.0 AS DOUBLE), 6) AS shift
FROM sel ORDER BY decile
""",
    doc="Per-decile Q-Q shift profile of event values, early vs late "
    "window (operators/timeseries.py:quantile_shift_profile) — the "
    "WHERE-in-the-distribution companion to the drift battery: KS "
    "says the CDFs differ, PSI says how much, this says WHICH "
    "deciles moved (tail-only vs uniform location shifts have "
    "identical KS but opposite fixes). Both windows' order "
    "statistics come from ONE shared domain-bounded cents-cell "
    "relation; ranks are the INTEGER ceil(k*n/10) = "
    "floor((k*n+9)/10) — no float ranks; selection is "
    "min-over-threshold on each window's running total; the decile "
    "spine is a literal bounded Range.",
)
def q_event_value_quantile_shift(spark, sf_dir):
    return ts_ops.quantile_shift_profile(
        _t(spark, sf_dir, "events"), "ts", "value", "2024-01-16"
    )


@_q(
    "centroid_margin_eval",
    """
WITH cent AS (
  SELECT label AS cell, i AS pos,
         round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY 1, 2
),
cvec AS (
  SELECT cell, list(m ORDER BY pos) AS centroid FROM cent GROUP BY cell
),
scored AS (
  SELECT e.vec_id, c.cell,
         round((CASE WHEN (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.centroid[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) > 0 THEN (list_sum(list_transform(generate_series(1, 64), i -> CAST(c.centroid[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) / ((sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.centroid[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))) END), 6) AS s
  FROM embeddings e, cvec c
),
ranked AS (
  SELECT vec_id, cell, s,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
  FROM scored
),
per_vec AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cell END) AS label,
         max(CASE WHEN rn = 1 THEN s END) AS a,
         max(CASE WHEN rn = 2 THEN s END) AS b
  FROM ranked WHERE rn <= 2 GROUP BY 1
),
m AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
         sum(CAST(a AS DECIMAL(27,6))) AS sa,
         sum(CAST(b AS DECIMAL(27,6))) AS sb,
         CAST(count(b) AS BIGINT) AS nb
  FROM per_vec GROUP BY 1
)
SELECT label, n_vectors,
       round(CAST(sa AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) AS mean_cohesion,
       CASE WHEN nb = n_vectors THEN
         round(CAST(sb AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) END AS mean_second_best,
       CASE WHEN nb = n_vectors THEN
         round(CAST(sa - sb AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) END AS mean_margin
FROM m ORDER BY label
""",
    doc="Per-cluster separation audit of the trained centroids "
    "(operators/similarity.py:centroid_margin_audit) — the "
    "centroid-based silhouette reading for the k-means/IVF tier: "
    "per vector, cohesion = cosine to its best centroid and "
    "separation = cosine to the runner-up; per label, mean a, mean "
    "b, mean margin. Margin near 0 = arbitrary boundary (IVF must "
    "widen probes, assignments churn); wide margin justifies "
    "single-probe routing — the eval companion to "
    "centroid_assignments the way minhash_recall_eval is to LSH. "
    "Scores rounded BEFORE ranking (argmax identical across engines "
    "at 1-ulp raw differences); DECIMAL-accumulated means; "
    "broadcast fan-out + per-vector rank window, no big-side "
    "shuffle.",
)
def q_centroid_margin_eval(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.train_centroids_by_label(emb)
    return sim.centroid_margin_audit(emb, cents)




@_q(
    "daily_count_hurst",
    """
WITH c AS (
  SELECT CAST(ts AS DATE) AS date, count(*) AS cnt FROM events GROUP BY 1
),
span AS (SELECT min(date) AS lo, max(date) AS hi FROM c),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS date
  FROM span
),
s AS (
  SELECT spine.date, coalesce(c.cnt, 0) AS cnt
  FROM spine LEFT JOIN c ON spine.date = c.date
),
base AS (
  SELECT CAST(cnt AS BIGINT) AS x,
         CAST(row_number() OVER (ORDER BY date) AS BIGINT) AS rn
  FROM s
),
tot AS (SELECT CAST(max(rn) AS BIGINT) AS n_days FROM base),
sz AS (SELECT CAST(unnest([4, 8, 16, 32, 64]) AS BIGINT) AS m),
j AS (
  SELECT b.x, b.rn, z.m, t.n_days,
         CAST(FLOOR(CAST(b.rn - 1 AS DOUBLE) / CAST(z.m AS DOUBLE)) AS BIGINT) AS block
  FROM base b, sz z, tot t
),
j2 AS (
  SELECT x, rn, m, n_days, block, rn - block * m AS t
  FROM j
  WHERE block < CAST(FLOOR(CAST(n_days AS DOUBLE) / CAST(m AS DOUBLE)) AS BIGINT)
),
cum AS (
  SELECT m, block, n_days, rn, t, x,
         sum(x) OVER (PARTITION BY m, block ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumx,
         CAST(sum(x) OVER (PARTITION BY m, block) AS BIGINT) AS s1,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
           OVER (PARTITION BY m, block) AS q
  FROM j2
),
zrel AS (
  SELECT m, block, n_days, m * cumx - t * s1 AS zv, s1, q FROM cum
),
blocks AS (
  SELECT m, block,
         CAST(max(zv) - min(zv) AS BIGINT) AS r_m,
         CAST(max(m) AS HUGEINT) * max(q)
           - CAST(max(s1) AS HUGEINT) * CAST(max(s1) AS HUGEINT) AS d,
         CAST(max(n_days) AS BIGINT) AS n_days
  FROM zrel GROUP BY 1, 2
),
rsr AS (
  SELECT m, n_days,
         CASE WHEN d > 0 THEN
           round(CAST(r_m AS DOUBLE) / sqrt(CAST(d AS DOUBLE)), 6) END AS rs
  FROM blocks
),
per_size AS (
  SELECT m, CAST(max(n_days) AS BIGINT) AS n_days,
         CAST(count(*) AS BIGINT) AS n_blocks,
         round(CAST(sum(CAST(rs AS DECIMAL(27,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS avg_rs
  FROM rsr WHERE rs IS NOT NULL GROUP BY 1
),
pts AS (
  SELECT n_days,
         round(ln(CAST(m AS DOUBLE)), 6) AS lx,
         round(ln(avg_rs), 6) AS ly
  FROM per_size WHERE avg_rs > 0
),
ols AS (
  SELECT n_days, CAST(count(*) AS BIGINT) AS n_sizes,
         sum(CAST(lx AS DECIMAL(27,6))) AS sx,
         sum(CAST(ly AS DECIMAL(27,6))) AS sy,
         sum(CAST(round(lx * ly, 6) AS DECIMAL(27,6))) AS sxy,
         sum(CAST(round(lx * lx, 6) AS DECIMAL(27,6))) AS sxx
  FROM pts GROUP BY 1
)
SELECT n_days, n_sizes,
       CASE WHEN n_sizes > 1
                 AND (CAST(n_sizes AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0 THEN
         round((CAST(n_sizes AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n_sizes AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS hurst
FROM ols
""",
    doc="Hurst exponent of the daily event-count series via classical "
    "rescaled-range analysis (operators/timeseries.py:"
    "hurst_rs_daily) — the long-memory member completing the "
    "temporal tier: ACF reads fixed-lag rhythm, CUSUM finds breaks, "
    "H reads persistence across ALL horizons (0.5 memoryless, >0.5 "
    "trending, <0.5 mean-reverting; Hurst 1951). Denominators clear "
    "inside each block (m*Z_t = m*cumsum - t*S1 integer, R*m exact; "
    "S via sqrt(m*Q - S1^2) on DECIMAL/HUGEINT), one division+sqrt "
    "per block 6dp; block means and the <= 5-point ln-ln OLS use "
    "the rounded-term DECIMAL(27,6) pattern. Everything lives on "
    "the calendar-bounded daily relation x a literal size spine.",
)
def q_daily_count_hurst(spark, sf_dir):
    return ts_ops.hurst_rs_daily(_t(spark, sf_dir, "events"), "ts")




@_q(
    "priority_status_mutual_info",
    """
WITH cells AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b, CAST(count(*) AS BIGINT) AS o
  FROM orders GROUP BY 1, 2
),
sized AS (
  SELECT o,
         CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS n_a,
         CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS n_b,
         CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cells
),
mirel AS (
  SELECT n,
         sum(CAST(round((CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(CAST(n AS HUGEINT) * CAST(o AS HUGEINT) AS DOUBLE)
                             / CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS DOUBLE)), 6)
                  AS DECIMAL(27,6))) AS miv
  FROM sized GROUP BY 1
),
ma AS (SELECT a, CAST(sum(o) AS BIGINT) AS n_a FROM cells GROUP BY 1),
mb AS (SELECT b, CAST(sum(o) AS BIGINT) AS n_b FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
ha AS (
  SELECT sum(CAST(round((CAST(n_a AS DOUBLE) / CAST(t.n AS DOUBLE))
                        * ln(CAST(t.n AS DOUBLE) / CAST(n_a AS DOUBLE)), 6)
                  AS DECIMAL(27,6))) AS hav
  FROM ma, tot t
),
hb AS (
  SELECT sum(CAST(round((CAST(n_b AS DOUBLE) / CAST(t.n AS DOUBLE))
                        * ln(CAST(t.n AS DOUBLE) / CAST(n_b AS DOUBLE)), 6)
                  AS DECIMAL(27,6))) AS hbv
  FROM mb, tot t
)
SELECT m.n AS n_rows,
       round(CAST(hav AS DOUBLE), 6) AS h_a,
       round(CAST(hbv AS DOUBLE), 6) AS h_b,
       round(CAST(miv AS DOUBLE), 6) AS mi,
       CASE WHEN CAST(hav + hbv AS DOUBLE) > 0 THEN
         round(CAST(2.0 AS DOUBLE) * CAST(miv AS DOUBLE) / CAST(hav + hbv AS DOUBLE), 6)
       END AS theils_u
FROM mirel m, ha, hb
""",
    doc="Mutual information (nats) and symmetric Theil's U between "
    "order priority and status (operators/aggregates.py:"
    "mutual_info) — the information-theoretic member of the "
    "association tier: chi2/V score deviation from independence, MI "
    "scores shared information, U = 2*MI/(H_a+H_b) normalizes to "
    "[0,1] — the number feature selection ranks categorical "
    "predictors by. Zero cells contribute 0 (no spine needed, "
    "unlike chi2); each term has ONE ln on a ratio of exact "
    "DECIMAL/HUGEINT integer products, 6dp-rounded then "
    "DECIMAL(27,6)-summed; entropies use the same pattern over the "
    "marginal relations.",
)
def q_priority_status_mutual_info(spark, sf_dir):
    return agg.mutual_info(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


@_q(
    "benford_price_conformity",
    """
WITH per AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
  GROUP BY 1
),
spine AS (SELECT CAST(unnest(generate_series(1, 9)) AS INT) AS digit),
cells AS (
  SELECT s.digit, CAST(coalesce(p.n_obs, 0) AS BIGINT) AS o
  FROM spine s LEFT JOIN per p ON s.digit = p.digit
),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT n,
         round((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * round(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)), 6))
               * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * round(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)), 6))
               / (CAST(n AS DOUBLE) * round(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)), 6) AS chit,
         round(abs(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)
                   - round(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)), 6) AS devt
  FROM cells, tot
)
SELECT n AS n_obs,
       round(CAST(sum(CAST(chit AS DECIMAL(27,6))) AS DOUBLE), 6) AS chi2,
       round(CAST(sum(CAST(devt AS DECIMAL(27,6))) AS DOUBLE) / CAST(9.0 AS DOUBLE), 6) AS mad
FROM terms GROUP BY 1
""",
    doc="Benford conformity verdict over the first-digit screen "
    "(operators/quality.py:benford_conformity): chi-square "
    "goodness-of-fit vs the Benford expectation plus Nigrini's Mean "
    "Absolute Deviation (the audit thresholds: MAD < 0.006 close, "
    "> 0.015 nonconforming) — benford_price_audit shows WHERE the "
    "digits deviate, this says WHETHER the column passes. Full "
    "9-digit spine (absent digits contribute their whole expected "
    "mass); expected shares one log10 per digit 6dp-rounded (the "
    "screen's literal sequence); chi2/MAD terms rounded then "
    "DECIMAL(27,6)-summed. Scan-bound.",
)
def q_benford_price_conformity(spark, sf_dir):
    return dq.benford_conformity(
        _t(spark, sf_dir, "orders"), "o_totalprice"
    )


@_q(
    "daily_count_runs_test",
    """
WITH c AS (
  SELECT CAST(ts AS DATE) AS date, count(*) AS cnt FROM events GROUP BY 1
),
span AS (SELECT min(date) AS lo, max(date) AS hi FROM c),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS date
  FROM span
),
s AS (
  SELECT spine.date, coalesce(c.cnt, 0) AS cnt
  FROM spine LEFT JOIN c ON spine.date = c.date
),
d AS (SELECT date, cnt, lag(cnt) OVER (ORDER BY date) AS prev FROM s),
signs AS (
  SELECT date, CASE WHEN cnt > prev THEN 1 ELSE -1 END AS sgn
  FROM d WHERE prev IS NOT NULL AND cnt <> prev
),
runs AS (
  SELECT sgn,
         CASE WHEN lag(sgn) OVER (ORDER BY date) IS NULL
                   OR sgn <> lag(sgn) OVER (ORDER BY date)
              THEN 1 ELSE 0 END AS new_run
  FROM signs
),
m AS (
  SELECT CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
         CAST(sum(new_run) AS BIGINT) AS n_runs
  FROM runs
),
x AS (
  SELECT n_up, n_down, n_runs,
         CAST(2 * CAST(n_up AS HUGEINT) * CAST(n_down AS HUGEINT) AS DOUBLE) AS t2,
         CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE) AS nn
  FROM m
)
SELECT n_up, n_down, n_runs,
       CASE WHEN n_up > 0 AND n_down > 0
                 AND t2 * (t2 - nn) / (nn * nn * (nn - CAST(1.0 AS DOUBLE))) > 0 THEN
         round((CAST(n_runs AS DOUBLE) - (t2 / nn + CAST(1.0 AS DOUBLE)))
               / sqrt(t2 * (t2 - nn) / (nn * nn * (nn - CAST(1.0 AS DOUBLE)))), 6)
       END AS z
FROM x
""",
    doc="Wald-Wolfowitz runs test on day-over-day count direction "
    "(operators/timeseries.py:daily_runs_test) — the randomness "
    "check closing the temporal tier from the other side: ACF/Hurst "
    "measure how much structure; the runs test asks whether the "
    "up/down sequence beats coin flips at all (too few runs = "
    "momentum, too many = oscillation). Signs from integer "
    "differences on the gap-filled daily relation (zero-change days "
    "excluded, the standard convention); run count = 1 + sign "
    "flips; mu/sigma fixed IEEE sequences on exact integer counts, "
    "NULL-guarded one-sided series.",
)
def q_daily_count_runs_test(spark, sf_dir):
    return ts_ops.daily_runs_test(_t(spark, sf_dir, "events"), "ts")


@_q(
    "tfidf_doc_similarity",
    r"""
WITH tf AS (
  SELECT doc_id AS id, t, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        FROM documents)
  WHERE t <> '' GROUP BY 1, 2
),
dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
banded AS (
  SELECT tf.id, tf.t,
         round(CAST(tf.tf AS DOUBLE) * ln(CAST(nd.n AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS w
  FROM tf JOIN dfreq d ON tf.t = d.t, nd
  WHERE d.df BETWEEN 2 AND 100
),
norms AS (
  SELECT id, sqrt(CAST(sum(CAST(round(w * w, 6) AS DECIMAL(27,6))) AS DOUBLE)) AS nrm
  FROM banded GROUP BY 1
),
dots AS (
  SELECT a.id AS doc_a, b.id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared_terms,
         CAST(sum(CAST(round(a.w * b.w, 6) AS DECIMAL(27,6))) AS DOUBLE) AS dot
  FROM banded a JOIN banded b ON a.t = b.t AND a.id < b.id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared_terms,
       CASE WHEN na.nrm > 0 AND nb.nrm > 0 THEN
         round(dot / (na.nrm * nb.nrm), 6) END AS cosine
FROM dots
JOIN norms na ON dots.doc_a = na.id
JOIN norms nb ON dots.doc_b = nb.id
ORDER BY cosine DESC, doc_a ASC, doc_b ASC
LIMIT 20
""",
    doc="Top-20 most similar document pairs by TF-IDF cosine over an "
    "inverted-index self-join (operators/textops.py:"
    "tfidf_doc_similarity_topk) — the lexical doc-doc member the "
    "retrieval tier lacked: BM25 scores query-vs-docs, dedup finds "
    "near-copies, TF-IDF cosine finds TOPICALLY similar pairs "
    "sharing distinctive vocabulary without shared n-grams. Pair "
    "generation is the postings join ON TERM inside the df band "
    "[2, 100] (hapax can't pair; stop-terms would blow the join "
    "quadratically and carry ~0 idf — the measured stop-shingle cap "
    "move); dot/norm terms 6dp-rounded then DECIMAL-summed; top-k "
    "by (cosine desc, pair asc) TakeOrdered heap.",
)
def q_tfidf_doc_similarity(spark, sf_dir):
    return tx.tfidf_doc_similarity_topk(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=20
    )


@_q(
    "ann_rank_quality",
    """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20
),
cent AS (
  SELECT label AS cell, i AS pos,
         round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY 1, 2
),
cvec AS (
  SELECT cell, list(m ORDER BY pos) AS centroid FROM cent GROUP BY cell
),
route AS (
  SELECT qid, qv, cell FROM (
    SELECT q.qid, q.qv, c.cell,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round((CASE WHEN (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.centroid[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))) > 0 THEN (list_sum(list_transform(generate_series(1, 64), i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) / ((sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.centroid[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))))) END), 6) DESC,
                      c.cell ASC) AS rn
    FROM q, cvec c
  ) WHERE rn <= 1
),
ivf AS (
  SELECT qid, vec_id, rn AS pos FROM (
    SELECT r.qid, e.vec_id,
           row_number() OVER (
             PARTITION BY r.qid
             ORDER BY round((CASE WHEN (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(r.qv[i] AS DOUBLE) * CAST(r.qv[i] AS DOUBLE))))) > 0 THEN (list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(r.qv[i] AS DOUBLE)))) / ((sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(r.qv[i] AS DOUBLE) * CAST(r.qv[i] AS DOUBLE)))))) END), 6) DESC,
                      e.vec_id ASC) AS rn
    FROM embeddings e JOIN route r ON e.label = r.cell
  ) WHERE rn <= 10
),
brute AS (
  SELECT qid, vec_id, rn AS exact_rank FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round((CASE WHEN (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))) > 0 THEN (list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) / ((sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))))) END), 6) DESC,
                      e.vec_id ASC) AS rn
    FROM embeddings e, q
  ) WHERE rn <= 10
),
joined AS (
  SELECT i.qid, i.pos, b.exact_rank
  FROM ivf i LEFT JOIN brute b ON i.qid = b.qid AND i.vec_id = b.vec_id
),
per AS (
  SELECT qid,
         sum(CAST(round((CASE WHEN exact_rank IS NOT NULL
                              THEN CAST(10 - exact_rank + 1 AS DOUBLE)
                              ELSE CAST(0.0 AS DOUBLE) END)
                        / log2(CAST(pos + 1 AS DOUBLE)), 6)
                  AS DECIMAL(27,6))) AS dcg,
         min(CASE WHEN exact_rank = 1 THEN pos END) AS first_pos
  FROM joined GROUP BY 1
),
ideal AS (
  SELECT sum(CAST(round(CAST(10 - i + 1 AS DOUBLE) / log2(CAST(i + 1 AS DOUBLE)), 6)
                  AS DECIMAL(27,6))) AS idcg
  FROM (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS i)
)
SELECT q.qid,
       round(coalesce(CAST(p.dcg AS DOUBLE), CAST(0.0 AS DOUBLE))
             / CAST(ideal.idcg AS DOUBLE), 6) AS ndcg_at_10,
       round(CASE WHEN p.first_pos IS NOT NULL
                  THEN CAST(1.0 AS DOUBLE) / CAST(p.first_pos AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END, 6) AS reciprocal_rank
FROM q LEFT JOIN per p ON q.qid = p.qid, ideal
""",
    doc="Rank-quality eval of the IVF path vs the exact top-10: "
    "nDCG@10 (graded by exact-rank relevance k-r+1) and reciprocal "
    "rank of the true best neighbor, per query "
    "(operators/similarity.py:ann_rank_quality_eval) — the "
    "ORDER-aware companion to ann_recall_eval: recall treats the "
    "returned set as a bag; a stack feeding a reranker needs the "
    "right items EARLY. Both arms reuse the serving operators with "
    "positions re-derived by the identical (rounded score desc, id "
    "asc) window; each DCG term has ONE log2 on an exact integer, "
    "6dp-rounded then DECIMAL-summed; the ideal DCG is a literal "
    "1..k Range with the same pattern.",
)
def q_ann_rank_quality(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.withColumnRenamed("label", "cell")
    cents = sim.train_centroids_by_label(emb)
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return sim.ann_rank_quality_eval(corpus, cents, qs, k=10, nprobe=1)




@_q(
    "quality_score_auc",
    r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS toks,
         string_split(text, chr(10)) AS lines,
         CAST(length(text) AS INT) AS n_chars,
         CAST(len(regexp_extract_all(text, '#')) AS INT)
           + CAST(len(regexp_extract_all(text, '(\.\.\.|…)')) AS INT) AS n_sym
  FROM documents
),
g AS (
  SELECT doc_id,
         (CAST(len(toks) AS INT) BETWEEN 50 AND 100000
          AND round(CAST(n_chars - (len(toks) - 1) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE), 6) BETWEEN 3.0 AND 10.0
          AND round(CAST(n_sym AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) <= 0.1
          AND round(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
                    / CAST(len(lines) AS DOUBLE), 6) <= 0.9
          AND round(CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
                    / CAST(len(lines) AS DOUBLE), 6) <= 0.3
          AND round(CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE), 6) >= 0.8
          AND CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS INT) >= 2
         ) AS y
  FROM base
),
q AS (
  SELECT doc_id,
         round(least(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
               + round(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                    t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS DOUBLE)
                 / CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE), 6) * 0.3
               + (1.0 - least(round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE), 6) * 10, 1.0)) * 0.2,
               6) AS s
  FROM documents
),
sl AS (
  SELECT q.doc_id, q.s, CASE WHEN coalesce(g.y, false) THEN 1 ELSE 0 END AS y
  FROM q JOIN g USING (doc_id)
),
cells AS (
  SELECT s, CAST(count(*) AS BIGINT) AS t, CAST(sum(y) AS BIGINT) AS t_pos
  FROM sl GROUP BY 1
),
ranked AS (
  SELECT s, t, t_pos,
         COALESCE(CAST(sum(t - t_pos) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
  FROM cells
),
m AS (
  SELECT CAST(sum(t_pos) AS BIGINT) AS n_pos,
         CAST(sum(t) - sum(t_pos) AS BIGINT) AS n_neg,
         sum(CAST(t_pos AS HUGEINT)
             * (2 * CAST(cb AS HUGEINT) + CAST(t - t_pos AS HUGEINT))) AS u2
  FROM ranked
)
SELECT n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         round(CAST(u2 AS DOUBLE) / CAST(2.0 AS DOUBLE)
               / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) END AS auc,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         round(CAST(2.0 AS DOUBLE)
               * (CAST(u2 AS DOUBLE) / CAST(2.0 AS DOUBLE)
                  / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)))
               - CAST(1.0 AS DOUBLE), 6) END AS gini
FROM m

""",
    doc="ROC-AUC and accuracy-ratio Gini of the heuristic quality "
    "score against the Gopher rule gate (operators/quality.py:"
    "score_label_auc) — the ranking-power member of the classifier-"
    "eval battery: kappa (quality_gate_kappa) scores hard-gate "
    "agreement; AUC asks whether thresholding the SOFT score can "
    "ever reproduce the gate (0.5 = no signal). AUC IS Mann-Whitney "
    "probability of superiority — the drift tier's rank-sum "
    "machinery aimed at labels: 6dp scores bound the distinct-cell "
    "relation, average-rank tie handling in exact DECIMAL/HUGEINT, "
    "ONE division.",
)
def q_quality_score_auc(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = tx.gopher_quality_flags(docs).select("doc_id", "passes_gopher")
    q = tx.quality_features(docs, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    j = q.join(g, "doc_id")
    return dq.score_label_auc(j, "quality_score", F.col("passes_gopher"))


@_q(
    "quality_score_lift",
    r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS toks,
         string_split(text, chr(10)) AS lines,
         CAST(length(text) AS INT) AS n_chars,
         CAST(len(regexp_extract_all(text, '#')) AS INT)
           + CAST(len(regexp_extract_all(text, '(\.\.\.|…)')) AS INT) AS n_sym
  FROM documents
),
g AS (
  SELECT doc_id,
         (CAST(len(toks) AS INT) BETWEEN 50 AND 100000
          AND round(CAST(n_chars - (len(toks) - 1) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE), 6) BETWEEN 3.0 AND 10.0
          AND round(CAST(n_sym AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) <= 0.1
          AND round(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
                    / CAST(len(lines) AS DOUBLE), 6) <= 0.9
          AND round(CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
                    / CAST(len(lines) AS DOUBLE), 6) <= 0.3
          AND round(CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE), 6) >= 0.8
          AND CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS INT) >= 2
         ) AS y
  FROM base
),
q AS (
  SELECT doc_id,
         round(least(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
               + round(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                    t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS DOUBLE)
                 / CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE), 6) * 0.3
               + (1.0 - least(round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE), 6) * 10, 1.0)) * 0.2,
               6) AS s
  FROM documents
),
sl AS (
  SELECT q.doc_id, q.s, CASE WHEN coalesce(g.y, false) THEN 1 ELSE 0 END AS y
  FROM q JOIN g USING (doc_id)
),
ranked AS (
  SELECT doc_id, s, y,
         CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM sl
),
binned AS (
  SELECT CAST(FLOOR(CAST((rn - 1) * 10 AS DOUBLE) / CAST(n AS DOUBLE)) + 1 AS INT) AS decile, y
  FROM ranked
),
per AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(y) AS BIGINT) AS n_pos
  FROM binned GROUP BY 1
),
tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n, CAST(sum(n_pos) AS BIGINT) AS p FROM per),
j AS (
  SELECT per.decile, per.n_rows, per.n_pos, t.n, t.p,
         CAST(sum(per.n_pos) OVER (ORDER BY per.decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
  FROM per, tot t
)
SELECT decile, n_rows, n_pos,
       round(CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS pos_rate,
       CASE WHEN p > 0 THEN round(CAST(cum_pos AS DOUBLE) / CAST(p AS DOUBLE), 6) END AS cum_recall,
       CASE WHEN p > 0 THEN
         round((CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE))
               / (CAST(p AS DOUBLE) / CAST(n AS DOUBLE)), 6) END AS lift
FROM j ORDER BY decile

""",
    doc="Decile gains/lift table of the quality score against the "
    "Gopher gate (operators/quality.py:score_lift_table) — the "
    "operational companion to AUC: what a capacity-constrained "
    "curation queue gets (review the top decile, catch cum_recall "
    "of gate-passers at lift x the base rate). Deterministic "
    "deciles: (score desc, doc_id asc) total order, INTEGER "
    "floor((rn-1)*10/n)+1 bins — no float ntile; exact counts; "
    "fixed IEEE rates. The global row_number runs over the scored "
    "relation (swap in windows.scalable_ranks past single-window "
    "scale — the documented unbounded-order path).",
)
def q_quality_score_lift(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = tx.gopher_quality_flags(docs).select("doc_id", "passes_gopher")
    q = tx.quality_features(docs, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    j = q.join(g, "doc_id")
    return dq.score_lift_table(
        j, "doc_id", "quality_score", F.col("passes_gopher")
    )




def _oracle_of(name: str) -> str:
    return next(s.oracle for s in _REGISTRY if s.name == name)


@_q(
    "quality_score_lift_scalable",
    _oracle_of("quality_score_lift"),
    doc="quality_score_lift WITHOUT the global row_number window "
    "(operators/quality.py:score_lift_table_scalable over "
    "windows.scalable_unique_ranks): per-score hash-agg -> range "
    "partition -> local cumulative counts -> ONE bounded "
    "per-partition subtotal collect -> broadcast offsets -> small "
    "tie-group windows. The scale path score_lift_table's docstring "
    "promises, shipped as a registry row that SHARES the baseline's "
    "oracle verbatim — every sweep proves the two plans produce the "
    "identical gains table, the order_price_rank_scalable pattern "
    "applied to the classifier-eval tier.",
)
def q_quality_score_lift_scalable(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = tx.gopher_quality_flags(docs).select("doc_id", "passes_gopher")
    q = tx.quality_features(docs, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    j = q.join(g, "doc_id")
    return dq.score_lift_table_scalable(
        j, "doc_id", "quality_score", F.col("passes_gopher")
    )


@_q(
    "event_value_wasserstein",
    """
WITH cells AS (
  SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS BIGINT) AS tb
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT v,
         CAST(sum(ta) OVER w AS BIGINT) AS ca,
         CAST(sum(tb) OVER w AS BIGINT) AS cb,
         lead(v) OVER (ORDER BY v) AS nxt
  FROM cells
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
  SELECT CAST(sum(ta) AS BIGINT) AS n_a, CAST(sum(tb) AS BIGINT) AS n_b
  FROM cells
),
s AS (
  SELECT coalesce(sum(abs(CAST(c.ca AS HUGEINT) * t.n_b
                          - CAST(c.cb AS HUGEINT) * t.n_a)
                      * CAST(c.nxt - c.v AS HUGEINT)),
                  0) AS sw
  FROM cum c, tot t WHERE c.nxt IS NOT NULL
)
SELECT n_a, n_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         round(CAST(sw AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * 100.0), 6) END
         AS w1
FROM tot, s
""",
    doc="1-D Wasserstein-1 (earth-mover) distance early-vs-late "
    "(operators/timeseries.py:wasserstein_drift) — the MAGNITUDE "
    "member completing the drift battery: KS caps the CDF gap but a "
    "1-cent and a 100-dollar global shift can share a D; W1 is the "
    "average distance mass moved, in value units, via the 1-D "
    "closed form (integral of |F_a - F_b| over the cents domain — "
    "no LP). Exact integer cell terms |cum_a*n_b - cum_b*n_a| * gap "
    "DECIMAL-summed over the domain-bounded cells; ONE double "
    "division.",
)
def q_event_value_wasserstein(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ts_ops.wasserstein_drift(ev, "ts", "value", "2024-01-16")



@_q(
    "event_drift_report",
    "WITH p AS (" + _oracle_of("event_value_psi") + "),\n"
    "r AS (" + _oracle_of("event_value_ranksum_drift") + "),\n"
    "k AS (" + _oracle_of("event_value_ks_drift") + "),\n"
    "c AS (" + _oracle_of("event_value_cohens_d") + "),\n"
    "wd AS (" + _oracle_of("event_value_wasserstein") + ")\n"
    "SELECT p.n_a, p.n_b, p.psi, k.d AS ks_d, k.d_crit AS ks_crit,\n"
    "       r.auc, r.z, c.cohens_d, wd.w1\n"
    "FROM p, r, k, c, wd",
    doc="One-row drift dashboard composing the full battery over the "
    "same early/late split: PSI (monitored number), KS D + critical "
    "value (bin-free any-shape test), rank-sum AUC + z "
    "(distribution-free effect size + significance), Cohen's d "
    "(parametric effect size), Wasserstein-1 (transport magnitude in "
    "value units) — the single pane a data-drift monitor alerts on, "
    "in the corpus_health_report composition style. Each member is "
    "the EXACT green registry operator (the oracle is built from "
    "their oracle strings verbatim — consistency by construction); "
    "the composition is five 1-row broadcast aggregates cross-joined "
    "(auditor-exempt), each independently scan-bound.",
)
def q_event_drift_report(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    cutoff = "2024-01-16"
    psi = ts_ops.psi_drift(ev, "ts", "value", cutoff).select(
        "n_a", "n_b", "psi"
    )
    rs = ts_ops.ranksum_drift(ev, "ts", "value", cutoff).select(
        "auc", "z"
    )
    ks = ts_ops.ks_drift(ev, "ts", "value", cutoff).select(
        F.col("d").alias("ks_d"), F.col("d_crit").alias("ks_crit")
    )
    cd = ts_ops.cohens_d_drift(ev, "ts", "value", cutoff).select(
        "cohens_d"
    )
    wd = ts_ops.wasserstein_drift(ev, "ts", "value", cutoff).select("w1")
    return (
        psi.crossJoin(F.broadcast(rs))
        .crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(cd))
        .crossJoin(F.broadcast(wd))
        .select(
            "n_a", "n_b", "psi", "ks_d", "ks_crit", "auc", "z",
            "cohens_d", "w1",
        )
    )


# The calibration pair reuses the AUC oracle's base/g/q/sl fragments
# VERBATIM (sliced from the green row, like event_drift_report's
# composition) — the score/gate definitions stay consistent by
# construction.
_SL_PREFIX = _oracle_of("quality_score_auc").split("cells AS (")[0]

_KK_CTE = """kk AS (
  SELECT CAST(round(s * 1000000.0) AS BIGINT) AS k, y FROM sl
),
b AS (
  SELECT CAST(least(CAST(floor(CAST(k AS DOUBLE) / 100000.0) AS INT), 9)
              + 1 AS INT) AS bin, k, y
  FROM kk
),
per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(y) AS BIGINT) AS n_pos,
         sum(CAST(k AS HUGEINT)) AS sk,
         sum(CAST(k AS HUGEINT) * CAST(k AS HUGEINT)) AS sk2,
         sum(CAST(k * y AS HUGEINT)) AS sky
  FROM b GROUP BY 1
)"""


@_q(
    "quality_score_calibration",
    _SL_PREFIX + _KK_CTE + """
SELECT bin, n_rows, n_pos,
       round(CAST(sk AS DOUBLE) / (CAST(n_rows AS DOUBLE) * 1000000.0), 6)
         AS mean_score,
       round(CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS pos_rate,
       round(CAST(sk - 1000000 * CAST(n_pos AS HUGEINT) AS DOUBLE)
             / (CAST(n_rows AS DOUBLE) * 1000000.0), 6) AS gap
FROM per ORDER BY bin
""",
    doc="Reliability (calibration) table of the heuristic quality "
    "score against the Gopher gate over 10 fixed-width score bins "
    "(operators/quality.py:score_calibration_table) — the third "
    "member of the classifier-eval battery: AUC measures ranking "
    "power, lift measures capacity-constrained yield, calibration "
    "asks whether the score's VALUE means what it says (needed "
    "before the score can serve as a sampling weight). k=round(s*1e6)"
    " exact integer bins; DECIMAL(38,0) per-bin sums; every rate ONE "
    "double division of exact integers.",
)
def q_quality_score_calibration(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = tx.gopher_quality_flags(docs).select("doc_id", "passes_gopher")
    q = tx.quality_features(docs, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    j = q.join(g, "doc_id")
    return dq.score_calibration_table(
        j, "quality_score", F.col("passes_gopher")
    )


@_q(
    "quality_score_brier",
    _SL_PREFIX + _KK_CTE + """,
m AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS n,
         CAST(sum(n_pos) AS BIGINT) AS n_pos,
         sum(sk2) - 2000000 * sum(sky)
           + 1000000000000 * sum(CAST(n_pos AS HUGEINT)) AS sd2,
         sum(abs(sk - 1000000 * CAST(n_pos AS HUGEINT))) AS enum_
  FROM per
)
SELECT n, n_pos,
       round(CAST(sd2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0), 6)
         AS brier,
       CASE WHEN n_pos > 0 AND n_pos < n THEN
         round(1.0 - (CAST(sd2 AS DOUBLE)
                      / (CAST(n AS DOUBLE) * 1000000000000.0))
               / (CAST(CAST(n_pos AS HUGEINT)
                       * CAST(n - n_pos AS HUGEINT) AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) END
         AS brier_skill,
       round(CAST(enum_ AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6)
         AS ece
FROM m
""",
    doc="Brier score + Brier skill vs the base-rate forecast + "
    "expected calibration error of the quality score against the "
    "Gopher gate (operators/quality.py:score_brier) — the one-row "
    "proper-scoring-rule summary over the calibration table's bins. "
    "ONE combinable pass: the Brier numerator expands to "
    "sum k^2 - 2e6*sum(k*y) + 1e12*sum(y) and the ECE numerator "
    "telescopes to sum_b |sk_b - 1e6*pos_b|, so every output folds "
    "from the same per-bin DECIMAL(38,0) integer sums (the naive "
    "two-aggregate form re-parsed the corpus twice — measured 2x at "
    "25x docs); each output is ONE double division.",
)
def q_quality_score_brier(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = tx.gopher_quality_flags(docs).select("doc_id", "passes_gopher")
    q = tx.quality_features(docs, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    j = q.join(g, "doc_id")
    return dq.score_brier(j, "quality_score", F.col("passes_gopher"))


@_q(
    "customer_golden_records",
    """
WITH RECURSIVE rn AS (
  SELECT c_custkey AS id, c_name AS nm,
         row_number() OVER (ORDER BY c_name, c_custkey) AS rn
  FROM customer
),
cand AS (
  SELECT least(a.id, b.id) AS doc_a, greatest(a.id, b.id) AS doc_b
  FROM rn a JOIN rn b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
),
pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM cand p
  JOIN customer ca ON p.doc_a = ca.c_custkey
  JOIN customer cb ON p.doc_b = cb.c_custkey
  WHERE levenshtein(ca.c_name, cb.c_name) <= 2
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(node, label) AS (
  SELECT c_custkey, c_custkey FROM customer
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
),
comp AS (SELECT node, CAST(min(label) AS BIGINT) AS cluster FROM walk GROUP BY node),
mem AS (
  SELECT c.*, comp.cluster FROM customer c
  JOIN comp ON c.c_custkey = comp.node
),
rep AS (
  SELECT cluster, c_custkey, c_name, c_nationkey,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS r
  FROM mem
),
seg AS (
  SELECT cluster, c_mktsegment,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY count(*) DESC, c_mktsegment ASC) AS r
  FROM mem GROUP BY cluster, c_mktsegment
),
agg AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
         round(max(c_acctbal), 2) AS max_acctbal,
         CAST(sum(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM mem GROUP BY 1
)
SELECT a.cluster AS cluster_id, a.n_members,
       r.c_custkey AS rep_custkey, r.c_name AS rep_name,
       CAST(r.c_nationkey AS INT) AS rep_nationkey,
       s.c_mktsegment AS top_segment,
       a.max_acctbal,
       round(CAST(a.cents AS DOUBLE) / 100.0, 2) AS total_acctbal
FROM agg a
JOIN rep r ON r.cluster = a.cluster AND r.r = 1
JOIN seg s ON s.cluster = a.cluster AND s.r = 1
ORDER BY cluster_id
""",
    doc="Golden-record survivorship - the END stage of the ER "
    "pipeline the tier was missing: blocking (sorted-neighborhood, "
    "customer_name_edit_pairs), pairwise verification (Levenshtein "
    "<= 2), transitive clustering (operators/graph.py:"
    "connected_components - union-find on the driver while the pair "
    "graph fits the broadcast threshold; the oracle replays it as the "
    "recursive min-label walk, the dedup_clusters_star pattern), "
    "then ATTRIBUTE-level survivorship per entity: representative "
    "by max account balance (tie: min key) contributes name and "
    "nation (recency/value proxy), mode market segment with a "
    "(count desc, value asc) deterministic tie-break (consensus "
    "rule), exact cents-summed total balance (merge rule). All "
    "rules are window/aggregate picks - no mode()/struct-min "
    "engine ambiguity; singletons are their own golden record.",
)
def q_customer_golden_records(spark, sf_dir):
    return _golden_records(_t(spark, sf_dir, "customer"))


def _golden_records(c):
    from pyspark.sql import Window

    pairs = dd.edit_distance_verify(
        dd.sorted_neighborhood_pairs(
            c, "c_custkey", F.col("c_name"), window=3
        ).select("doc_a", "doc_b"),
        c,
        "c_custkey",
        "c_name",
        2,
    ).select("doc_a", "doc_b")
    comp = graph.connected_components(pairs, "doc_a", "doc_b")
    mem = c.join(
        comp.withColumnRenamed("node", "c_custkey"), "c_custkey", "left"
    ).withColumn(
        "cluster",
        F.coalesce("cluster", F.col("c_custkey")).cast("long"),
    )
    # The cluster-map relation is consumed by THREE survivorship arms
    # (representative window, mode segment, merge aggregate); without a
    # persist each arm re-derives the blocking+verify+CC subtree —
    # measured 550 joins / 224 exchanges in the round-10 plan audit
    # (the round-9 Brier / round-10 lift-table lesson again).
    from ..session import track_persist

    mem = track_persist(mem)
    w_rep = Window.partitionBy("cluster").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    rep = (
        mem.withColumn("r", F.row_number().over(w_rep))
        .where(F.col("r") == 1)
        .select(
            "cluster",
            F.col("c_custkey").alias("rep_custkey"),
            F.col("c_name").alias("rep_name"),
            F.col("c_nationkey").cast("int").alias("rep_nationkey"),
        )
    )
    segc = mem.groupBy("cluster", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_seg = Window.partitionBy("cluster").orderBy(
        F.desc("__n"), F.asc("c_mktsegment")
    )
    seg = (
        segc.withColumn("r", F.row_number().over(w_seg))
        .where(F.col("r") == 1)
        .select("cluster", F.col("c_mktsegment").alias("top_segment"))
    )
    agg = mem.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
        F.sum(
            F.floor(
                F.col("c_acctbal").cast("double") * F.lit(100.0)
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("cents"),
    )
    return (
        agg.join(rep, "cluster")
        .join(seg, "cluster")
        .select(
            F.col("cluster").alias("cluster_id"),
            "n_members",
            "rep_custkey",
            "rep_name",
            "rep_nationkey",
            "top_segment",
            "max_acctbal",
            F.round(F.col("cents").cast("double") / F.lit(100.0), 2).alias(
                "total_acctbal"
            ),
        )
        .orderBy("cluster_id")
    )


@_q(
    "event_type_wasserstein_scan",
    """
WITH cells AS (
  SELECT event_type AS g,
         CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS BIGINT) AS tb
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT g, v,
         CAST(sum(ta) OVER w AS BIGINT) AS ca,
         CAST(sum(tb) OVER w AS BIGINT) AS cb,
         lead(v) OVER (PARTITION BY g ORDER BY v) AS nxt
  FROM cells
  WINDOW w AS (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
  SELECT g, CAST(sum(ta) AS BIGINT) AS n_a, CAST(sum(tb) AS BIGINT) AS n_b
  FROM cells GROUP BY 1
),
per AS (
  SELECT c.g,
         sum(abs(CAST(c.ca AS HUGEINT) * t.n_b
                 - CAST(c.cb AS HUGEINT) * t.n_a)
             * CAST(c.nxt - c.v AS HUGEINT)) AS sw
  FROM cum c JOIN tot t ON c.g = t.g
  WHERE c.nxt IS NOT NULL GROUP BY 1
)
SELECT t.g AS event_type, t.n_a, t.n_b,
       CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
         round(CAST(coalesce(p.sw, 0) AS DOUBLE)
               / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE) * 100.0), 6)
       END AS w1
FROM tot t LEFT JOIN per p ON t.g = p.g
ORDER BY event_type
""",
    doc="Per-event-type Wasserstein-1 triage scan "
    "(operators/timeseries.py:wasserstein_drift with group_col) — the "
    "magnitude column beside event_type_ranksum_scan: rank-sum ranks types by "
    "shift SIGNIFICANCE, W1 by what the shift COSTS (value units "
    "moved per row) — remediation priority. Every window is "
    "PARTITIONED by type (cells bounded by types x cents domain; no "
    "single-partition stage anywhere); per-type transport sums are "
    "exact DECIMAL integers, ONE double division per type.",
)
def q_event_type_wasserstein_scan(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ts_ops.wasserstein_drift(
        ev, "ts", "value", "2024-01-16", group_col="event_type"
    )


@_q(
    "supplier_bfs_hops",
    "WITH RECURSIVE " + KNN_EDGES_CTE + """,
sym AS (SELECT a AS u, b AS v FROM und UNION SELECT b, a FROM und),
deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
s AS (
  SELECT u AS src FROM (
    SELECT u, row_number() OVER (ORDER BY deg DESC, u ASC) AS r FROM deg
  ) WHERE r = 1
),
walk(node, hop) AS (
  SELECT src, 0 FROM s
  UNION
  SELECT e.v, w.hop + 1 FROM walk w JOIN sym e ON e.u = w.node
  WHERE w.hop < 8
),
dist AS (SELECT node, CAST(min(hop) AS INT) AS hop FROM walk GROUP BY 1),
hist AS (
  SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes FROM dist GROUP BY 1
),
un AS (
  SELECT CAST(-1 AS INT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes
  FROM (SELECT DISTINCT u FROM sym) n LEFT JOIN dist d ON n.u = d.node
  WHERE d.node IS NULL HAVING count(*) > 0
)
SELECT hop, n_nodes FROM hist
UNION ALL
SELECT hop, n_nodes FROM un
ORDER BY hop
""",
    doc="BFS hop-distance histogram from the co-supply graph's "
    "max-degree supplier (operators/graph.py:bfs_hops) — the "
    "traversal primitive beside PageRank/k-core/triangles: the hop "
    "profile is the empirical reach/diameter read that tells you how "
    "many rounds iterative algorithms on this graph need. Level-"
    "synchronous frontier expansion with a fixed 8-round anytime "
    "contract, hop -1 = unreached: on the driver after one bounded "
    "collect when the edge list fits under the broadcast threshold, "
    "else (also for float ids or a threshold of -1) one keyed join + "
    "settled-set anti-join per round, lazy per-round checkpoints "
    "materialized by the emptiness count. The oracle replays it as "
    "the hop-bounded recursive min-label walk.",
)
def q_supplier_bfs_hops(spark, sf_dir):
    return graph.bfs_hops(
        _supplier_knn_edges(spark, sf_dir), src="a", dst="b", rounds=8
    )


@_q(
    "prefix_dim_fidelity",
    f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20
),
sf AS (
  SELECT q.qid, e.vec_id,
         round({cosine_sql('e.embedding', 'q.qv', 64)}, 6) AS score
  FROM embeddings e, q
),
tf AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, vec_id) AS rn
    FROM sf
  ) WHERE rn <= 10
),
sh AS (
  SELECT q.qid, e.vec_id,
         round({cosine_sql('e.embedding', 'q.qv', 32)}, 6) AS score
  FROM embeddings e, q
),
th AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, vec_id) AS rn
    FROM sh
  ) WHERE rn <= 10
),
ov AS (
  SELECT t.qid, CAST(count(*) AS BIGINT) AS n_overlap
  FROM tf t JOIN th h ON t.qid = h.qid AND t.vec_id = h.vec_id
  GROUP BY 1
)
SELECT q.qid, CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / 10.0, 6)
         AS overlap_at_10
FROM q LEFT JOIN ov o ON q.qid = o.qid
ORDER BY q.qid
""",
    doc="Prefix-dimension fidelity eval (the Matryoshka/MRL "
    "question): per query, the overlap@10 between exact top-10 by "
    "full 64-dim cosine and top-10 by the FIRST-32-dims cosine — "
    "measures whether serving can run coarse retrieval on a prefix "
    "slice (half the bytes, half the FLOPs) before full-dim rerank, "
    "the standard two-stage stack. Both arms are "
    "similarity.cosine_topk_batch (broadcast query set, one corpus "
    "scan each, per-qid top-k windows); the prefix arm is F.slice — "
    "same JVM fold order as the oracle's generate_series(1, 32). "
    "Self-match included in both arms (rank-1 cos=1, cancels in the "
    "comparison).",
)
def q_prefix_dim_fidelity(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    full = sim.cosine_topk_batch(emb, qs, k=10)
    halfc = emb.select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding")
    )
    halfq = qs.select("qid", F.slice("qv", 1, 32).alias("qv"))
    pre = sim.cosine_topk_batch(halfc, halfq, k=10)
    ov = (
        full.select("qid", "vec_id")
        .join(pre.select("qid", "vec_id"), ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        qs.select("qid")
        .join(ov, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias(
                "n_overlap"
            ),
            F.round(
                F.coalesce("n_overlap", F.lit(0)).cast("double")
                / F.lit(10.0),
                6,
            ).alias("overlap_at_10"),
        )
        .orderBy("qid")
    )


@_q(
    "quantile_sketch_error",
    "WITH e AS (" + _oracle_of("price_histogram_quantiles") + """),
cells AS (
  SELECT o_orderpriority AS prio,
         CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
),
c AS (
  SELECT prio, v,
         CAST(sum(cnt) OVER (PARTITION BY prio ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY prio) AS BIGINT) AS n
  FROM cells
),
x AS (SELECT c.*, CAST(q AS DOUBLE) AS q
      FROM c, (VALUES (0.25), (0.5), (0.9), (0.99)) AS qs(q)),
ex AS (
  SELECT prio, q, round(CAST(min(v) AS DOUBLE) / 100.0, 6) AS exact_q
  FROM x WHERE cum >= CAST(ceil(q * n) AS BIGINT) GROUP BY 1, 2
)
SELECT e.prio, e.q, e.quantile_est, ex.exact_q,
       round(abs(e.quantile_est - ex.exact_q), 6) AS abs_err,
       (round(abs(e.quantile_est - ex.exact_q), 6) <= 5000.0)
         AS within_bucket
FROM e JOIN ex ON e.prio = ex.prio AND e.q = ex.q
ORDER BY e.prio, e.q
""",
    doc="Accuracy eval for the histogram-quantile sketch "
    "(operators/aggregates.py:quantile_sketch_error) — the "
    "recall-eval pattern applied to the sketch tier's quantile "
    "member: per (priority, q), the mergeable-histogram estimate "
    "next to the EXACT type-1 order statistic (bounded cents-cell "
    "CDF, rank ceil(q*n), min-over-threshold), the absolute error, "
    "and the within-bucket flag the width-5000 error bound "
    "promises — the post-merge invariant a monitoring pipeline "
    "checks. Estimate arm reuses the green operator and its oracle "
    "verbatim.",
)
def q_quantile_sketch_error(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"), "o_totalprice"
    )
    return agg.quantile_sketch_error(
        o, ["prio"], "o_totalprice", width=5000.0,
        quantiles=[0.25, 0.5, 0.9, 0.99],
    )


@_q(
    "split_leakage_audit",
    "WITH RECURSIVE naive AS (" + _oracle_of("split_assignments") + "),\n"
    "safe AS (SELECT doc_id, split FROM (" + _oracle_of("leakage_safe_splits")
    + ") s0),\n"
    "mp AS (SELECT doc_a, doc_b FROM ("
    + _oracle_of("dedup_minhash_pairs") + """) z),
b AS (
  SELECT s.strategy, s.doc_id, s.split,
         CASE s.split WHEN 'train' THEN 1 WHEN 'val' THEN 2 ELSE 3 END AS rk
  FROM (
    SELECT 'naive_hash' AS strategy, doc_id, split FROM naive
    UNION ALL
    SELECT 'cluster_keyed' AS strategy, doc_id, split FROM safe
  ) s
),
x AS (
  SELECT a.strategy,
         CASE WHEN a.rk < c.rk THEN a.split ELSE c.split END AS split_a,
         CASE WHEN a.rk < c.rk THEN c.split ELSE a.split END AS split_b,
         CASE WHEN a.rk < c.rk THEN m.doc_b ELSE m.doc_a END AS leaked_doc
  FROM mp m
  JOIN b a ON a.doc_id = m.doc_a
  JOIN b c ON c.strategy = a.strategy AND c.doc_id = m.doc_b
  WHERE a.rk <> c.rk
),
agg AS (
  SELECT strategy, split_a, split_b,
         CAST(count(*) AS BIGINT) AS leaking_pairs,
         CAST(count(DISTINCT leaked_doc) AS BIGINT) AS leaked_docs
  FROM x GROUP BY 1, 2, 3
),
spine AS (
  SELECT s.strategy, p.split_a, p.split_b
  FROM (VALUES ('naive_hash'), ('cluster_keyed')) AS s(strategy),
       (VALUES ('train', 'val'), ('train', 'test'), ('val', 'test'))
         AS p(split_a, split_b)
)
SELECT sp.strategy, sp.split_a, sp.split_b,
       CAST(coalesce(a.leaking_pairs, 0) AS BIGINT) AS leaking_pairs,
       CAST(coalesce(a.leaked_docs, 0) AS BIGINT) AS leaked_docs
FROM spine sp
LEFT JOIN agg a
  ON sp.strategy = a.strategy AND sp.split_a = a.split_a
 AND sp.split_b = a.split_b
ORDER BY sp.strategy, sp.split_a, sp.split_b
""",
    doc="Split-leakage audit over the full strategy x split-pair "
    "spine: verified near-duplicate pairs (the minhash relation, "
    "jaccard >= 0.8) whose endpoints land in DIFFERENT splits, and "
    "the distinct later-split docs leaked — for BOTH strategies "
    "(naive per-doc hash split vs cluster-keyed "
    "leakage_safe_splits). The demonstration the splits tier "
    "needed: the naive split leaks a predictable ~2*p*(1-p) share "
    "of near-dup pairs across splits (eval contamination); the "
    "cluster-keyed split reports ZERO on every pair by construction "
    "(pair endpoints share a cluster, a cluster gets one split). "
    "Every member reuses the green operator/oracle verbatim "
    "(composition via _oracle_of).",
)
def q_split_leakage_audit(spark, sf_dir):
    from ..operators import packing as pk

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=12, bands=4, threshold=0.8
    ).select("doc_a", "doc_b")
    naive = pk.split_assign(docs).select("doc_id", "split")
    safe = pk.split_assign(
        graph.dedup_clusters(docs, pairs), key_col="cluster_id"
    ).select("doc_id", "split")
    rk = lambda c: (  # noqa: E731
        F.when(c == "train", 1).when(c == "val", 2).otherwise(3)
    )
    b = naive.withColumn("strategy", F.lit("naive_hash")).unionByName(
        safe.withColumn("strategy", F.lit("cluster_keyed"))
    ).withColumn("rk", rk(F.col("split")))
    a = b.select(
        "strategy",
        F.col("doc_id").alias("doc_a"),
        F.col("split").alias("sa"),
        F.col("rk").alias("ra"),
    )
    c = b.select(
        "strategy",
        F.col("doc_id").alias("doc_b"),
        F.col("split").alias("sb"),
        F.col("rk").alias("rb"),
    )
    x = (
        pairs.join(a, "doc_a")
        .join(c, ["strategy", "doc_b"])
        .where(F.col("ra") != F.col("rb"))
        .select(
            "strategy",
            F.when(F.col("ra") < F.col("rb"), F.col("sa"))
            .otherwise(F.col("sb"))
            .alias("split_a"),
            F.when(F.col("ra") < F.col("rb"), F.col("sb"))
            .otherwise(F.col("sa"))
            .alias("split_b"),
            F.when(F.col("ra") < F.col("rb"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("leaked_doc"),
        )
    )
    agg_x = x.groupBy("strategy", "split_a", "split_b").agg(
        F.count(F.lit(1)).cast("long").alias("leaking_pairs"),
        F.countDistinct("leaked_doc").cast("long").alias("leaked_docs"),
    )
    spine = spark.createDataFrame(
        [
            (s, p[0], p[1])
            for s in ("naive_hash", "cluster_keyed")
            for p in (("train", "val"), ("train", "test"), ("val", "test"))
        ],
        "strategy string, split_a string, split_b string",
    )
    return (
        spine.join(agg_x, ["strategy", "split_a", "split_b"], "left")
        .select(
            "strategy",
            "split_a",
            "split_b",
            F.coalesce("leaking_pairs", F.lit(0)).cast("long").alias(
                "leaking_pairs"
            ),
            F.coalesce("leaked_docs", F.lit(0)).cast("long").alias(
                "leaked_docs"
            ),
        )
        .orderBy("strategy", "split_a", "split_b")
    )


@_q(
    "fd_discovery_audit",
    """
SELECT * FROM (
SELECT 'orders' AS tbl, 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_lhs,
       CAST(sum(d) - count(*) AS BIGINT) AS surplus_rhs,
       (sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0) AS holds
FROM (SELECT o_orderkey AS k, count(DISTINCT o_custkey) AS d
      FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1) g
UNION ALL
SELECT 'orders' AS tbl, 'o_custkey' AS lhs, 'o_orderpriority' AS rhs,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_lhs,
       CAST(sum(d) - count(*) AS BIGINT) AS surplus_rhs,
       (sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0) AS holds
FROM (SELECT o_custkey AS k, count(DISTINCT o_orderpriority) AS d
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1) g
UNION ALL
SELECT 'orders' AS tbl, 'o_orderdate' AS lhs, 'o_orderstatus' AS rhs,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_lhs,
       CAST(sum(d) - count(*) AS BIGINT) AS surplus_rhs,
       (sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0) AS holds
FROM (SELECT o_orderdate AS k, count(DISTINCT o_orderstatus) AS d
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1) g
UNION ALL
SELECT 'part' AS tbl, 'p_partkey' AS lhs, 'p_brand' AS rhs,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_lhs,
       CAST(sum(d) - count(*) AS BIGINT) AS surplus_rhs,
       (sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0) AS holds
FROM (SELECT p_partkey AS k, count(DISTINCT p_brand) AS d
      FROM part WHERE p_partkey IS NOT NULL GROUP BY 1) g
UNION ALL
SELECT 'part' AS tbl, 'p_name' AS lhs, 'p_brand' AS rhs,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_lhs,
       CAST(sum(d) - count(*) AS BIGINT) AS surplus_rhs,
       (sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0) AS holds
FROM (SELECT p_name AS k, count(DISTINCT p_brand) AS d
      FROM part WHERE p_name IS NOT NULL GROUP BY 1) g
UNION ALL
SELECT 'part' AS tbl, 'p_brand' AS lhs, 'p_type' AS rhs,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_lhs,
       CAST(sum(d) - count(*) AS BIGINT) AS surplus_rhs,
       (sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0) AS holds
FROM (SELECT p_brand AS k, count(DISTINCT p_type) AS d
      FROM part WHERE p_brand IS NOT NULL GROUP BY 1) g
) u ORDER BY tbl, lhs, rhs
""",
    doc="Functional-dependency audit (operators/quality.py:fd_audit) "
    "over six candidate determinant->dependent pairs in orders/part "
    "— the schema-profiling member next to column_profile and "
    "k_anonymity_audit: a HOLDING FD certifies join safety (joining "
    "on lhs cannot fan out rhs) and flags normalization/candidate-"
    "key structure; a near-FD's violating_lhs + surplus_rhs counts "
    "are the data-quality signal (dirty dimension rows, ER "
    "candidates). One combinable groupBy(lhs)->count_distinct(rhs) "
    "pass per pair, each scan pruned to exactly two columns; the "
    "six 1-row folds union.",
)
def q_fd_discovery_audit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    a = dq.fd_audit(
        o,
        "orders",
        [
            ("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderpriority"),
            ("o_orderdate", "o_orderstatus"),
        ],
    )
    b = dq.fd_audit(
        p,
        "part",
        [
            ("p_partkey", "p_brand"),
            ("p_name", "p_brand"),
            ("p_brand", "p_type"),
        ],
    )
    return a.unionByName(b).orderBy("tbl", "lhs", "rhs")


@_q(
    "heavy_hitter_error_report",
    "WITH e AS (" + _oracle_of("cms_heavy_user_hitters") + """),
ex AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
tk AS (
  SELECT user_id FROM (
    SELECT user_id,
           row_number() OVER (ORDER BY exact_cnt DESC, user_id ASC) AS rn
    FROM ex
  ) WHERE rn <= 20
)
SELECT e.user_id, CAST(e.est_cnt AS BIGINT) AS est_cnt, x.exact_cnt,
       CAST(e.est_cnt - x.exact_cnt AS BIGINT) AS overcount,
       (t.user_id IS NOT NULL) AS in_exact_topk
FROM e
JOIN ex x ON e.user_id = x.user_id
LEFT JOIN tk t ON e.user_id = t.user_id
ORDER BY est_cnt DESC, e.user_id ASC
""",
    doc="Accuracy eval for the Count-Min heavy hitters "
    "(the recall-eval pattern applied to the counting sketch, next "
    "to quantile_sketch_error and kmv's rel_err): the CMS top-20 "
    "joined to exact per-user counts — overcount = est - exact is "
    "NON-NEGATIVE by the CMS one-sided-error guarantee (min over "
    "rows of counters that only ever add; pinned in the test), and "
    "in_exact_topk flags rank agreement with the exact top-20 "
    "(collision-inflated tail entries are the miss mode). Estimate "
    "arm and its oracle reused verbatim from the green row.",
)
def q_heavy_hitter_error_report(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    est = agg.cms_heavy_hitters(ev, "user_id", depth=4, width=512, k=20)
    ex = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    )
    w = Window.orderBy(F.desc("exact_cnt"), F.asc("user_id"))
    tk = (
        ex.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("user_id", F.lit(True).alias("__in"))
    )
    return (
        est.join(ex, "user_id")
        .join(tk, "user_id", "left")
        .select(
            "user_id",
            F.col("est_cnt").cast("long").alias("est_cnt"),
            "exact_cnt",
            (F.col("est_cnt") - F.col("exact_cnt"))
            .cast("long")
            .alias("overcount"),
            F.coalesce("__in", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy(F.desc("est_cnt"), F.asc("user_id"))
    )


@_q(
    "hll_error_report",
    "WITH e AS (" + _oracle_of("hll_users_by_event_type") + """),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT e.event_type, e.approx_users, x.exact_users,
       round(abs(e.approx_users - CAST(x.exact_users AS DOUBLE))
             / CAST(x.exact_users AS DOUBLE), 6) AS rel_err
FROM e JOIN ex x ON e.event_type = x.event_type
ORDER BY e.event_type
""",
    doc="Accuracy eval for the grouped deterministic HLL — the last "
    "sketch without one (KMV carries rel_err, the histogram its "
    "within-bucket bound, CMS its one-sided overcount): per "
    "event_type, the md5-register HLL estimate next to the exact "
    "distinct-user count and the relative error. m=64 registers -> "
    "~13% standard error ONCE n >> m; the raw harmonic estimator "
    "(deliberately no linear-counting branch — determinism over "
    "small-range accuracy) drifts far beyond that when n ~ m, and "
    "this eval is what QUANTIFIES that regime boundary per group "
    "(sf0.001 shows it; sf0.01 settles near the SE) — plus the "
    "post-merge sanity check the streaming HLL sink state needs. "
    "Estimate arm and oracle reused verbatim from the green "
    "grouped-HLL row.",
)
def q_hll_error_report(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    est = agg.hll_distinct(ev, "user_id", m=64, by=["event_type"])
    ex = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    )
    return (
        est.join(ex, "event_type")
        .select(
            "event_type",
            "approx_users",
            "exact_users",
            F.round(
                F.abs(
                    F.col("approx_users")
                    - F.col("exact_users").cast("double")
                )
                / F.col("exact_users").cast("double"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


@_q(
    "hybrid_rrf_ranking",
    "WITH lexs AS (" + _oracle_of("bm25_doc_scores") + """),
lex AS (
  SELECT doc_id, CAST(rn AS INT) AS lex_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rn
    FROM lexs
  ) WHERE rn <= 100
),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sems AS (
  SELECT e.vec_id AS doc_id,
         round(""" + cosine_sql('e.embedding', 'q.qv', _EMB_DIM) + """, 6)
           AS score
  FROM embeddings e, qv q
),
sem AS (
  SELECT doc_id, CAST(rn AS INT) AS sem_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
    FROM sems
  ) WHERE rn <= 100
),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         l.lex_rank, s.sem_rank,
         round(coalesce(1.0 / (60.0 + CAST(l.lex_rank AS DOUBLE)), 0.0)
               + coalesce(1.0 / (60.0 + CAST(s.sem_rank AS DOUBLE)), 0.0),
               6) AS rrf
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf FROM (
  SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rn
  FROM fused
) WHERE rn <= 20
ORDER BY rrf DESC, doc_id ASC
""",
    doc="Hybrid-search serving: reciprocal-rank fusion (Cormack et "
    "al. 2009, k=60) of the lexical arm (BM25 over the fixed term "
    "query, bm25_doc_scores verbatim) and the semantic arm (cosine "
    "of each doc's embedding against the vec_id-0 query vector, the "
    "ann_topk machinery) — the standard two-retriever stack fused "
    "WITHOUT score normalization (RRF uses only ranks, immune to "
    "incomparable score scales). Each arm is a top-100 candidate "
    "list (rank from the 6dp-rounded score, id tie-break), fused by "
    "1/(60+r) sums over a FULL outer join (single-arm docs keep "
    "their one term); top-20 output. Ranks are per-arm windows over "
    "candidate lists, never the corpus.",
)
def q_hybrid_rrf_ranking(spark, sf_dir):
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lexs = tx.bm25_scores(docs, "doc_id", "text", _BM25_TERMS)
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = (
        lexs.withColumn("rn", F.row_number().over(wl))
        .where(F.col("rn") <= 100)
        .select("doc_id", F.col("rn").cast("int").alias("lex_rank"))
    )
    emb, qv = _empty_if_no_query(emb, _query_vec(spark, sf_dir))
    sems = sim.cosine_topk(emb, qv, k=100).select(
        F.col("vec_id").alias("doc_id"), "score"
    )
    ws = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    sem = (
        sems.withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") <= 100)
        .select("doc_id", F.col("rn").cast("int").alias("sem_rank"))
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round(
                F.coalesce(
                    F.lit(1.0)
                    / (F.lit(60.0) + F.col("lex_rank").cast("double")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0)
                    / (F.lit(60.0) + F.col("sem_rank").cast("double")),
                    F.lit(0.0),
                ),
                6,
            ).alias("rrf"),
        )
    )
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") <= 20)
        .select("doc_id", "lex_rank", "sem_rank", "rrf")
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
    )


@_q(
    "ann_prefilter_vs_postfilter",
    f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.qid, q.qlabel, e.vec_id, e.label,
         round({cosine_sql('e.embedding', 'q.qv', _EMB_DIM)}, 6) AS score
  FROM embeddings e, q
),
pre AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, vec_id ASC) AS rn
    FROM scored WHERE label = qlabel
  ) WHERE rn <= 5
),
post AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, label, qlabel,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, vec_id ASC) AS rn
    FROM scored
  ) WHERE rn <= 30 AND label = qlabel
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY rn) <= 5
),
np AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_post_found FROM post GROUP BY 1),
npre AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_pre_found FROM pre GROUP BY 1)
SELECT q.qid, CAST(q.qlabel AS INT) AS label,
       CAST(coalesce(npre.n_pre_found, 0) AS BIGINT) AS n_pre_found,
       CAST(coalesce(np.n_post_found, 0) AS BIGINT) AS n_post_found
FROM q LEFT JOIN np ON q.qid = np.qid LEFT JOIN npre ON q.qid = npre.qid
ORDER BY q.qid
""",
    doc="Filtered vector search, the pre-filter vs post-filter design "
    "axis every vector store documents: per query, exact top-5 among "
    "SAME-LABEL vectors computed by PRE-filtering (predicate pushed "
    "below the score-rank — always returns k when k matches exist) "
    "vs POST-filtering an unfiltered top-30 (the cheap path — can "
    "come home short when the label is rare in the global "
    "neighborhood; n_post_found < n_pre_found is that recall loss "
    "made visible; the survivors are always a PREFIX of the "
    "pre-filter ranking, so the counts alone tell the story). One "
    "broadcast-query corpus scan feeds BOTH arms; per-qid windows; "
    "rounded-score/id total order.",
)
def q_ann_prefilter_vs_postfilter(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.vectors import cosine

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = emb.crossJoin(F.broadcast(qs)).select(
        "qid",
        "qlabel",
        "vec_id",
        "label",
        F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    pre = (
        scored.where(F.col("label") == F.col("qlabel"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("qid", "vec_id")
    )
    ranked = scored.withColumn("rn", F.row_number().over(w))
    wpost = Window.partitionBy("qid").orderBy("rn")
    post = (
        ranked.where(
            (F.col("rn") <= 30) & (F.col("label") == F.col("qlabel"))
        )
        .withColumn("rn2", F.row_number().over(wpost))
        .where(F.col("rn2") <= 5)
        .select("qid", "vec_id")
    )
    np_ = post.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_post_found")
    )
    npre = pre.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_pre_found")
    )
    return (
        qs.select("qid", F.col("qlabel").cast("int").alias("label"))
        .join(np_, "qid", "left")
        .join(npre, "qid", "left")
        .select(
            "qid",
            "label",
            F.coalesce("n_pre_found", F.lit(0)).cast("long").alias(
                "n_pre_found"
            ),
            F.coalesce("n_post_found", F.lit(0)).cast("long").alias(
                "n_post_found"
            ),
        )
        .orderBy("qid")
    )


@_q(
    "mmr_diversified_topk",
    """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10
),
sc AS (
  SELECT q.qid, e.vec_id AS vid, e.embedding AS emb,
         round((CASE WHEN (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))) > 0 THEN (list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) / ((sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))))) END), 6) AS rel
  FROM embeddings e, q
),
cand AS (
  SELECT qid, vid, emb, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY rel DESC, vid ASC) AS rn
    FROM sc
  ) WHERE rn <= 30
),
a1 AS (
  SELECT qid, CAST(1 AS INT) AS pos, vid, emb, rel,
         CAST(NULL AS DOUBLE) AS max_sim, CAST(NULL AS DOUBLE) AS mmr
  FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY rel DESC, vid ASC) AS rn
    FROM cand
  ) WHERE rn = 1
),
s2 AS (
  SELECT c.qid, c.vid, max(round((CASE WHEN (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(c.emb[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(p.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE))))) > 0 THEN (list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE)))) / ((sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(c.emb[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(p.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE)))))) END), 6)) AS max_sim
  FROM cand c JOIN a1 p ON c.qid = p.qid
  WHERE NOT EXISTS (SELECT 1 FROM a1 x
                    WHERE x.qid = c.qid AND x.vid = c.vid)
  GROUP BY c.qid, c.vid
),
p2 AS (
  SELECT qid, CAST(2 AS INT) AS pos, vid, emb, rel, max_sim, mmr FROM (
    SELECT c.qid, c.vid, c.emb, c.rel, s.max_sim,
           round(0.5 * c.rel - 0.5 * s.max_sim, 6) AS mmr,
           row_number() OVER (PARTITION BY c.qid
                              ORDER BY round(0.5 * c.rel - 0.5 * s.max_sim, 6) DESC,
                                       c.vid ASC) AS rn
    FROM cand c JOIN s2 s ON c.qid = s.qid AND c.vid = s.vid
  ) WHERE rn = 1
),
a2 AS (SELECT * FROM a1 UNION ALL SELECT * FROM p2),
s3 AS (
  SELECT c.qid, c.vid, max(round((CASE WHEN (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(c.emb[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(p.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE))))) > 0 THEN (list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE)))) / ((sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(c.emb[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(p.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE)))))) END), 6)) AS max_sim
  FROM cand c JOIN a2 p ON c.qid = p.qid
  WHERE NOT EXISTS (SELECT 1 FROM a2 x
                    WHERE x.qid = c.qid AND x.vid = c.vid)
  GROUP BY c.qid, c.vid
),
p3 AS (
  SELECT qid, CAST(3 AS INT) AS pos, vid, emb, rel, max_sim, mmr FROM (
    SELECT c.qid, c.vid, c.emb, c.rel, s.max_sim,
           round(0.5 * c.rel - 0.5 * s.max_sim, 6) AS mmr,
           row_number() OVER (PARTITION BY c.qid
                              ORDER BY round(0.5 * c.rel - 0.5 * s.max_sim, 6) DESC,
                                       c.vid ASC) AS rn
    FROM cand c JOIN s3 s ON c.qid = s.qid AND c.vid = s.vid
  ) WHERE rn = 1
),
a3 AS (SELECT * FROM a2 UNION ALL SELECT * FROM p3),
s4 AS (
  SELECT c.qid, c.vid, max(round((CASE WHEN (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(c.emb[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(p.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE))))) > 0 THEN (list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE)))) / ((sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(c.emb[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(p.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE)))))) END), 6)) AS max_sim
  FROM cand c JOIN a3 p ON c.qid = p.qid
  WHERE NOT EXISTS (SELECT 1 FROM a3 x
                    WHERE x.qid = c.qid AND x.vid = c.vid)
  GROUP BY c.qid, c.vid
),
p4 AS (
  SELECT qid, CAST(4 AS INT) AS pos, vid, emb, rel, max_sim, mmr FROM (
    SELECT c.qid, c.vid, c.emb, c.rel, s.max_sim,
           round(0.5 * c.rel - 0.5 * s.max_sim, 6) AS mmr,
           row_number() OVER (PARTITION BY c.qid
                              ORDER BY round(0.5 * c.rel - 0.5 * s.max_sim, 6) DESC,
                                       c.vid ASC) AS rn
    FROM cand c JOIN s4 s ON c.qid = s.qid AND c.vid = s.vid
  ) WHERE rn = 1
),
a4 AS (SELECT * FROM a3 UNION ALL SELECT * FROM p4),
s5 AS (
  SELECT c.qid, c.vid, max(round((CASE WHEN (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(c.emb[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(p.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE))))) > 0 THEN (list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE)))) / ((sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.emb[i] AS DOUBLE) * CAST(c.emb[i] AS DOUBLE))))) * (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(p.emb[i] AS DOUBLE) * CAST(p.emb[i] AS DOUBLE)))))) END), 6)) AS max_sim
  FROM cand c JOIN a4 p ON c.qid = p.qid
  WHERE NOT EXISTS (SELECT 1 FROM a4 x
                    WHERE x.qid = c.qid AND x.vid = c.vid)
  GROUP BY c.qid, c.vid
),
p5 AS (
  SELECT qid, CAST(5 AS INT) AS pos, vid, emb, rel, max_sim, mmr FROM (
    SELECT c.qid, c.vid, c.emb, c.rel, s.max_sim,
           round(0.5 * c.rel - 0.5 * s.max_sim, 6) AS mmr,
           row_number() OVER (PARTITION BY c.qid
                              ORDER BY round(0.5 * c.rel - 0.5 * s.max_sim, 6) DESC,
                                       c.vid ASC) AS rn
    FROM cand c JOIN s5 s ON c.qid = s.qid AND c.vid = s.vid
  ) WHERE rn = 1
),
a5 AS (SELECT * FROM a4 UNION ALL SELECT * FROM p5)
SELECT qid, pos, vid AS vec_id, rel, max_sim, mmr
FROM a5 ORDER BY qid, pos

""",
    doc="MMR-diversified top-5 per query (Carbonell & Goldstein "
    "1998, lambda=0.5, pool=30) — the diversification stage "
    "completing the retrieval stack (rank / fuse / filter / "
    "diversify): pure relevance returns near-copies of the best hit "
    "when the corpus has near-dups; each greedy pick maximizes "
    "0.5*rel - 0.5*max_sim_to_picked, so redundancy must be earned "
    "(operators/similarity.py:mmr_diversify). One broadcast-query "
    "corpus scan builds the candidate pool, materialized once; the "
    "4 greedy steps are bounded candidate x picked work with "
    "6dp-rounded scores and id tie-breaks (the oracle replays the "
    "greedy trajectory as an unrolled CTE chain).",
)
def q_mmr_diversified_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return sim.mmr_diversify(emb, qs, k=5, pool=30, lam=0.5)


@_q(
    "retrieval_health_report",
    "WITH rq AS (" + _oracle_of("ann_rank_quality") + "),\n"
    "pq AS (" + _oracle_of("pq_recall_eval") + "),\n"
    "pf AS (" + _oracle_of("prefix_dim_fidelity") + "),\n"
    "pp AS (" + _oracle_of("ann_prefilter_vs_postfilter") + """),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_queries,
         round(CAST(SUM(CAST(ndcg_at_10 AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS mean_ndcg_at_10,
         round(CAST(SUM(CAST(reciprocal_rank AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS mean_mrr
  FROM rq
),
b AS (
  SELECT round(CAST(SUM(CAST(recall_at_10 AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS mean_pq_recall_at_10
  FROM pq
),
c AS (
  SELECT round(CAST(SUM(CAST(overlap_at_10 AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS mean_prefix_overlap_at_10
  FROM pf
),
d AS (
  SELECT round(CAST(sum(n_post_found) AS DOUBLE)
               / CAST(sum(n_pre_found) AS DOUBLE), 6)
           AS postfilter_recall
  FROM pp
)
SELECT a.n_queries, a.mean_ndcg_at_10, a.mean_mrr,
       b.mean_pq_recall_at_10, c.mean_prefix_overlap_at_10,
       d.postfilter_recall
FROM a, b, c, d
""",
    doc="One-row vector-serving dashboard in the corpus_health / "
    "drift-report composition style — the single pane that says "
    "whether the ANN stack is healthy: mean nDCG@10 + MRR of the "
    "IVF path vs exact (order quality), mean PQ recall@10 "
    "(compression loss), mean first-32-dims overlap@10 (prefix-"
    "slice viability), and the post-filter recall ratio (filtered-"
    "search strategy cost). Each member is the green standalone "
    "eval verbatim (oracle composed from their oracle strings); "
    "per-query 6dp members DECIMAL-summed before the ONE mean "
    "division (order-free); four 1-row aggregates meet via "
    "broadcast crosses (auditor-exempt).",
)
def q_retrieval_health_report(spark, sf_dir):
    # The pane previously COMPOSED the four member plans verbatim —
    # 62 Exchanges in one DAG, every member's brute-force/IVF/PQ
    # subtree re-planned inside the pane. The members are independent
    # and their outputs tiny (≤ 20 rows each), so each is materialized
    # once behind an eager lineage cut, on four driver threads so the
    # arms' jobs overlap (r18, guide §2.4 shared-subtree dedup + §2.6
    # scheduler-level parallelism — the dedup_cluster_rand_index /
    # minhash_band_tuning_curve pattern). Deterministic member arms,
    # no shared state across them; values byte-identical (the pane
    # aggregates the same member rows).
    from concurrent.futures import ThreadPoolExecutor

    from ..session import cut_lineage

    members = (
        q_ann_rank_quality,
        q_pq_recall_eval,
        q_prefix_dim_fidelity,
        q_ann_prefilter_vs_postfilter,
    )
    with ThreadPoolExecutor(max_workers=len(members)) as pool:
        futs = [
            pool.submit(lambda f=f: cut_lineage(f(spark, sf_dir)))
            for f in members
        ]
        rq, pq, pf, pp = [f.result() for f in futs]
    dec = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    a = rq.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.sum(dec(F.col("ndcg_at_10"))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_ndcg_at_10"),
        F.round(
            F.sum(dec(F.col("reciprocal_rank"))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_mrr"),
    )
    b = pq.agg(
        F.round(
            F.sum(dec(F.col("recall_at_10"))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_pq_recall_at_10")
    )
    c = pf.agg(
        F.round(
            F.sum(dec(F.col("overlap_at_10"))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_prefix_overlap_at_10")
    )
    d = pp.agg(
        F.round(
            F.sum("n_post_found").cast("double")
            / F.sum("n_pre_found").cast("double"),
            6,
        ).alias("postfilter_recall")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(d))
        .select(
            "n_queries",
            "mean_ndcg_at_10",
            "mean_mrr",
            "mean_pq_recall_at_10",
            "mean_prefix_overlap_at_10",
            "postfilter_recall",
        )
    )


