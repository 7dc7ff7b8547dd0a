"""Classic warehouse shapes (TPC-H Q1/Q3/Q4/Q6/Q7/Q14/Q15/... analogs), part A.

Split from the single-file queries.py (round 15). Modules are imported by registry/__init__.py in a FIXED order; every @_q call appends to the shared _REGISTRY in registry/core.py, so registration order (the driver's export order) is preserved byte-for-byte.
"""

from __future__ import annotations

from .core import (
    DataFrame,
    F,
    _q,
    _t,
    agg,
    dd,
    dq,
    graph,
    joins,
    md5_family_sql,
    md5_long_sql,
    ts_ops,
    tx,
)  # noqa: F401
from .dedup import _SHINGLES_CTE, _minhash_oracle  # noqa: F401
from .curation import _CURATE_Q_CTE  # noqa: F401

# --------------------------------------------------------------------------
# Round-5 additions: classic warehouse shapes (TPC-H Q4/Q6/Q7/Q14/Q15/
# Q18/Q19/Q22 adapted to the fixture schema) + physical-layout operators
# (Bloom-prefiltered semi-join, storage partition transforms, Z-order
# file statistics) + exact-integer PageRank + BPE merge-pair counting.
# --------------------------------------------------------------------------


@_q(
    "forecast_revenue_simple",
    """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(27,4)))
            AS DOUBLE) AS promo_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 shape (forecast revenue change): pure scan-filter-"
    "aggregate — every predicate pushes to the parquet scan (range "
    "predicates on shipdate/discount/quantity prune row groups via "
    "min/max stats), no join, no shuffle beyond the single partial-"
    "aggregate exchange. The canonical 'is the fast path fast' probe: "
    "at 100 TB this query is I/O-bound or the layout is wrong.",
)
def q_forecast_revenue_simple(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        agg.exact_sum(
            F.col("l_extendedprice") * F.col("l_discount"), "promo_revenue"
        )
    )


@_q(
    "late_shipment_priority_counts",
    """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 shape (order-priority checking): EXISTS with a non-"
    "equi residual (shipped >30 days after ordering) planned as a "
    "LEFT SEMI hash join on the order key with the date comparison as "
    "the join residual — one row per order regardless of how many "
    "lines are late, no row multiplication, no distinct. The date "
    "window pushes to the orders scan (partition pruning on a "
    "date-partitioned layout).",
)
def q_late_shipment_priority_counts(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@_q(
    "nation_pair_trade_volume",
    """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS yr,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY sn.n_name, cn.n_name, CAST(year(l_shipdate) AS INT)
""",
    doc="TPC-H Q7 shape (volume shipping between two nations): the "
    "nation dim joins twice under different roles (supplier vs "
    "customer side) — both broadcast; the disjunctive nation-pair "
    "predicate applies after both attach. Only the fact-fact "
    "lineitem⋈orders and ⋈customer joins shuffle; supplier broadcasts. "
    "Ship-date window pushes to the lineitem scan.",
)
def q_nation_pair_trade_volume(spark, sf_dir):
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    ).select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount",
    )
    j = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").alias("yr"),
    ).agg(agg.exact_sum(disc_price, "revenue"))


@_q(
    "promo_revenue_share",
    """
SELECT CAST(month(l_shipdate) AS INT) AS mo,
       round(100.0 *
         CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                       THEN l_extendedprice * (1 - l_discount)
                       ELSE 0.0 END AS DECIMAL(27,4))) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(27,4))) AS DOUBLE),
         6) AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY CAST(month(l_shipdate) AS INT)
""",
    doc="TPC-H Q14 shape (promotion effect): conditional aggregate — "
    "one pass computes promo and total revenue simultaneously (no "
    "second join or union), part broadcasts into lineitem, both sums "
    "decimal-exact with ONE final double division per group so the "
    "ratio is engine-identical.",
)
def q_promo_revenue_share(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    g = j.groupBy(F.month("l_shipdate").alias("mo")).agg(
        agg.exact_sum(
            F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0),
            "promo_rev",
        ),
        agg.exact_sum(disc_price, "total_rev"),
    )
    return g.select(
        "mo",
        F.round(
            F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"), 6
        ).alias("promo_share_pct"),
    )


@_q(
    "top_supplier_by_revenue",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(27,4))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    doc="TPC-H Q15 shape (top supplier): the scalar-subquery max is a "
    "broadcast 1-row cross join against the per-supplier aggregate — "
    "no global sort, no window over an unpartitioned frame. Revenue "
    "is decimal-exact, so the double equality that selects the "
    "argmax set is engine-safe (ties all survive, as in the spec).",
)
def q_top_supplier_by_revenue(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        agg.exact_sum(disc_price, "total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("__mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_q(
    "large_volume_customers",
    """
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS qty_sum
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(27,4))) > 250
""",
    doc="TPC-H Q18 shape (large-volume customers): group lineitem by "
    "order with a HAVING threshold, then attach order/customer "
    "attributes. Planned as one fact aggregate keyed on l_orderkey "
    "(the natural shuffle key) followed by joins that AQE converts to "
    "broadcast once the >250 filter collapses the row count — the "
    "anti-pattern this query guards against is joining BEFORE "
    "aggregating, which multiplies lineitem by the customer payload.",
)
def q_large_volume_customers(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(agg.exact_sum("l_quantity", "qty_sum"))
        .where(F.col("qty_sum") > 250)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "qty_sum")
    )


@_q(
    "disjunctive_part_revenue",
    """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4)))
            AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
       AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
       AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
       AND p_size BETWEEN 1 AND 15)
""",
    doc="TPC-H Q19 shape (discounted revenue, disjunctive predicates): "
    "an OR-of-ANDs across BOTH join sides. Catalyst factors the "
    "single-table conjuncts out of the disjunction: l_quantity "
    "BETWEEN 1 AND 30 pushes to the lineitem scan and the brand/size "
    "union of ranges to the part scan, so each side prunes before the "
    "broadcast join and the residual OR evaluates on the survivors "
    "only — the classic test that an optimizer doesn't give up on "
    "non-conjunctive filters.",
)
def q_disjunctive_part_revenue(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    qty = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & qty.between(1, 11) & sz.between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & qty.between(10, 20) & sz.between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & qty.between(20, 30) & sz.between(1, 15))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.where(cond).agg(agg.exact_sum(disc_price, "revenue"))


@_q(
    "dormant_rich_customers",
    """
WITH thresh AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE)
         / count(c_acctbal) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey,
       count(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS total_bal
FROM customer, thresh
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c_nationkey
""",
    doc="TPC-H Q22 shape (global-customer sales opportunity): a "
    "decimal-exact scalar average broadcast as a 1-row cross join "
    "(never a driver collect), an anti-join against recent orders "
    "(the NOT EXISTS side filters its date predicate BEFORE the "
    "shuffle), and a per-nation rollup of the dormant high-balance "
    "accounts.",
)
def q_dormant_rich_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    thresh = c.where(F.col("c_acctbal") > 0).agg(
        agg.exact_avg("c_acctbal", "avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    rich = c.crossJoin(F.broadcast(thresh)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_custs"),
        agg.exact_sum("c_acctbal", "total_bal"),
    )


@_q(
    "bloom_filtered_segment_events",
    """
SELECT event_type, count(*) AS n_events
FROM events
WHERE user_id IN (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
)
GROUP BY event_type
""",
    doc="Bloom-prefiltered semi-join (operators/joins.py:"
    "bloom_prefilter_semi_join): the AUTOMOBILE customer keys fold "
    "into a 128 Ki-bit Bloom image (one md5 per key, Kirsch-"
    "Mitzenmacher double hashing, bit_or word aggregate) broadcast as "
    "ONE row; the events scan drops non-members in pure codegen "
    "BEFORE any exchange, and an exact left-semi join removes the "
    "~0.1% false positives — result identical to the plain semi-join "
    "(the oracle), volume into the shuffle cut to the survivor "
    "sliver. The explicit form of Spark's runtime bloom-filter "
    "injection, usable when stats are absent or the build side "
    "exceeds the broadcast-hash threshold but not its Bloom image.",
)
def q_bloom_filtered_segment_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "event_type")
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "AUTOMOBILE"
    ).select("c_custkey")
    hits = joins.bloom_prefilter_semi_join(
        e, c, "user_id", "c_custkey", m_bits=1 << 17, k=2
    )
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


@_q(
    "storage_partition_layout",
    f"""
WITH tagged AS (
  SELECT ((({md5_long_sql("CAST(o_orderkey AS VARCHAR)")}) % 16) + 16) % 16
           AS bucket_16,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
         CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS price_band,
         o_orderkey
  FROM orders
)
SELECT bucket_16, order_month,
       count(*) AS n_rows,
       min(o_orderkey) AS min_orderkey,
       max(o_orderkey) AS max_orderkey,
       count(DISTINCT price_band) AS n_price_bands
FROM tagged
GROUP BY bucket_16, order_month
""",
    doc="Iceberg-style hidden-partition transforms as portable "
    "expressions: bucket(16, key) via the engine-neutral md5-derived "
    "hash (functions/hashing.py — NOT Spark's murmur, so any engine "
    "routes a key to the same bucket), month(ts) truncation, and "
    "truncate-width price bands; rolled up to per-(bucket, month) "
    "file statistics (row count, key min/max) — exactly the metadata "
    "a table format keeps for partition pruning and file skipping. "
    "Writer-side twin: df.write.partitionBy on these columns.",
)
def q_storage_partition_layout(spark, sf_dir):
    from ..functions.hashing import md5_long

    o = _t(spark, sf_dir, "orders")
    tagged = o.select(
        F.pmod(md5_long(F.col("o_orderkey").cast("string")), F.lit(16)).alias(
            "bucket_16"
        ),
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("order_month"),
        F.floor(F.col("o_totalprice") / 25000.0).alias("price_band"),
        "o_orderkey",
    )
    return tagged.groupBy("bucket_16", "order_month").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_orderkey"),
        F.max("o_orderkey").alias("max_orderkey"),
        F.countDistinct("price_band").alias("n_price_bands"),
    )


def _morton8(qx: str, qy: str, engine: str) -> str:
    """16-bit Morton (Z-order) code from two 8-bit quantized dims —
    the same interleave emitted for Spark SQL (shiftleft/shiftright
    functions) and DuckDB (<< >> operators), so the oracle replays the
    layout bit-for-bit."""
    terms = []
    for i in range(8):
        if engine == "spark":
            terms.append(f"shiftleft(shiftright({qx}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({qy}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({qx} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({qy} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@_q(
    "zorder_file_stats",
    f"""
WITH bounds AS (
  SELECT min(l_extendedprice) AS plo, max(l_extendedprice) AS phi,
         min(l_quantity) AS qlo, max(l_quantity) AS qhi
  FROM lineitem
),
quant AS (
  SELECT CAST(floor(((l_extendedprice - plo) / (phi - plo)) * 255.0) AS BIGINT)
           AS qx,
         CAST(floor(((l_quantity - qlo) / (qhi - qlo)) * 255.0) AS BIGINT)
           AS qy,
         l_extendedprice, l_quantity
  FROM lineitem, bounds
),
coded AS (
  SELECT ({_morton8("qx", "qy", "duckdb")} >> 10) AS file_id,
         l_extendedprice, l_quantity
  FROM quant
)
SELECT file_id, count(*) AS n_rows,
       min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
FROM coded
GROUP BY file_id
""",
    doc="Z-order (Morton) clustering statistics: price and quantity "
    "quantized to 8 bits against broadcast global bounds, bit-"
    "interleaved into a 16-bit Z-key, rows assigned to 64 'files' by "
    "Z-range, and per-file min/max column stats emitted — the "
    "DELTA/Iceberg OPTIMIZE ZORDER layout decision as a query. The "
    "payoff the stats table demonstrates: after Z-clustering, BOTH "
    "a price predicate AND a quantity predicate prune most files "
    "(each file covers a narrow rectangle in the 2-D space), where "
    "single-column sorting prunes only its own column. The interleave "
    "is pure integer bit arithmetic, identical in any engine.",
)
def q_zorder_file_stats(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").select("l_extendedprice", "l_quantity")
    bounds = l.agg(
        F.min("l_extendedprice").alias("plo"),
        F.max("l_extendedprice").alias("phi"),
        F.min("l_quantity").alias("qlo"),
        F.max("l_quantity").alias("qhi"),
    )
    # Degenerate bounds (single row / all-equal column) quantize to
    # NULL via SQL 0/0 semantics — never an ANSI crash.
    quant = l.crossJoin(F.broadcast(bounds)).select(
        F.when(
            F.col("phi") > F.col("plo"),
            F.floor(
                ((F.col("l_extendedprice") - F.col("plo"))
                 / (F.col("phi") - F.col("plo"))) * 255.0
            ),
        ).alias("qx"),
        F.when(
            F.col("qhi") > F.col("qlo"),
            F.floor(
                ((F.col("l_quantity") - F.col("qlo"))
                 / (F.col("qhi") - F.col("qlo"))) * 255.0
            ),
        ).alias("qy"),
        "l_extendedprice", "l_quantity",
    )
    coded = quant.select(
        F.expr(f"shiftright({_morton8('qx', 'qy', 'spark')}, 10)").alias(
            "file_id"
        ),
        "l_extendedprice", "l_quantity",
    )
    return coded.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_LAYOUT_BOX = (
    "min_price <= 40000.0 AND max_price >= 30000.0 "
    "AND min_qty <= 15.0 AND max_qty >= 10.0"
)


@_q(
    "layout_pruning_eval",
    f"""
WITH bounds AS (
  SELECT min(l_extendedprice) AS plo, max(l_extendedprice) AS phi,
         min(l_quantity) AS qlo, max(l_quantity) AS qhi
  FROM lineitem
),
quant AS (
  SELECT CAST(floor(((l_extendedprice - plo) / (phi - plo)) * 255.0) AS BIGINT)
           AS qx,
         CAST(floor(((l_quantity - qlo) / (qhi - qlo)) * 255.0) AS BIGINT)
           AS qy,
         l_extendedprice, l_quantity
  FROM lineitem, bounds
),
assigned AS (
  SELECT 'zorder' AS layout, ({_morton8("qx", "qy", "duckdb")} >> 10)
           AS file_id, l_extendedprice, l_quantity
  FROM quant
  UNION ALL
  SELECT 'price_sorted', qx >> 2, l_extendedprice, l_quantity FROM quant
  UNION ALL
  SELECT 'qty_sorted', qy >> 2, l_extendedprice, l_quantity FROM quant
),
files AS (
  SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
         min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
         min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
  FROM assigned GROUP BY 1, 2
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS rows_matching
  FROM lineitem
  WHERE l_extendedprice BETWEEN 30000.0 AND 40000.0
    AND l_quantity BETWEEN 10.0 AND 15.0
),
per AS (
  SELECT layout,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(CASE WHEN {_LAYOUT_BOX} THEN 1 ELSE 0 END) AS BIGINT)
           AS files_touched,
         CAST(sum(CASE WHEN {_LAYOUT_BOX} THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_scanned
  FROM files GROUP BY layout
)
SELECT per.layout, per.n_files, per.files_touched, per.rows_scanned,
       m.rows_matching,
       round(CAST(per.files_touched AS DOUBLE)
             / CAST(per.n_files AS DOUBLE), 6) AS file_frac,
       CASE WHEN per.rows_scanned > 0 THEN
         round(CAST(m.rows_matching AS DOUBLE)
               / CAST(per.rows_scanned AS DOUBLE), 6) END AS scan_efficiency
FROM per, m ORDER BY per.layout
""",
    doc="Data-layout pruning eval — zorder_file_stats' claimed payoff "
    "MEASURED instead of asserted: the same 64-file budget laid out "
    "three ways (Z-order interleave of price x quantity; price-band "
    "sort; quantity-band sort), then a fixed 2-D box predicate "
    "(price in [30k,40k], qty in [10,15]) is pruned against each "
    "layout's per-file min/max stats. Reports files touched, rows "
    "scanned in touched files, and scan_efficiency = matching/"
    "scanned — the number that decides an OPTIMIZE ZORDER: a single-"
    "column layout prunes its own column perfectly but every touched "
    "file spans the full range of the OTHER column, so its scanned "
    "volume inflates; Z-order files cover narrow 2-D rectangles. "
    "Pure integer bit/bucket arithmetic on broadcast global bounds; "
    "one combinable groupBy per layout over a shared quantized scan.",
)
def q_layout_pruning_eval(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").select("l_extendedprice", "l_quantity")
    bounds = l.agg(
        F.min("l_extendedprice").alias("plo"),
        F.max("l_extendedprice").alias("phi"),
        F.min("l_quantity").alias("qlo"),
        F.max("l_quantity").alias("qhi"),
    )
    # Same degenerate-bounds guard as zorder_file_stats.
    quant = l.crossJoin(F.broadcast(bounds)).select(
        F.when(
            F.col("phi") > F.col("plo"),
            F.floor(
                ((F.col("l_extendedprice") - F.col("plo"))
                 / (F.col("phi") - F.col("plo"))) * 255.0
            ),
        ).cast("long").alias("qx"),
        F.when(
            F.col("qhi") > F.col("qlo"),
            F.floor(
                ((F.col("l_quantity") - F.col("qlo"))
                 / (F.col("qhi") - F.col("qlo"))) * 255.0
            ),
        ).cast("long").alias("qy"),
        "l_extendedprice",
        "l_quantity",
    )
    from ..session import track_persist

    quant = track_persist(quant)
    z = quant.select(
        F.lit("zorder").alias("layout"),
        F.expr(f"shiftright({_morton8('qx', 'qy', 'spark')}, 10)").alias(
            "file_id"
        ),
        "l_extendedprice",
        "l_quantity",
    )
    px = quant.select(
        F.lit("price_sorted").alias("layout"),
        F.expr("shiftright(qx, 2)").alias("file_id"),
        "l_extendedprice",
        "l_quantity",
    )
    qy = quant.select(
        F.lit("qty_sorted").alias("layout"),
        F.expr("shiftright(qy, 2)").alias("file_id"),
        "l_extendedprice",
        "l_quantity",
    )
    assigned = z.unionAll(px).unionAll(qy)
    files = assigned.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )
    touched = F.expr(_LAYOUT_BOX)
    per = files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.when(touched, 1).otherwise(0))
        .cast("long")
        .alias("files_touched"),
        F.sum(F.when(touched, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
    )
    m = l.where(
        F.col("l_extendedprice").between(30000.0, 40000.0)
        & F.col("l_quantity").between(10.0, 15.0)
    ).agg(F.count(F.lit(1)).cast("long").alias("rows_matching"))
    return (
        per.crossJoin(F.broadcast(m))
        .select(
            "layout",
            "n_files",
            "files_touched",
            "rows_scanned",
            "rows_matching",
            F.round(
                F.col("files_touched").cast("double")
                / F.col("n_files").cast("double"),
                6,
            ).alias("file_frac"),
            F.when(
                F.col("rows_scanned") > 0,
                F.round(
                    F.col("rows_matching").cast("double")
                    / F.col("rows_scanned").cast("double"),
                    6,
                ),
            ).alias("scan_efficiency"),
        )
        .orderBy("layout")
    )


def _pagerank_oracle_sql(iters: int = 3, scale: int = 10**12,
                         damping_pct: int = 85) -> str:
    """Unrolled integer-PageRank CTE chain — the DuckDB twin of
    operators/graph.py:pagerank_integer (// mirrors Spark's div on
    the all-nonnegative ranks)."""
    teleport_mass = (100 - damping_pct) * scale // 100
    parts = [f"""
WITH edges AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, {scale} // n AS r FROM nodes CROSS JOIN nn)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
c{t} AS (
  SELECT e.dst, SUM(r.r // d.outdeg) AS c
  FROM edges e
  JOIN r{t - 1} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r{t} AS (
  SELECT n.node,
         ({teleport_mass} // nn.n)
           + ({damping_pct} * coalesce(c{t}.c, 0)) // 100 AS r
  FROM nodes n CROSS JOIN nn LEFT JOIN c{t} ON n.node = c{t}.dst
)""")
    # SUM over BIGINT promotes to HUGEINT in DuckDB, which the driver's
    # canonicalizer renders as float64 — cast back so both engines emit
    # int64 even though the row values are already identical.
    parts.append(
        f"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r{iters}"
    )
    return "".join(parts)


def _ppr_oracle_sql(iters: int = 3, scale: int = 10**12,
                    damping_pct: int = 85, seed_nation: int = 0) -> str:
    """Unrolled personalized-PageRank CTE chain — the DuckDB twin of
    operators/graph.py:pagerank_personalized. Teleport mass returns
    only to the seed set (nation-``seed_nation`` customers ∩ graph
    nodes); everything else mirrors _pagerank_oracle_sql. Edges are
    MATERIALIZED (referenced in every round's c{t})."""
    teleport_mass = (100 - damping_pct) * scale // 100
    parts = [f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
seeds AS MATERIALIZED (
  SELECT n.node FROM nodes n
  JOIN (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
        FROM customer WHERE c_nationkey = {seed_nation}) s
    ON n.node = s.node
),
sn AS (SELECT count(*) AS ns FROM seeds),
r0 AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL THEN {scale} // sn.ns ELSE 0 END AS r
  FROM nodes n CROSS JOIN sn LEFT JOIN seeds s ON n.node = s.node
)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
c{t} AS (
  SELECT e.dst, SUM(r.r // d.outdeg) AS c
  FROM edges e
  JOIN r{t - 1} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r{t} AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL THEN {teleport_mass} // sn.ns ELSE 0 END
           + ({damping_pct} * coalesce(c{t}.c, 0)) // 100 AS r
  FROM nodes n CROSS JOIN sn
  LEFT JOIN seeds s ON n.node = s.node
  LEFT JOIN c{t} ON n.node = c{t}.dst
)""")
    parts.append(
        f"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r{iters}"
    )
    return "".join(parts)


@_q(
    "personalized_pagerank_nation",
    _ppr_oracle_sql(iters=3, seed_nation=0),
    doc="Personalized PageRank over the customer→supplier trade graph "
    "(operators/graph.py:pagerank_personalized): the teleport mass "
    "returns ONLY to nation-0 customers (∩ graph nodes — both "
    "engines must agree on |S|), so ranks measure proximity to that "
    "nation's demand rather than global centrality — the "
    "seed-expansion retrieval primitive ('suppliers related to "
    "THESE buyers'). Exact integer arithmetic, bit-identical to the "
    "unrolled DuckDB replay; per iteration ONE edges⋈ranks shuffle + "
    "ONE dst aggregate; seed flags attached to the persisted node "
    "relation once; lineage cut per round. Edge and seed lists under "
    "the broadcast threshold run the same steps on the driver after "
    "one bounded collect each; a rank past the long range, float ids "
    "or a threshold of -1 keep the distributed loop.",
)
def q_personalized_pagerank_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    seeds = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") == 0)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
        )
    )
    return graph.pagerank_personalized(edges, seeds, iters=3)


def _cms_oracle_sql(depth: int = 4, width: int = 512, k: int = 20) -> str:
    """DuckDB twin of operators/aggregates.py:cms_heavy_hitters — the
    same md5 double-hash probes, cell counts, and min-estimate."""
    def probe(i: int) -> str:
        return f"({md5_family_sql('CAST(user_id AS VARCHAR)', i)}) % {width}"

    cell_stream = "\n  UNION ALL ".join(
        f"SELECT {i} AS i, {probe(i)} AS pos FROM events"
        for i in range(depth)
    )
    key_probes = "\n  UNION ALL ".join(
        f"SELECT user_id, {i} AS i, {probe(i)} AS pos FROM dk"
        for i in range(depth)
    )
    return f"""
WITH dk AS (SELECT DISTINCT user_id FROM events),
cell_stream AS (
  {cell_stream}
),
cells AS (SELECT i, pos, count(*) AS cnt FROM cell_stream GROUP BY i, pos),
key_probes AS (
  {key_probes}
),
est AS (
  SELECT user_id, min(cnt) AS est_cnt
  FROM key_probes JOIN cells USING (i, pos)
  GROUP BY user_id
)
SELECT user_id, est_cnt FROM est
ORDER BY est_cnt DESC, user_id ASC
LIMIT {k}
"""


@_q(
    "snm_candidate_pairs",
    """
WITH keyed AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS k
  FROM documents
),
rn AS (
  SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rn FROM keyed
)
SELECT least(a.doc_id, b.doc_id) AS doc_a,
       greatest(a.doc_id, b.doc_id) AS doc_b,
       CAST(b.rn - a.rn AS INT) AS dist
FROM rn a JOIN rn b ON b.rn > a.rn AND b.rn <= a.rn + 3
""",
    doc="Sorted-Neighborhood blocking over documents (Hernández & "
    "Stolfo SIGMOD'95, operators/dedup.py:sorted_neighborhood_pairs): "
    "every doc paired with its 3 successors in normalized-text order "
    "— the linear-output (n·w pairs) third blocking strategy next to "
    "LSH banding and shingle buckets, catching sorted-adjacent "
    "near-dups without collision tuning. The global order uses "
    "windows.py:global_row_numbers (range-partitioned local "
    "row_numbers + broadcast prefix offsets, ≤1 collected row per "
    "range partition) — NEVER the single-reducer global window the "
    "oracle's ROW_NUMBER() OVER (ORDER BY …) implies; neighbor "
    "pairing is an equi-join on unique consecutive integers, "
    "skew-free by construction.",
)
def q_snm_candidate_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    key = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    return dd.sorted_neighborhood_pairs(d, "doc_id", key, window=3)


@_q(
    "customer_linkage_scores",
    """
WITH rn AS (
  SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
         row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn
  FROM customer
),
cand AS (
  SELECT least(a.c_custkey, b.c_custkey) AS doc_a,
         greatest(a.c_custkey, b.c_custkey) AS doc_b,
         a.c_nationkey AS an, b.c_nationkey AS bn,
         a.c_mktsegment AS asg, b.c_mktsegment AS bsg,
         a.c_acctbal AS aa, b.c_acctbal AS ba
  FROM rn a JOIN rn b ON b.rn > a.rn AND b.rn <= a.rn + 3
),
sc AS (
  SELECT doc_a, doc_b,
         CASE WHEN an = bn THEN 1 ELSE 0 END AS nation_match,
         CASE WHEN asg = bsg THEN 1 ELSE 0 END AS segment_match,
         CASE WHEN abs(aa - ba) <= 50 THEN 1 ELSE 0 END AS acctbal_match,
         (CASE WHEN an = bn THEN 26 ELSE -8 END
        + CASE WHEN asg = bsg THEN 14 ELSE -5 END
        + CASE WHEN abs(aa - ba) <= 50 THEN 18 ELSE -6 END) AS score
  FROM cand
)
SELECT * FROM sc WHERE score >= 30
""",
    doc="Record-linkage comparison stage (Fellegi & Sunter 1969; "
    "operators/dedup.py:linkage_score_pairs) over Sorted-Neighborhood "
    "candidates: acctbal-adjacent customer pairs scored by integer "
    "agreement weights / disagreement penalties on nation, segment, "
    "and acctbal band; threshold keeps the match/possible tier. "
    "Weights are integers by design (rounded log-likelihood ratios) "
    "so totals are exact and cross-engine identical. Plan: blocking "
    "is linear (SNM window pairs via distributed global row numbers, "
    "never a single-reducer window), scoring is two hash joins of "
    "the slim attribute relation onto the bounded pair list + pure "
    "codegen CASE arithmetic. NULL fields count as disagreement.",
)
def q_customer_linkage_scores(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    attrs = c.select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
    pairs = dd.sorted_neighborhood_pairs(
        c, "c_custkey", F.col("c_acctbal"), window=3
    )
    rules = {
        "nation": (
            lambda a, b: a["c_nationkey"] == b["c_nationkey"], 26, -8,
        ),
        "segment": (
            lambda a, b: a["c_mktsegment"] == b["c_mktsegment"], 14, -5,
        ),
        "acctbal": (
            lambda a, b: F.abs(a["c_acctbal"] - b["c_acctbal"]) <= 50, 18, -6,
        ),
    }
    return dd.linkage_score_pairs(
        pairs, attrs, "c_custkey", rules, min_score=30
    )


@_q(
    "kmv_user_customer_overlap",
    f"""
WITH ha AS (
  SELECT DISTINCT {md5_long_sql("CAST(user_id AS VARCHAR)")} AS h FROM events
),
hb AS (
  SELECT DISTINCT {md5_long_sql("CAST(o_custkey AS VARCHAR)")} AS h FROM orders
),
ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
ku AS (
  SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) u
  ORDER BY h LIMIT 256
),
ea AS (SELECT count(*) AS m, max(h) AS hk FROM ka),
eb AS (SELECT count(*) AS m, max(h) AS hk FROM kb),
eu AS (SELECT count(*) AS m, max(h) AS hk FROM ku),
ci AS (
  SELECT count(*) AS ci FROM ku
  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
),
est AS (
  SELECT
    CASE WHEN ea.m < 256 THEN ea.m
         ELSE CAST(round(255.0 * 1152921504606846976.0
                         / CAST(ea.hk AS DOUBLE)) AS BIGINT) END AS est_a,
    CASE WHEN eb.m < 256 THEN eb.m
         ELSE CAST(round(255.0 * 1152921504606846976.0
                         / CAST(eb.hk AS DOUBLE)) AS BIGINT) END AS est_b,
    CASE WHEN eu.m < 256 THEN eu.m
         ELSE CAST(round(255.0 * 1152921504606846976.0
                         / CAST(eu.hk AS DOUBLE)) AS BIGINT) END AS est_union,
    ci.ci AS ci
  FROM ea, eb, eu, ci
)
SELECT est_a, est_b, est_union,
       CAST(round(CAST(ci * est_union AS DOUBLE) / 256) AS BIGINT)
         AS est_intersection
FROM est
""",
    doc="Distinct-set-operation estimates — |users|, |customers|, "
    "union and intersection — from MERGED KMV sketches (Beyer et al. "
    "SIGMOD'07, operators/aggregates.py:kmv_set_estimates). The union "
    "estimate needs NO rescan (k smallest of the two sketches' "
    "hashes) and the intersection uses the ρ estimator over the union "
    "sketch — the multiset-operation capability that makes sketches "
    "composable at 100 TB (pre-computed per-partition/per-day "
    "sketches answer cross-table overlap questions without touching "
    "data again). Deterministic md5 family: the oracle replays both "
    "the m<k exact path (users: 150 < 256) and the (k−1)·2^60/h_(k) "
    "estimator path (customers: >256) bit-exactly; each input "
    "scanned once, all post-sketch relations ≤256 rows.",
)
def q_kmv_user_customer_overlap(spark, sf_dir):
    return agg.kmv_set_estimates(
        _t(spark, sf_dir, "events"), "user_id",
        _t(spark, sf_dir, "orders"), "o_custkey",
        k=256,
    )


@_q(
    "frequent_part_pairs",
    """
WITH items AS (
  SELECT DISTINCT l_orderkey AS b_, l_partkey AS i_ FROM lineitem
),
ok AS (
  SELECT i.b_, i.i_ FROM items i
  JOIN (SELECT b_ FROM items GROUP BY b_ HAVING count(*) <= 64) s USING (b_)
),
pairs AS (
  SELECT l.i_ AS a, r.i_ AS b, count(*) AS support
  FROM ok l JOIN ok r ON l.b_ = r.b_ AND l.i_ < r.i_
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
supp AS (SELECT i_, count(*) AS s FROM ok GROUP BY 1),
nb AS (SELECT count(DISTINCT b_) AS nb FROM ok)
SELECT p.a, p.b, p.support,
       round(CAST(p.support * nb.nb AS DOUBLE)
             / CAST(sa.s * sb.s AS DOUBLE), 6) AS lift
FROM pairs p
JOIN supp sa ON p.a = sa.i_
JOIN supp sb ON p.b = sb.i_
CROSS JOIN nb
ORDER BY p.support DESC, p.a ASC, p.b ASC
LIMIT 100
""",
    doc="Market-basket mining: top part pairs co-ordered in the same "
    "order with support ≥ 2 and lift (operators/aggregates.py:"
    "frequent_pairs — the 2-itemset counting pass of Apriori). "
    "Within-basket self-join is quadratic in basket size, so baskets "
    "over 64 items are dropped BEFORE pairing (heavy-tail guard — one "
    "degenerate crawler basket would otherwise dominate the job); "
    "work is bounded at |baskets|·64². Pair aggregate map-side "
    "combinable; item supports broadcast back; top-100 via TakeOrdered "
    "heap with (support DESC, a, b) tiebreak. Lift from exact integer "
    "operands — engines agree bit-for-bit.",
)
def q_frequent_part_pairs(spark, sf_dir):
    return agg.frequent_pairs(
        _t(spark, sf_dir, "lineitem"),
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_support=2,
        max_basket=64,
        top=100,
    )


@_q(
    "nation_revenue_trend",
    """
WITH daily AS (
  SELECT n_name,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
s AS (
  SELECT n_name,
         count(*) AS n,
         sum(CAST(x AS BIGINT)) AS sx,
         sum(CAST(rev AS DECIMAL(18,2))) AS sy,
         sum(CAST(x AS DECIMAL(18,0)) * CAST(rev AS DECIMAL(18,2))) AS sxy,
         sum(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS sxx
  FROM daily GROUP BY 1
)
SELECT n_name,
       CAST(n AS BIGINT) AS n_points,
       CASE WHEN (n * sxx - sx * sx) <> 0 THEN
         round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / CAST(n * sxx - sx * sx AS DOUBLE), 6)
       END AS slope,
       CASE WHEN (n * sxx - sx * sx) <> 0 THEN
         round((CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE), 6)
       END AS intercept
FROM s
""",
    doc="Per-nation OLS trend of daily order revenue vs epoch-day "
    "index (operators/timeseries.py:grouped_ols_trend): millions of "
    "tiny regressions as ONE aggregate pass over closed-form "
    "sufficient statistics — no per-group iteration, no driver loop. "
    "Cross-engine exactness: the five statistics accumulate as exact "
    "integers/decimals (order-independent), and only the final "
    "slope/intercept combination runs in doubles of those exact "
    "operands with an int64-exact denominator — identical IEEE ops on "
    "identical inputs, den=0 NULL-guarded (never divided, ANSI-safe).",
)
def q_nation_revenue_trend(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01")).alias("x"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "x")
        .agg(F.sum("p").alias("rev"))
    )
    return ts_ops.grouped_ols_trend(daily, "n_name", "x", "rev")


@_q(
    "cms_heavy_user_hitters",
    _cms_oracle_sql(),
    doc="Top-20 users by Count-Min-Sketch estimated event count "
    "(operators/aggregates.py:cms_heavy_hitters, Cormode & "
    "Muthukrishnan 2005), md5 double-hash family so the DuckDB oracle "
    "replays every counter bit-exactly. The sketch grid is FIXED "
    "memory (4×512 counters) independent of key cardinality and "
    "merges cell-wise — each task's local grid is a partial "
    "aggregate, the shuffle carries ≤2048 rows per task, never keys; "
    "that merge property is what makes it the 100 TB / streaming "
    "summary structure (vs an exact groupBy whose state is "
    "O(distinct keys)). Probe phase: broadcast the ≤2048-row grid, "
    "min-per-key, TakeOrdered top-k with deterministic tiebreak.",
)
def q_cms_heavy_user_hitters(spark, sf_dir):
    return agg.cms_heavy_hitters(
        _t(spark, sf_dir, "events"), "user_id", depth=4, width=512, k=20
    )


@_q(
    "orders_column_profile",
    """
WITH w AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_k,
         count(DISTINCT o_orderkey) AS nd_k,
         CAST(CAST(FLOOR(min(CAST(o_orderkey AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) AS mn_k,
         CAST(CAST(FLOOR(max(CAST(o_orderkey AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) AS mx_k,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_c,
         count(DISTINCT o_custkey) AS nd_c,
         CAST(CAST(FLOOR(min(CAST(o_custkey AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) AS mn_c,
         CAST(CAST(FLOOR(max(CAST(o_custkey AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) AS mx_c,
         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_p,
         count(DISTINCT o_totalprice) AS nd_p,
         CAST(CAST(FLOOR(min(CAST(o_totalprice AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) AS mn_p,
         CAST(CAST(FLOOR(max(CAST(o_totalprice AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) AS mx_p,
         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_s,
         count(DISTINCT o_orderstatus) AS nd_s,
         CAST(min(o_orderstatus) AS VARCHAR) AS mn_s,
         CAST(max(o_orderstatus) AS VARCHAR) AS mx_s,
         CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_o,
         count(DISTINCT o_orderpriority) AS nd_o,
         CAST(min(o_orderpriority) AS VARCHAR) AS mn_o,
         CAST(max(o_orderpriority) AS VARCHAR) AS mx_o,
         CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_d,
         count(DISTINCT CAST(o_orderdate AS DATE)) AS nd_d,
         CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS mn_d,
         CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS mx_d
  FROM orders
)
SELECT 'o_orderkey' AS "column", n AS n_rows, nn_k AS n_nulls, nd_k AS n_distinct,
       mn_k AS min_num, mx_k AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM w
UNION ALL
SELECT 'o_custkey', n, nn_c, nd_c, mn_c, mx_c, NULL, NULL FROM w
UNION ALL
SELECT 'o_totalprice', n, nn_p, nd_p, mn_p, mx_p, NULL, NULL FROM w
UNION ALL
SELECT 'o_orderstatus', n, nn_s, nd_s, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), mn_s, mx_s FROM w
UNION ALL
SELECT 'o_orderpriority', n, nn_o, nd_o, NULL, NULL, mn_o, mx_o FROM w
UNION ALL
SELECT 'o_date', n, nn_d, nd_d, NULL, NULL, mn_d, mx_d FROM w
""",
    doc="ANALYZE-style long-format column profile of orders "
    "(operators/quality.py:column_profile): one aggregate pass emits "
    "(column, n_rows, n_nulls, n_distinct, min/max) per profiled "
    "column — the statistics a cost-based optimizer or catalog "
    "crawler collects. Scan pruned to exactly the profiled columns; "
    "every stat map-side combinable except exact NDV (Spark expand), "
    "for which the operator offers approx_count_distinct (HLL++) as "
    "the 100 TB path — exact kept here so the oracle replays "
    "bit-for-bit. Numeric min/max as micro-unit integers "
    "(floor(v*1e6+0.5) AS BIGINT, rendered to text): min/max taken "
    "over the RAW double first (same selected value everywhere), "
    "then only IEEE single-op arithmetic — no decimal-cast "
    "semantics, which proved engine-version-dependent on "
    "non-2-decimal-representable doubles (the r6/r7 red-row "
    "lesson). Root cause found by the round-8 bisect probes: ALL six "
    "single-column probes failed the driver hash — including the "
    "string-only ones with no floats at all — pinning the divergence "
    "on the one cell every probe shared: n_nulls, an uncast "
    "sum(CASE..) that DuckDB types HUGEINT (int128). HUGEINT "
    "materializes as float64 through pandas/Arrow (0 → 0.0), so any "
    "driver that hashes through a dataframe sees '0.0' vs Spark's "
    "'0'. The fix is CAST(sum(..) AS BIGINT) in the oracle — every "
    "final oracle output column must land in the pandas-safe type "
    "set {BIGINT, DOUBLE, VARCHAR, DATE, TIMESTAMP, BOOLEAN}, now "
    "enforced repo-wide by tools/audit_oracle_types.py.",
)
def q_orders_column_profile(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "o_date", F.to_date("o_orderdate")
    )
    return dq.column_profile(
        o,
        num_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        str_cols=["o_orderstatus", "o_orderpriority"],
        date_cols=["o_date"],
    )




# Statistical / forensic audit tier (round 9): Benford digit
# forensics, contingency association, concentration (Gini), and
# corpus-comparison log-odds — the "is this data trustworthy and
# how is it distributed" battery.
@_q(
    "benford_price_audit",
    """
WITH v AS (
  SELECT CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
),
per AS (
  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n_obs
  FROM v GROUP BY 1
),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM per),
sh AS (
  SELECT digit, n_obs,
         round(CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS obs_share,
         round(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)), 6) AS benford_share
  FROM per, tot
)
SELECT digit, n_obs, obs_share, benford_share,
       round(abs(obs_share - benford_share), 6) AS abs_dev
FROM sh ORDER BY digit
""",
    doc="Benford first-significant-digit forensic audit of "
    "o_totalprice (operators/quality.py:benford_first_digit, Benford "
    "1938 / Nigrini's fraud screen): observed first-digit shares vs "
    "the log10(1+1/d) law. Digit extracted from the EXACT integer "
    "cents string (never a float rendering — engines disagree on "
    "double formatting); one libm log10 per output row rounded 6dp. "
    "One pruned scan, 9-cell combinable groupBy, total re-derived "
    "from the 9-row cell relation via broadcast 1-row aggregate "
    "(bounded-cross).",
)
def q_benford_price_audit(spark, sf_dir):
    return dq.benford_first_digit(_t(spark, sf_dir, "orders"), "o_totalprice")


@_q(
    "priority_status_association",
    """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, count(*) AS n_cell
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT o_orderpriority, o_orderstatus, n_cell,
         CAST(sum(n_cell) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n_a,
         CAST(sum(n_cell) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n_b,
         CAST(sum(n_cell) OVER () AS BIGINT) AS n_total
  FROM cells
)
SELECT o_orderpriority, o_orderstatus, n_cell, n_a, n_b, n_total,
       round(CAST(n_cell AS DOUBLE) * CAST(n_total AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS lift,
       round(ln(CAST(n_cell AS DOUBLE) * CAST(n_total AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6) AS pmi
FROM m ORDER BY o_orderpriority, o_orderstatus
""",
    doc="Contingency-table association audit priority x status "
    "(operators/aggregates.py:contingency_assoc): joint count, both "
    "marginals, lift and pointwise mutual information per cell — the "
    "independence check run before trusting a segmentation on a "
    "cross product. Data-volume work is ONE map-side-combinable "
    "groupBy over the pruned 2-column scan; marginals are window "
    "sums over the |A|x|B|-row cell relation, never a rescan. PMI's "
    "single ln rounded 6dp from exact-integer ratio.",
)
def q_priority_status_association(spark, sf_dir):
    return agg.contingency_assoc(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


@_q(
    "customer_spend_gini",
    """
WITH per_key AS (
  SELECT c.c_mktsegment AS seg, o.o_custkey AS k,
         CAST(sum(CAST(FLOOR(CAST(o.o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT seg, x, row_number() OVER (PARTITION BY seg ORDER BY x, k) AS i
  FROM per_key
),
a AS (
  SELECT seg, count(*) AS n_keys,
         CAST(sum(x) AS BIGINT) AS total_cents,
         sum(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS s1
  FROM ranked GROUP BY 1
)
SELECT seg AS c_mktsegment, n_keys, total_cents,
       CASE WHEN total_cents <> 0 THEN
         round(CAST(2.0 AS DOUBLE) * CAST(s1 AS DOUBLE)
               / (CAST(n_keys AS DOUBLE) * CAST(total_cents AS DOUBLE))
               - (CAST(n_keys AS DOUBLE) + CAST(1.0 AS DOUBLE)) / CAST(n_keys AS DOUBLE),
               6)
       END AS gini
FROM a ORDER BY c_mktsegment
""",
    doc="Gini concentration of per-customer spend within each market "
    "segment (operators/aggregates.py:gini_by_group, Lorenz/Gini): "
    "the 'top customers drive X% of revenue' inequality number, per "
    "segment. Exact integer cents; rank-weighted sum S1 accumulates "
    "in DECIMAL(38,0)/HUGEINT (int64 overflows near 10^18 at fact "
    "scale); G = 2*S1/(n*S) - (n+1)/n as a fixed IEEE sequence on "
    "exact integers, rounded 6dp. The rank window sorts the PER-KEY "
    "relation (|customers|, not |orders|) — facts fold map-side "
    "first.",
)
def q_customer_spend_gini(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == c.c_custkey,
    )
    return agg.gini_by_group(j, "c_mktsegment", "o_custkey", "o_totalprice")


@_q(
    "distinctive_terms_by_source",
    """
WITH cells AS (
  SELECT source AS g, w, count(*) AS y
  FROM (SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY 1, 2
),
sized AS (
  SELECT g, w, y,
         CAST(sum(y) OVER (PARTITION BY w) AS BIGINT) AS y_w,
         CAST(sum(y) OVER (PARTITION BY g) AS BIGINT) AS n_g
  FROM cells
),
tot AS (
  SELECT CAST(sum(y) AS BIGINT) AS n, CAST(count(DISTINCT w) AS BIGINT) AS v
  FROM cells
),
scored AS (
  SELECT g, w, y AS n_in_group,
         round((round(ln((CAST(y AS DOUBLE) + CAST(1.0 AS DOUBLE))
                         / (CAST(n_g AS DOUBLE) - CAST(y AS DOUBLE) + CAST(v AS DOUBLE))), 6)
                - round(ln((CAST(y_w - y AS DOUBLE) + CAST(1.0 AS DOUBLE))
                           / (CAST(n - n_g AS DOUBLE) - CAST(y_w - y AS DOUBLE) + CAST(v AS DOUBLE))), 6))
               / sqrt(CAST(1.0 AS DOUBLE) / (CAST(y AS DOUBLE) + CAST(1.0 AS DOUBLE))
                      + CAST(1.0 AS DOUBLE) / (CAST(y_w - y AS DOUBLE) + CAST(1.0 AS DOUBLE))),
               6) AS z_score
  FROM sized, tot
),
top AS (
  SELECT g, w, n_in_group, z_score,
         row_number() OVER (PARTITION BY g ORDER BY z_score DESC, w) AS r
  FROM scored
)
SELECT g AS source, w AS word, n_in_group, z_score
FROM top WHERE r <= 5
ORDER BY source, z_score DESC, word
""",
    doc="Per-source distinctive vocabulary via log-odds-ratio z-score "
    "with add-one smoothing (operators/textops.py:"
    "distinctive_terms_log_odds; Monroe, Colaresi & Quinn 2008 "
    "'Fightin' Words') — corpus comparison without tf-idf's length "
    "bias. One explode + one (source,word) combinable groupBy is the "
    "only data-volume work; marginals/vocab/total are windows and a "
    "broadcast 1-row aggregate over the cell relation. Each of the "
    "two ln calls per row individually rounded 6dp before "
    "subtraction; variance rational; sqrt correctly-rounded IEEE.",
)
def q_distinctive_terms_by_source(spark, sf_dir):
    return tx.distinctive_terms_log_odds(
        _t(spark, sf_dir, "documents"), "source", "text", k=5
    )


@_q(
    "event_value_ranksum_drift",
    """
WITH cells AS (
  SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         count(*) AS t,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS t_a
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
ranked AS (
  SELECT v, t, t_a,
         COALESCE(CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
  FROM cells
),
a AS (
  SELECT CAST(sum(t_a) AS BIGINT) AS n_a,
         CAST(sum(t) - sum(t_a) AS BIGINT) AS n_b,
         sum(CAST(t_a AS HUGEINT)
             * (2 * CAST(cb AS HUGEINT) + CAST(t AS HUGEINT) + 1)) AS r2a,
         sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
             - CAST(t AS HUGEINT)) AS ties
  FROM ranked
)
SELECT n_a, n_b,
       CAST(r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS BIGINT) AS u2,
       round(CAST(r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS DOUBLE)
             / CAST(2.0 AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS auc,
       round((CAST(r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS DOUBLE)
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             / (CAST(2.0 AS DOUBLE)
                * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12.0 AS DOUBLE)
                       * ((CAST(n_a + n_b AS DOUBLE) + CAST(1.0 AS DOUBLE))
                          - CAST(ties AS DOUBLE)
                            / (CAST(n_a + n_b AS DOUBLE)
                               * (CAST(n_a + n_b AS DOUBLE) - CAST(1.0 AS DOUBLE)))))),
             6) AS z
FROM a
""",
    doc="Mann-Whitney U rank-sum drift test on event values, early "
    "vs late window (operators/timeseries.py:ranksum_drift; Mann & "
    "Whitney 1947, tie-corrected normal approx) — the nonparametric "
    "SIGNIFICANCE companion to event_value_drift's total-variation "
    "DISTANCE. Values become exact integer cents, so the ordered "
    "counts-below window runs over a DOMAIN-bounded cell relation "
    "(~50k rows max regardless of volume — why a single window is "
    "scale-safe here, vs windows.scalable_ranks for unbounded "
    "domains). Average-rank ties folded into exact integers "
    "(2R_a = sum(t_a*(2cb+t+1)) in DECIMAL(38,0)/HUGEINT — t_a*cb "
    "passes int64 near 1e9 rows); z is a fixed IEEE sequence on "
    "exact parts, rounded 6dp.",
)
def q_event_value_ranksum_drift(spark, sf_dir):
    return ts_ops.ranksum_drift(
        _t(spark, sf_dir, "events"), "ts", "value", "2024-01-16"
    )


@_q(
    "daily_event_acf",
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
  SELECT spine.date, COALESCE(c.cnt, 0) AS cnt
  FROM spine LEFT JOIN c ON spine.date = c.date
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(cnt) AS BIGINT) AS sm
  FROM s
),
base AS (
  SELECT s.date,
         CAST(t.n_days AS HUGEINT) * CAST(s.cnt AS HUGEINT)
           - CAST(t.sm AS HUGEINT) AS ce,
         t.n_days
  FROM s, tot t
),
den AS (SELECT max(n_days) AS n_days, sum(ce * ce) AS den FROM base),
lags AS (SELECT CAST(unnest(generate_series(1, 7)) AS INTEGER) AS lag),
nums AS (
  SELECT l.lag, sum(b1.ce * b2.ce) AS num
  FROM base b1 JOIN lags l ON true
  JOIN base b2 ON b2.date = b1.date + l.lag
  GROUP BY l.lag
)
SELECT n.lag, d.n_days,
       round(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6) AS r
FROM nums n, den d
ORDER BY n.lag
""",
    doc="Sample autocorrelation of the gap-filled daily event-count "
    "series at lags 1..7 (operators/timeseries.py:daily_count_acf) — "
    "the seasonality detector that justifies (or refutes) "
    "seasonal_decompose_daily's weekly model. Exact arithmetic by "
    "clearing denominators: centered terms scale to integers "
    "(n*x_t - S), numerator/denominator are DECIMAL(38,0)/HUGEINT "
    "sums of their products (squares pass 1e27 at 100 TB volume), "
    "r_k is ONE double division rounded 6dp. All lag work is "
    "date-offset self-joins of the <=days-row series; the 7-row lag "
    "frame is a literal bounded Range build.",
)
def q_daily_event_acf(spark, sf_dir):
    return ts_ops.daily_count_acf(_t(spark, sf_dir, "events"), "ts", max_lag=7)


@_q(
    "dedup_cluster_rand_index",
    f"""
WITH RECURSIVE
{_SHINGLES_CTE},
exsh AS (
  SELECT doc_id, CAST(len(shingles) AS INT) AS n_sh, unnest(shingles) AS s FROM sh
),
cjac AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS common
  FROM exsh a JOIN exsh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
ep AS (
  SELECT doc_a, doc_b FROM cjac
  WHERE round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6) >= 0.8
),
mp AS (SELECT doc_a, doc_b FROM ({_minhash_oracle(k=12, bands=4, threshold=0.8)}) q),
edges_a AS (
  SELECT doc_a AS u, doc_b AS v FROM mp UNION SELECT doc_b, doc_a FROM mp
),
walk_a(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, w.label FROM walk_a w JOIN edges_a e ON e.u = w.node
),
lab_a AS (SELECT node AS doc_id, min(label) AS ca FROM walk_a GROUP BY node),
edges_b AS (
  SELECT doc_a AS u, doc_b AS v FROM ep UNION SELECT doc_b, doc_a FROM ep
),
walk_b(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, w.label FROM walk_b w JOIN edges_b e ON e.u = w.node
),
lab_b AS (SELECT node AS doc_id, min(label) AS cb FROM walk_b GROUP BY node),
cells AS (
  SELECT ca, cb, count(*) AS nij
  FROM lab_a a JOIN lab_b b ON a.doc_id = b.doc_id
  GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(nij) AS BIGINT) AS n_docs,
         sum(CAST(nij AS HUGEINT) * (CAST(nij AS HUGEINT) - 1)) AS t2ij
  FROM cells
),
pa AS (
  SELECT CAST(count(*) AS BIGINT) AS n_clusters_a,
         sum(CAST(ai AS HUGEINT) * (CAST(ai AS HUGEINT) - 1)) AS t2a
  FROM (SELECT ca, sum(nij) AS ai FROM cells GROUP BY 1)
),
pb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_clusters_b,
         sum(CAST(bj AS HUGEINT) * (CAST(bj AS HUGEINT) - 1)) AS t2b
  FROM (SELECT cb, sum(nij) AS bj FROM cells GROUP BY 1)
),
fin AS (
  SELECT n_docs, n_clusters_a, n_clusters_b,
         CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - CAST(1.0 AS DOUBLE)) AS nn,
         CAST(t2ij AS DOUBLE) AS t2ijd, CAST(t2a AS DOUBLE) AS t2ad,
         CAST(t2b AS DOUBLE) AS t2bd
  FROM tot, pa, pb
),
fin2 AS (
  SELECT n_docs, n_clusters_a, n_clusters_b, nn, t2ijd, t2ad, t2bd,
         t2ijd / CAST(2.0 AS DOUBLE) AS sij,
         t2ad / CAST(2.0 AS DOUBLE) AS sa,
         t2bd / CAST(2.0 AS DOUBLE) AS sb,
         nn / CAST(2.0 AS DOUBLE) AS pp
  FROM fin
)
SELECT n_docs, n_clusters_a, n_clusters_b,
       round((nn + CAST(2.0 AS DOUBLE) * t2ijd - t2ad - t2bd) / nn, 6) AS rand_index,
       round(CASE WHEN (sa + sb) / CAST(2.0 AS DOUBLE) - sa * sb / pp <> CAST(0.0 AS DOUBLE)
                  THEN (sij - sa * sb / pp)
                       / ((sa + sb) / CAST(2.0 AS DOUBLE) - sa * sb / pp)
             END, 6) AS adjusted_rand
FROM fin2
""",
    doc="Cluster-LEVEL agreement between the MinHash-LSH dedup "
    "clustering and the exact-Jaccard clustering: Rand index + "
    "adjusted Rand (operators/graph.py:clustering_rand_index; Rand "
    "1971, Hubert & Arabie 1985). The pair-level recall evals "
    "(minhash_recall_eval) can't see this — two pair sets can mostly "
    "agree while cutting the transitive closure differently, and the "
    "CLOSURE decides which docs a dedup pass deletes. Both label "
    "relations come from the SAME connected_components operator the "
    "dedup tier uses; the oracle recomputes both closures via recursive "
    "CTEs. Contingency pair counts in exact DECIMAL(38,0)/HUGEINT "
    "(n(n-1) ~ 1e24 at 1e12 docs); RI/ARI fixed IEEE sequences on "
    "exact parts, 6dp; ARI NULL when degenerate. Eval-tier cost: "
    "inherits ngram_jaccard_exact's superlinear recall-baseline "
    "shape — run sampled at scale, like the other evals.",
    scale_note="eval-tier — the exact-Jaccard side inherits "
    "ngram_jaccard_exact's superlinear hot-shingle shape; at scale "
    "run on an md5 document sample (the simhash_recall_eval recipe)",
)
def q_dedup_cluster_rand_index(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs_lsh = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=12, bands=4, threshold=0.8
    )
    pairs_ex = dd.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_doc_freq=None
    )
    return graph.clustering_rand_index(
        graph.dedup_clusters(docs, pairs_lsh), graph.dedup_clusters(docs, pairs_ex)
    )


@_q(
    "quality_rate_confidence",
    f"""
WITH {_CURATE_Q_CTE},
per AS (
  SELECT d.source AS g, count(*) AS n,
         CAST(sum(CASE WHEN q.quality_score >= 0.45 THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM documents d JOIN q USING (doc_id)
  GROUP BY 1
)
SELECT g AS source, n AS n_docs, k AS n_pass,
       round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
       round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE))) - (CAST(1.96 AS DOUBLE) * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(1.0 AS DOUBLE) - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))) / (CAST(1.0 AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS ci_low,
       round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE))) + (CAST(1.96 AS DOUBLE) * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(1.0 AS DOUBLE) - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))) / (CAST(1.0 AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS ci_high
FROM per ORDER BY g
""",
    doc="Wilson 95% confidence interval for the per-source quality-"
    "gate pass rate (operators/quality.py:rate_confidence_by_group, "
    "Wilson 1927), on the SAME quality predicate curated_documents "
    "and curation_funnel_by_source apply — before down-weighting or "
    "dropping a source over its gate rate, the interval says whether "
    "the observed gap is evidence or small-n noise; Wilson (not the "
    "naive normal interval) stays inside [0,1] at the extreme rates "
    "and small counts long-tail sources occupy. Exact int64 counts; "
    "every interval term a fixed IEEE sequence (z-squared kept as the "
    "literal product 1.96*1.96 so both engines compute the identical "
    "double); one combinable groupBy.",
)
def q_quality_rate_confidence(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    q = tx.quality_features(docs, "doc_id", "text")
    j = docs.select("doc_id", "source").join(
        q.select("doc_id", "quality_score"), "doc_id"
    )
    return dq.rate_confidence_by_group(
        j, "source", F.col("quality_score") >= 0.45
    )


@_q(
    "event_value_psi",
    """
WITH obs AS (
  SELECT CAST(greatest(0, least(19, floor(CAST(value AS DOUBLE) / 25.0))) AS INT) AS bin,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
spine AS (SELECT CAST(unnest(generate_series(0, 19)) AS INT) AS bin),
cells AS (
  SELECT s.bin, COALESCE(o.ca, 0) AS ca, COALESCE(o.cb, 0) AS cb
  FROM spine s LEFT JOIN obs o ON s.bin = o.bin
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM cells
),
terms AS (
  SELECT n_a, n_b,
         round(((CAST(ca AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (CAST(n_a AS DOUBLE) + CAST(20.0 AS DOUBLE))
                - (CAST(cb AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (CAST(n_b AS DOUBLE) + CAST(20.0 AS DOUBLE)))
               * ln(((CAST(ca AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (CAST(n_a AS DOUBLE) + CAST(20.0 AS DOUBLE)))
                    / ((CAST(cb AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (CAST(n_b AS DOUBLE) + CAST(20.0 AS DOUBLE)))),
               6) AS term
  FROM cells, tot
)
SELECT n_a, n_b,
       round(CAST(sum(CAST(term AS DECIMAL(27,6))) AS DOUBLE), 6) AS psi
FROM terms GROUP BY n_a, n_b
""",
    doc="Population Stability Index of event values, early vs late "
    "window (operators/timeseries.py:psi_drift) — the industry-"
    "standard production drift monitor (<0.1 stable, 0.1-0.25 "
    "drifting, >0.25 shifted), completing the drift battery: TV "
    "distance bounds the gap (event_value_drift), rank-sum z gives "
    "significance (event_value_ranksum_drift), PSI is the monitored "
    "number. Fixed 20-bin spine (a bin empty in both windows still "
    "contributes under Laplace smoothing when n_a != n_b); each "
    "bin's term has ONE ln, rounded 6dp then DECIMAL(27,6)-summed "
    "(the bigram-logprob pattern) so the reduction is order-free. "
    "One pruned scan, <=20-cell combinable groupBy.",
)
def q_event_value_psi(spark, sf_dir):
    return ts_ops.psi_drift(
        _t(spark, sf_dir, "events"), "ts", "value", "2024-01-16"
    )


@_q(
    "event_value_median_ci",
    """
WITH cells AS (
  SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS v,
         count(*) AS t
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT v, CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM cells
),
tot AS (SELECT CAST(max(cum) AS BIGINT) AS n FROM cum),
ranks AS (
  SELECT n,
         greatest(1, CAST(FLOOR((CAST(n AS DOUBLE) - CAST(1.96 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / CAST(2.0 AS DOUBLE)) AS BIGINT)) AS lr,
         CAST(FLOOR(CAST(n + 1 AS DOUBLE) / CAST(2.0 AS DOUBLE)) AS BIGINT) AS m1,
         CAST(FLOOR(CAST(n AS DOUBLE) / CAST(2.0 AS DOUBLE)) AS BIGINT) + 1 AS m2
  FROM tot
),
sel AS (
  SELECT r.n,
         min(CASE WHEN c.cum >= r.lr THEN c.v END) AS vl,
         min(CASE WHEN c.cum >= least(r.n, r.n + 1 - r.lr) THEN c.v END) AS vu,
         min(CASE WHEN c.cum >= r.m1 THEN c.v END) AS vm1,
         min(CASE WHEN c.cum >= r.m2 THEN c.v END) AS vm2
  FROM cum c, ranks r
  GROUP BY r.n
)
SELECT n AS n_values,
       round((CAST(vm1 AS DOUBLE) + CAST(vm2 AS DOUBLE)) / CAST(2.0 AS DOUBLE) / CAST(100.0 AS DOUBLE), 6) AS median,
       round(CAST(vl AS DOUBLE) / CAST(100.0 AS DOUBLE), 6) AS ci_low,
       round(CAST(vu AS DOUBLE) / CAST(100.0 AS DOUBLE), 6) AS ci_high
FROM sel
""",
    doc="Distribution-free 95% confidence interval for the median of "
    "event values via order statistics (operators/aggregates.py:"
    "median_ci): ranks floor((n - 1.96*sqrt(n))/2) and n+1-l bracket "
    "the true median for ANY continuous distribution — no normality, "
    "no bootstrap, no randomness; the inference companion to the "
    "exact-quantile tier. Same bounded-domain move as ranksum_drift: "
    "integer cents cells (<= ~50k regardless of volume), order "
    "statistics as min-over-threshold on the running total, rank "
    "arithmetic a fixed IEEE sequence on exact n. One scan, one tiny "
    "shuffle, one bounded window.",
)
def q_event_value_median_ci(spark, sf_dir):
    return agg.median_ci(_t(spark, sf_dir, "events"), "value")


@_q(
    "price_quantity_spearman",
    """
WITH xc AS (SELECT l_quantity AS v, count(*) AS t FROM lineitem GROUP BY 1),
xr AS (
  SELECT v,
         2 * COALESCE(CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           + t + 1 AS r2
  FROM xc
),
yc AS (SELECT l_extendedprice AS v, count(*) AS t FROM lineitem GROUP BY 1),
yr AS (
  SELECT v,
         2 * COALESCE(CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           + t + 1 AS r2
  FROM yc
),
j AS (
  SELECT xr.r2 AS rx, yr.r2 AS ry
  FROM lineitem l
  JOIN xr ON l.l_quantity = xr.v
  JOIN yr ON l.l_extendedprice = yr.v
),
m AS (
  SELECT count(*) AS n,
         sum(CAST(rx AS HUGEINT)) AS sx,
         sum(CAST(ry AS HUGEINT)) AS sy,
         sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy,
         sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
         sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy
  FROM j
)
SELECT n AS n_rows,
       round(
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
FROM m
""",
    doc="Spearman rank correlation of quantity vs extended price "
    "(operators/aggregates.py:spearman_corr) — Pearson on average "
    "ranks: the robust monotone-relationship companion to "
    "price_quantity_corr, immune to outliers and monotone rescaling "
    "(the pair reads like mean/stddev vs median/MAD). Average ranks "
    "kept INTEGER via r2 = 2*count_below + ties + 1 over each "
    "column's DISTINCT-value relation (quantity: 50 cells; price: "
    "the distinct-price relation — for unbounded domains swap in "
    "windows.scalable_ranks' range partitioning); rank moments in "
    "DECIMAL(38,0)/HUGEINT (r2^2*n passes int64 near 1e6 rows); "
    "final rho the identical IEEE sequence as the Pearson query.",
)
def q_price_quantity_spearman(spark, sf_dir):
    return agg.spearman_corr(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice"
    )


@_q(
    "quantity_discount_kendall",
    """
WITH grid AS (
  SELECT l_quantity AS x, l_discount AS y, count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
cd AS (
  SELECT
    CAST(sum(CASE WHEN a.y < b.y THEN CAST(a.n AS HUGEINT) * CAST(b.n AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS c,
    CAST(sum(CASE WHEN a.y > b.y THEN CAST(a.n AS HUGEINT) * CAST(b.n AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS d
  FROM grid a JOIN grid b ON a.x < b.x
),
tx AS (
  SELECT sum(CAST(t AS HUGEINT) * (CAST(t AS HUGEINT) - 1)) AS tx2,
         CAST(sum(t) AS BIGINT) AS n_rows
  FROM (SELECT x, sum(n) AS t FROM grid GROUP BY 1)
),
ty AS (
  SELECT sum(CAST(t AS HUGEINT) * (CAST(t AS HUGEINT) - 1)) AS ty2
  FROM (SELECT y, sum(n) AS t FROM grid GROUP BY 1)
)
SELECT n_rows,
       CAST(c * 2 AS BIGINT) AS concordant2,
       CAST(d * 2 AS BIGINT) AS discordant2,
       round(CAST(2.0 AS DOUBLE) * (CAST(c AS DOUBLE) - CAST(d AS DOUBLE))
             / sqrt((CAST(n_rows AS DOUBLE) * (CAST(n_rows AS DOUBLE) - CAST(1.0 AS DOUBLE))
                       - CAST(tx2 AS DOUBLE))
                    * (CAST(n_rows AS DOUBLE) * (CAST(n_rows AS DOUBLE) - CAST(1.0 AS DOUBLE))
                         - CAST(ty2 AS DOUBLE))), 6) AS tau_b
FROM cd, tx, ty
""",
    doc="Kendall tau-b of quantity vs discount "
    "(operators/aggregates.py:kendall_tau_b) — the ordinal-"
    "association member of the correlation tier (Pearson: linear; "
    "Spearman: monotone; Kendall: pairwise ordinal agreement with "
    "tie correction). Exact at ANY row count because both domains "
    "are bounded: concordant/discordant pairs come from a self-join "
    "of the <=550-cell contingency GRID (50 quantities x 11 "
    "discounts), never row pairs; C ~ n^2/2 accumulates in "
    "DECIMAL(38,0)/HUGEINT; the denominator factors multiply in "
    "DOUBLE (their product passes 1e38). Grid build sides carry the "
    "literal-limit bounded-build idiom for the plan auditor.",
)
def q_quantity_discount_kendall(spark, sf_dir):
    return agg.kendall_tau_b(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_discount"
    )


@_q(
    "corpus_zipf_fit",
    """
WITH counts AS (
  SELECT w, count(*) AS c
  FROM (SELECT trim(unnest(string_split_regex(trim(lower(text)), '\\s+'))) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY w
),
head AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 1000),
pts AS (
  SELECT round(ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)), 6) AS lr,
         round(ln(CAST(c AS DOUBLE)), 6) AS lf
  FROM head
),
m AS (
  SELECT count(*) AS n,
         sum(CAST(round(lr, 6) AS DECIMAL(27,6))) AS sx,
         sum(CAST(round(lf, 6) AS DECIMAL(27,6))) AS sy,
         sum(CAST(round(lr * lf, 6) AS DECIMAL(27,6))) AS sxy,
         sum(CAST(round(lr * lr, 6) AS DECIMAL(27,6))) AS sxx
  FROM pts
),
d AS (
  SELECT CAST(n AS BIGINT) AS n_points,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
         CAST(sxx AS DOUBLE) AS sxxd
  FROM m
)
SELECT n_points,
       round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6) AS slope,
       round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * sxd) / nd, 6)
         AS intercept
FROM d
""",
    doc="Zipf rank-frequency fit over the vocabulary head "
    "(operators/textops.py:zipf_fit; Zipf 1949): OLS of ln(freq) on "
    "ln(rank) for the top-1000 words — natural text runs near slope "
    "-1; much flatter signals templated/boilerplate-heavy text, much "
    "steeper a degenerate vocabulary. Head-only via a TakeOrdered "
    "k-heap (never a global sort; the tail, where Zipf breaks "
    "anyway, never enters). Each ln rounded 6dp; every OLS "
    "sufficient statistic a 6dp term summed in DECIMAL(27,6) (the "
    "bigram-logprob order-free pattern); slope/intercept fixed IEEE "
    "sequences on the exact sums.",
)
def q_corpus_zipf_fit(spark, sf_dir):
    return tx.zipf_fit(_t(spark, sf_dir, "documents"), "text", top_k=1000)


@_q(
    "readability_scores",
    """
WITH base AS (
  SELECT doc_id, trim(lower(text)) AS t FROM documents
),
f AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(t, '\\s+'), w -> w <> '')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT) AS n_term,
         CAST(len(regexp_extract_all(t, '[aeiouy]+')) AS BIGINT) AS n_syllables
  FROM base
)
SELECT doc_id, n_words,
       CASE WHEN n_words > 0 THEN greatest(n_term, 1) END AS n_sentences,
       n_syllables,
       CASE WHEN n_words > 0 AND n_syllables > 0 THEN
         round(CAST(0.39 AS DOUBLE)
                 * (CAST(n_words AS DOUBLE) / CAST(greatest(n_term, 1) AS DOUBLE))
               + CAST(11.8 AS DOUBLE)
                 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
               - CAST(15.59 AS DOUBLE), 6)
       END AS fk_grade
FROM f
""",
    doc="Flesch-Kincaid-style readability per document "
    "(operators/textops.py:readability_scores) — the standard corpus "
    "filter signal (too-low grade = fragmentary text; too-high = OCR "
    "noise / run-on boilerplate). Words, terminator-run sentences, "
    "vowel-group syllable proxy, FK grade 0.39*(w/s) + 11.8*(syl/w) "
    "- 15.59. Pure Catalyst regexp counting: one map-side pass, no "
    "shuffle, RATIONAL arithmetic only; degenerate docs NULL-guarded.",
)
def q_readability_scores(spark, sf_dir):
    return tx.readability_scores(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )


@_q(
    "corpus_health_report",
    f"""
WITH {_CURATE_Q_CTE},
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM documents
),
fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS BIGINT) AS nd
  FROM documents
),
qa AS (
  SELECT round(CAST(sum(CAST(round(quality_score, 6) AS DECIMAL(27,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS mean_quality,
         round(CAST(sum(CASE WHEN quality_score >= 0.45 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS gate_pass_rate
  FROM q
),
counts AS (
  SELECT w, count(*) AS c
  FROM (SELECT trim(unnest(string_split_regex(trim(lower(text)), '\\s+'))) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY w
),
head AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 1000),
pts AS (
  SELECT round(ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)), 6) AS lr,
         round(ln(CAST(c AS DOUBLE)), 6) AS lf
  FROM head
),
zm AS (
  SELECT CAST(count(*) AS DOUBLE) AS nd_,
         CAST(sum(CAST(round(lr, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(round(lf, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(round(lr * lf, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(round(lr * lr, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sxx
  FROM pts
),
zf AS (
  SELECT round((nd_ * sxy - sx * sy) / (nd_ * sxx - sx * sx), 6) AS zipf_slope
  FROM zm
),
fk AS (
  SELECT doc_id, trim(lower(text)) AS t FROM documents
),
fk2 AS (
  SELECT CAST(len(list_filter(string_split_regex(t, '\\s+'), w -> w <> '')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT) AS n_term,
         CAST(len(regexp_extract_all(t, '[aeiouy]+')) AS BIGINT) AS n_syl
  FROM fk
),
fk3 AS (
  SELECT round(CAST(sum(CAST(round(CAST(0.39 AS DOUBLE)
                    * (CAST(n_words AS DOUBLE) / CAST(greatest(n_term, 1) AS DOUBLE))
                  + CAST(11.8 AS DOUBLE)
                    * (CAST(n_syl AS DOUBLE) / CAST(n_words AS DOUBLE))
                  - CAST(15.59 AS DOUBLE), 6) AS DECIMAL(27,6))) AS DOUBLE)
               / CAST(sum(CASE WHEN n_words > 0 AND n_syl > 0 THEN 1 ELSE 0 END) AS DOUBLE),
               6) AS mean_fk_grade
  FROM fk2 WHERE n_words > 0 AND n_syl > 0
)
SELECT b.n_docs, b.n_sources, b.n_langs,
       round(CAST(1.0 AS DOUBLE) - CAST(fp.nd AS DOUBLE) / CAST(fp.n AS DOUBLE), 6) AS dup_rate,
       qa.mean_quality, qa.gate_pass_rate, zf.zipf_slope, fk3.mean_fk_grade
FROM base b, fp, qa, zf, fk3
""",
    doc="ONE-ROW corpus health dashboard composing five tiers in a "
    "single declarative plan: size/diversity counts, exact-"
    "fingerprint duplicate rate, mean quality + gate pass rate (the "
    "exact curate predicate), the Zipf head slope, and mean "
    "Flesch-Kincaid grade — the table a data-curation standup reads. "
    "Every sub-metric reuses the SAME operators its standalone query "
    "verifies (quality_features, doc_fingerprints, zipf_fit, "
    "readability_scores); the 1-row aggregates meet via broadcast "
    "cross joins (bounded-cross). Mean aggregates are 6dp-rounded "
    "terms DECIMAL-summed — order-free.",
)
def q_corpus_health_report(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
    )
    # Every per-count division is guarded for the count = 0 (empty
    # relation) case — NULL rates, SQL semantics, never an ANSI crash.
    fp = tx.doc_fingerprints(docs, "doc_id", "text").agg(
        F.when(
            F.count(F.lit(1)) > 0,
            F.lit(1.0)
            - F.count_distinct("fingerprint").cast("double")
            / F.count(F.lit(1)).cast("double"),
        ).alias("__dup")
    ).select(F.round("__dup", 6).alias("dup_rate"))
    q = tx.quality_features(docs, "doc_id", "text")
    qa = q.agg(
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(
                F.sum(
                    F.round("quality_score", 6).cast("decimal(27,6)")
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ),
        ).alias("mean_quality"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(
                F.sum(
                    F.when(F.col("quality_score") >= 0.45, 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ),
        ).alias("gate_pass_rate"),
    )
    zf = tx.zipf_fit(docs, "text", top_k=1000).select(
        F.col("slope").alias("zipf_slope")
    )
    fk = (
        tx.readability_scores(docs, "doc_id", "text")
        .where(F.col("fk_grade").isNotNull())
        .agg(
            F.round(
                F.sum(F.round("fk_grade", 6).cast("decimal(27,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_fk_grade")
        )
    )
    return (
        base.crossJoin(F.broadcast(fp))
        .crossJoin(F.broadcast(qa))
        .crossJoin(F.broadcast(zf))
        .crossJoin(F.broadcast(fk))
        .select(
            "n_docs", "n_sources", "n_langs", "dup_rate",
            "mean_quality", "gate_pass_rate", "zipf_slope",
            "mean_fk_grade",
        )
    )


@_q(
    "event_type_burstiness",
    """
WITH daily AS (
  SELECT event_type AS g, CAST(ts AS DATE) AS d, count(*) AS x
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_days,
         sum(CAST(x AS HUGEINT)) AS s,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
  FROM daily GROUP BY 1
)
SELECT g AS event_type, n_days,
       round(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS mean_daily,
       CASE WHEN s > 0 THEN
         round((CAST(n_days AS DOUBLE) * CAST(q AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               / (CAST(n_days AS DOUBLE) * CAST(s AS DOUBLE)), 6)
       END AS fano
FROM m ORDER BY event_type
""",
    doc="Fano factor (index of dispersion) of daily counts per event "
    "type (operators/timeseries.py:burstiness_by_group) — var/mean "
    "== 1 for Poisson traffic, >>1 bursty (retry storms, bot "
    "floods), <<1 rate-limited; pairs with daily_event_acf (rhythm "
    "vs clumping). Denominators cleared so the ONLY float op is one "
    "double division of exact DECIMAL(38,0)/HUGEINT moments (Q ~ "
    "1e23 at 1e10 rows/day); zero-mean groups NULL-guarded. One "
    "combinable (type, day) groupBy + a tiny moment aggregate.",
)
def q_event_type_burstiness(spark, sf_dir):
    return ts_ops.burstiness_by_group(
        _t(spark, sf_dir, "events"), "ts", "event_type"
    )


# Supplier co-supply k-NN graph: each supplier keeps its 3 strongest
# co-supply partners (shared-order count, deterministic tiebreak) — a
# scale-free construction shared by the triangle / k-core queries.
KNN_EDGES_CTE = """co AS (
  SELECT l1.l_suppkey AS a, l2.l_suppkey AS b,
         count(DISTINCT l1.l_orderkey) AS cnt
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_suppkey <> l2.l_suppkey
  GROUP BY 1, 2
),
knn AS (
  SELECT a, b FROM (
    SELECT a, b,
           row_number() OVER (PARTITION BY a ORDER BY cnt DESC, b ASC) AS rk
    FROM co
  ) WHERE rk <= 3
),
und AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM knn)"""


def _supplier_knn_edges(spark, sf_dir) -> DataFrame:
    """Spark twin of KNN_EDGES_CTE's ``knn`` relation (directed pairs;
    consumers symmetrize/dedup as needed).

    The (orderkey, suppkey) dedup runs BEFORE the self-join, not as a
    count_distinct after it: a supplier appears once per LINEITEM but
    co-supply counts orders, so deduping first both shrinks the
    self-join input (orders × suppliers, not orders × lineitems) and
    turns the expensive distinct-aggregate into a plain map-side-
    combinable count — identical result (count DISTINCT orderkey ==
    plain count over deduped pairs), measured ~2× on the shared
    kcore/triangles graph build."""
    from pyspark.sql import Window

    l = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    r = l.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("b")
    )
    co = (
        l.join(r, (F.col("l_orderkey") == F.col("o2")))
        .where(F.col("l_suppkey") != F.col("b"))
        .groupBy(F.col("l_suppkey").alias("a"), "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("a").orderBy(F.desc("cnt"), F.asc("b"))
    return (
        co.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("a", "b")
    )


@_q(
    "supplier_graph_assortativity",
    "WITH "
    + KNN_EDGES_CTE
    + """,
sym AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
pairs AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM sym JOIN deg du ON sym.u = du.u JOIN deg dv ON sym.v = dv.u
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n2,
         sum(CAST(dx AS HUGEINT)) AS sx,
         sum(CAST(dy AS HUGEINT)) AS sy,
         sum(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS sxy,
         sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
         sum(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS syy
  FROM pairs
)
SELECT CAST(n2 / 2 AS BIGINT) AS n_edges,
       CASE WHEN CAST(n2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND CAST(n2 AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
         round((CAST(n2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n2 AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       END AS assortativity
FROM m
""",
    doc="Degree assortativity of the supplier co-supply k-NN graph "
    "(operators/graph.py:degree_assortativity; Newman 2002): Pearson "
    "over endpoint degrees, both orientations per undirected edge — "
    "positive = hubs link hubs, negative = hub-and-spoke; on a dedup/"
    "co-occurrence graph this reads whether duplication is one giant "
    "hub or a mesh. Shares the exact edge construction the triangle/"
    "k-core queries verify; integer degrees, DECIMAL(38,0)/HUGEINT "
    "moments, one IEEE tail; degree-regular graphs NULL-guarded.",
)
def q_supplier_graph_assortativity(spark, sf_dir):
    knn = _supplier_knn_edges(spark, sf_dir)
    und = knn.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    return graph.degree_assortativity(und, "a", "b")


@_q(
    "supplier_knn_triangles",
    "WITH "
    + KNN_EDGES_CTE
    + """,
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
              THEN u.b ELSE u.a END AS v,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
              THEN db.deg ELSE da.deg END AS dv
  FROM und u JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node
),
wedges AS (
  SELECT e1.u, e1.v AS v1, e2.v AS v2
  FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u
  WHERE (e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v)
),
tri AS (
  SELECT w.u, w.v1, w.v2
  FROM wedges w JOIN oriented o ON w.v1 = o.u AND w.v2 = o.v
),
tri_nodes AS (
  SELECT u AS node FROM tri
  UNION ALL SELECT v1 FROM tri
  UNION ALL SELECT v2 FROM tri
)
SELECT node, count(*) AS n_triangles FROM tri_nodes GROUP BY node
""",
    doc="Per-node triangle counts over the supplier k-NN co-supply "
    "graph (operators/graph.py:triangle_counts — compact-forward with "
    "degree-ordered orientation, Latapy 2008 / Suri & Vassilvitskii "
    "WWW'11). The graph keeps each supplier's 3 strongest co-supply "
    "partners (count of shared orders, deterministic (cnt DESC, id) "
    "tiebreak) — a scale-free construction: density never degenerates "
    "to complete (small SF) or empty (large SF) as absolute thresholds "
    "do. Orientation from the lower-(deg,id) endpoint bounds every "
    "out-degree by O(sqrt(m)), so the wedge self-join is O(m^1.5) "
    "worst-case instead of hub-quadratic — THE known-safe triangle "
    "plan at 100 TB. 3 shuffles past the degree agg; no driver "
    "collect; each triangle enumerated exactly once via the "
    "(deg,id)-chain u<v<w.",
)
def q_supplier_knn_triangles(spark, sf_dir):
    return graph.triangle_counts(_supplier_knn_edges(spark, sf_dir), "a", "b")


def _kcore_oracle_sql(k: int = 3, rounds: int = 8) -> str:
    """Unrolled peel rounds — the DuckDB twin of graph.py:kcore_peel.
    Round t: degrees over the round-(t-1) survivor set, keep >= k.
    Peeling is monotone, so rounds past the fixpoint are no-ops and
    the fixed unroll equals Spark's early-exited loop (see operator
    docstring for the anytime contract).

    MATERIALIZED hints are load-bearing: DuckDB inlines plain CTEs at
    every reference, and sym / each a{{t}} is referenced twice per
    round — inlined, the k-NN base query re-evaluates exponentially
    down the unroll (measured 69s vs 1.3s at sf0.01)."""
    parts = [
        "WITH "
        + KNN_EDGES_CTE.replace("co AS (", "co AS MATERIALIZED (")
        + """,
sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
),
a0 AS (SELECT DISTINCT u AS node FROM sym)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(f""",
d{t} AS (
  SELECT s.u, count(*) AS core_deg
  FROM sym s JOIN a{t - 1} x ON s.u = x.node JOIN a{t - 1} y ON s.v = y.node
  GROUP BY s.u
),
a{t} AS MATERIALIZED (SELECT u AS node FROM d{t} WHERE core_deg >= {k})""")
    parts.append(
        f"\nSELECT u AS node, CAST(core_deg AS BIGINT) AS core_deg"
        f"\nFROM d{rounds} WHERE core_deg >= {k}"
    )
    return "".join(parts)


@_q(
    "supplier_kcore",
    _kcore_oracle_sql(k=3, rounds=8),
    doc="3-core of the supplier k-NN co-supply graph (operators/"
    "graph.py:kcore_peel — iterative peeling, Seidman 1983): "
    "repeatedly drop suppliers with < 3 surviving co-supply partners; "
    "what remains is the densely inter-connected trade core, the "
    "graph-side density screen (spam rings / bot cliques in a "
    "curation pipeline). Anytime contract like pagerank: both engines "
    "run exactly 8 peel rounds; peeling is monotone so early "
    "convergence equals the full unroll. An edge list under the "
    "broadcast threshold is collected once and peeled on the driver "
    "(one bounded collect instead of ~15 round jobs); a larger one, "
    "float ids, or a threshold of -1 run the distributed loop: per "
    "round ONE survivor semi-join + ONE map-side-combinable degree "
    "count, survivor lineage cut every round (lazy localCheckpoint, "
    "materialized by the round's convergence count), edges "
    "symmetrized + deduped once and persisted across rounds.",
)
def q_supplier_kcore(spark, sf_dir):
    return graph.kcore_peel(
        _supplier_knn_edges(spark, sf_dir), k=3, rounds=8, src="a", dst="b"
    )


@_q(
    "event_value_mad_outliers",
    """
WITH m AS (SELECT quantile_cont(CAST(value AS DOUBLE), 0.5) AS med FROM events),
d AS (SELECT event_id, CAST(value AS DOUBLE) AS v, m.med,
             abs(CAST(value AS DOUBLE) - m.med) AS ad
      FROM events, m),
s AS (SELECT quantile_cont(ad, 0.5) AS mad FROM d),
z AS (
  SELECT event_id, v AS value,
         CASE WHEN s.mad > 0
              THEN round(0.6745 * (d.v - d.med) / s.mad, 6) END AS robust_z
  FROM d, s
)
SELECT * FROM z WHERE abs(robust_z) > 3.5
""",
    doc="Median/MAD robust outlier screen on event values (operators/"
    "quality.py:mad_outliers, Hampel's rule): |0.6745·(x−med)/MAD| > "
    "3.5. The mean/stddev z-score family has breakdown point 0 — the "
    "heavy tail being hunted drags its own yardstick (this fixture's "
    "value column: max robust-z 12.8 but max classic-z far lower "
    "because the tail inflates sigma); median and MAD have breakdown "
    "50%. Two 1-row exact-median aggregates broadcast back as "
    "literals, flagging pass map-side; MAD==0 NULL-guarded (no ANSI "
    "divide-by-zero; degenerate corpus → empty result). At true scale "
    "swap percentile → percentile_approx (mergeable sketch).",
)
def q_event_value_mad_outliers(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("event_id", "value")
    return dq.mad_outliers(e, "event_id", "value", z_threshold=3.5)


@_q(
    "event_value_drift",
    """
WITH binned AS (
  SELECT event_type AS grp,
         CAST(greatest(0, least(19, floor(value / 25.0))) AS INT) AS bin,
         sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS bb
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
tot AS (
  SELECT grp, CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(bb) AS BIGINT) AS n_b,
         count(*) AS occ
  FROM binned GROUP BY 1
),
terms AS (
  SELECT b.grp, t.n_a, t.n_b, t.occ,
         abs(CAST(b.a + 1 AS HUGEINT) * CAST(t.n_b + 20 AS HUGEINT)
           - CAST(b.bb + 1 AS HUGEINT) * CAST(t.n_a + 20 AS HUGEINT)) AS anum
  FROM binned b JOIN tot t ON b.grp = t.grp
)
SELECT grp AS event_type, n_a, n_b,
       round(CAST(sum(anum)
                  + (20 - occ) * abs(CAST(n_b AS HUGEINT) - CAST(n_a AS HUGEINT))
             AS DOUBLE)
             / CAST(CAST(n_a + 20 AS HUGEINT) * CAST(n_b + 20 AS HUGEINT) AS DOUBLE)
             / 2.0, 6) AS tv,
       round(CAST(greatest(max(anum),
                           CASE WHEN occ < 20
                                THEN abs(CAST(n_b AS HUGEINT) - CAST(n_a AS HUGEINT))
                                ELSE CAST(0 AS HUGEINT) END)
             AS DOUBLE)
             / CAST(CAST(n_a + 20 AS HUGEINT) * CAST(n_b + 20 AS HUGEINT) AS DOUBLE),
             6) AS max_dev
FROM terms
GROUP BY grp, n_a, n_b, occ
""",
    doc="Distribution-drift gate per event type (operators/"
    "timeseries.py:histogram_drift): value histograms before vs after "
    "2024-01-16 compared by total-variation distance and worst-bin "
    "deviation over 20 Laplace-smoothed fixed-width bins. Metrics are "
    "deliberately rational (PSI/KL need ln — not correctly-rounded "
    "across libms): both reduce to EXACT integer sums/maxes over a "
    "per-group common denominator, with ONE double division at the "
    "end — deterministic across engines, partition counts, and AQE "
    "re-plans. DECIMAL(38,0) accumulation (HUGEINT in the oracle): "
    "num_i reaches ~1e24 at 1e12-row groups, past int64. Plan: ONE "
    "(group, bin) shuffle with conditional partial counts + tiny "
    "broadcast-back of group totals; empty bins enter via a "
    "closed-form correction, not a densifying spine join.",
)
def q_event_value_drift(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    return ts_ops.histogram_drift(
        e, "ts", "value", "event_type", split="2024-01-16",
        bin_width=25.0, n_bins=20,
    )


@_q(
    "corpus_diversity_by_source",
    r"""
WITH tok AS (
  SELECT source AS grp,
         trim(unnest(string_split_regex(trim(lower(text)), '\s+'))) AS w
  FROM documents
),
counts AS (
  SELECT grp, w, count(*) AS n FROM tok WHERE w <> '' GROUP BY grp, w
),
g AS (
  SELECT grp,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         count(*) AS n_types,
         sum(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT)) AS same2,
         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
  FROM counts GROUP BY grp
)
SELECT grp AS source, n_tokens, n_types,
       round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
       CASE WHEN n_tokens > 1 THEN
         round(1.0 - CAST(same2 AS DOUBLE)
               / CAST(CAST(n_tokens AS HUGEINT) * CAST(n_tokens - 1 AS HUGEINT) AS DOUBLE), 6)
       END AS gini_simpson,
       round(CAST(hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6) AS hapax_ratio
FROM g
""",
    doc="Lexical-diversity profile per document source (operators/"
    "textops.py:diversity_by_group): type-token ratio, Gini-Simpson "
    "diversity (P[two tokens drawn w/o replacement differ]), hapax "
    "ratio — the corpus-mix dashboard that catches boilerplate "
    "sources (low diversity) and OCR-noise sources (inflated hapax "
    "share) before they enter a training mixture. All metrics "
    "RATIONAL by design (entropy needs ln — not correctly-rounded "
    "across libms); Σnᵢ(nᵢ−1) accumulates in DECIMAL(38,0)/HUGEINT "
    "(past int64 at ~1e10-count types), single double division at "
    "the end. Plan: explode → ONE map-side-combinable (source, "
    "token) count → ONE source rollup.",
)
def q_corpus_diversity_by_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("source", "text")
    return tx.diversity_by_group(d, "source", "text")


@_q(
    "event_sequence_motifs",
    """
WITH steps AS (
  SELECT event_type AS t1,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WHERE event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT t1 || '>' || t2 || '>' || t3 AS motif, count(*) AS cnt
FROM steps WHERE t3 IS NOT NULL
GROUP BY 1
ORDER BY cnt DESC, motif ASC
LIMIT 100
""",
    doc="Population-wide contiguous 3-step behavior motifs (operators/"
    "behavior.py:sequence_motifs): per-user streams ordered by (ts, "
    "event_id), every consecutive type trigram counted and top-100 "
    "ranked — the exploratory flip side of funnel_counts (which "
    "verifies ONE hypothesized path; this surfaces which paths "
    "exist). ONE per-user window pass (two lead()s, user-keyed "
    "shuffle — maximally spread, never salted), map-side-combinable "
    "count, TakeOrderedAndProject top-k with lexicographic tiebreak; "
    "unique event_id tiebreak makes equal-ts ordering deterministic "
    "across engines.",
)
def q_event_sequence_motifs(spark, sf_dir):
    from ..operators import behavior as bh

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return bh.sequence_motifs(e, "user_id", "ts", "event_type", "event_id", top=100)


@_q(
    "pagerank_supplier_graph",
    _pagerank_oracle_sql(iters=3),
    doc="3-iteration PageRank over the customer→supplier trade graph "
    "(operators/graph.py:pagerank_integer) in EXACT integer "
    "arithmetic — ranks scaled by 1e12, every step integer div/mul/"
    "add, so the result is bit-identical across engines and partition "
    "counts (FP PageRank is neither). Per iteration: ONE shuffle join "
    "(edges ⋈ ranks on src) + ONE groupBy(dst) with map-side partial "
    "sums; node count is one driver scalar (the CC per-round count "
    "budget), folded in as a literal. Edges dedup "
    "once up front; on a cluster, pre-partition edges by src and "
    "every iteration reuses the exchange. An edge list under the "
    "broadcast threshold runs the same integer steps on the driver "
    "after one bounded collect; a rank past the long range, float "
    "ids or a threshold of -1 keep the distributed loop.",
)
def q_pagerank_supplier_graph(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return graph.pagerank_integer(edges, iters=3)


@_q(
    "bpe_merge_pairs",
    r"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substr(w, CAST(i AS INT), 2))) AS pair
  FROM words
  WHERE length(w) >= 2
)
SELECT pair, count(*) AS cnt
FROM pairs
GROUP BY pair
ORDER BY cnt DESC, pair ASC
LIMIT 50
""",
    doc="One BPE merge round's counting pass (operators/textops.py:"
    "bpe_pair_counts): adjacent character-pair frequencies over "
    "whitespace words, built map-side (transform over in-word "
    "offsets, no per-doc shuffle), ONE groupBy with partial "
    "aggregation, top-50 via TakeOrderedAndProject with lexicographic "
    "tiebreak. The highest-count pair is the next merge rule "
    "(Sennrich et al. 2016); at corpus scale this pass IS the "
    "tokenizer-training bottleneck and it is one shuffle here.",
)
def q_bpe_merge_pairs(spark, sf_dir):
    return tx.bpe_pair_counts(_t(spark, sf_dir, "documents"), top=50)


def _bpe_oracle_sql(merges: int = 6) -> str:
    """Unrolled iterated-BPE CTE chain — the DuckDB twin of
    textops.py:bpe_train, but via a DIFFERENT algorithm: words are
    kept as chr(31)-delimited symbol strings ('\\x1fa\\x1f\\x1fb\\x1f')
    and each round's winning rule is applied with plain string
    replace(), whose left-to-right non-overlapping semantics equal the
    Spark side's greedy array fold (the '@A@@B@' boundary encoding
    makes adjacent matches share no bytes, so replace() cannot skip a
    second occurrence). Two independent merge implementations agreeing
    on every (round, pair, count) is the correctness argument."""
    sep = "chr(31)"
    dsep = "chr(31) || chr(31)"
    parts = [r"""
WITH words AS (
  SELECT w, count(*) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents)
  WHERE length(w) >= 2
  GROUP BY w
),
v0 AS (
  SELECT cnt,
         regexp_replace(w, '(.)', chr(31) || '\1' || chr(31), 'g') AS r
  FROM words
)"""]
    for t in range(1, merges + 1):
        parts.append(f""",
p{t} AS (
  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(s) - 1),
                  i -> s[i] || ' ' || s[i + 1])) AS pair,
           cnt
    FROM (SELECT string_split(substr(r, 2, length(r) - 2), {dsep}) AS s,
                 cnt
          FROM v{t - 1})
  ) GROUP BY pair
),
b{t} AS (
  SELECT {t} AS merge_round, pair, cnt
  FROM p{t} ORDER BY cnt DESC, pair ASC LIMIT 1
),
v{t} AS (
  SELECT v.cnt,
         replace(v.r,
                 {sep} || replace(b.pair, ' ', {dsep}) || {sep},
                 {sep} || replace(b.pair, ' ', '') || {sep}) AS r
  FROM v{t - 1} v, b{t} b
)""")
    parts.append(
        "\n"
        + "\nUNION ALL\n".join(
            f"SELECT merge_round, pair, cnt FROM b{t}"
            for t in range(1, merges + 1)
        )
    )
    return "".join(parts)


def _bpe_encode_oracle_sql(merges: int = 6) -> str:
    """Oracle for the tokenizer-APPLICATION pass: re-derives the merge
    rules with the same training CTE chain as _bpe_oracle_sql, then
    pushes EVERY document's words (not the distinct vocab) through the
    rules via the delimited-string replace and counts surviving
    symbols per doc."""
    sep = "chr(31)"
    dsep = "chr(31) || chr(31)"
    base = _bpe_oracle_sql(merges)
    chain = base[: base.index("\nSELECT merge_round")]
    parts = [chain]
    parts.append(f""",
dw0 AS (
  SELECT doc_id,
         regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31), 'g') AS r
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents)
  WHERE length(w) >= 1
)""")
    for t in range(1, merges + 1):
        # LEFT JOIN, not cross join: a degenerate corpus (all words
        # single-symbol) learns FEWER than `merges` rules, leaving
        # b{t} empty — a cross join would wipe every document out of
        # the chain; the encoder must pass docs through unchanged
        # when round t has no rule (the Spark side applies an empty
        # rule list as a no-op).
        parts.append(f""",
dw{t} AS (
  SELECT d.doc_id,
         CASE WHEN b.pair IS NULL THEN d.r
              ELSE replace(d.r,
                 {sep} || replace(b.pair, ' ', {dsep}) || {sep},
                 {sep} || replace(b.pair, ' ', '') || {sep}) END AS r
  FROM dw{t - 1} d LEFT JOIN b{t} b ON TRUE
)""")
    parts.append(f"""
SELECT doc_id,
       CAST(count(*) AS INT) AS n_words,
       CAST(SUM(len(string_split(substr(r, 2, length(r) - 2), {dsep})))
            AS INT) AS n_bpe_tokens
FROM dw{merges}
GROUP BY doc_id""")
    return "".join(parts)


@_q(
    "bpe_merged_vocab",
    _bpe_oracle_sql(merges=6),
    doc="FULL iterated BPE training (Sennrich et al. 2016), 6 merge "
    "rounds — extends bpe_merge_pairs' single counting pass to the "
    "real count → argmax → merge-everywhere loop (textops.py:"
    "bpe_train). Scale shape: ONE corpus scan builds the word-"
    "frequency table, then every round runs on |vocab| rows — "
    "map-side pair explode, one cnt-weighted groupBy, top-1 "
    "TakeOrderedAndProject, and a pure-Catalyst array fold applying "
    "the rule (greedy left-to-right, standard BPE semantics — 'aaa' "
    "+ rule (a,a) gives [aa, a]). One bounded 1-row collect per "
    "round (the argmax), same anytime-iteration shape as kmeans. "
    "Oracle replays the loop via an INDEPENDENT algorithm (delimited-"
    "string replace in unrolled CTEs).",
    scale_note="driver-paced iteration — one 1-row collect + one Spark "
    "job PER merge round, linear in `merges`, not in data. The "
    "contract is merges = small constant (demo uses 6); a real 30k-"
    "merge tokenizer would mean 30k sequential jobs — at that scale "
    "train the vocab off-cluster on the word-frequency table this "
    "operator's ONE corpus scan produces (|vocab| rows, tiny), then "
    "ship the rules to bpe_encoded_token_counts, whose encode is "
    "map-side and scale-safe",
)
def q_bpe_merged_vocab(spark, sf_dir):
    return tx.bpe_train(_t(spark, sf_dir, "documents"), merges=6)


@_q(
    "bpe_encoded_token_counts",
    _bpe_encode_oracle_sql(merges=6),
    doc="Tokenizer APPLICATION: the 6 merge rules learned by "
    "bpe_merged_vocab, applied to every document (textops.py:"
    "bpe_encode_counts) — train once, encode everything, the pair a "
    "real pipeline ships. The encode itself is one narrow map-side "
    "projection (rules frozen as literals, nested pure-Catalyst "
    "folds, greedy left-to-right merge semantics identical to the "
    "trainer's counting): no shuffle, no UDF, trivially parallel at "
    "100 TB. Oracle re-derives the rules with the training CTE chain "
    "and replays the encode via delimited-string replaces.",
    scale_note="the TRAINING arm inherits bpe_merged_vocab's driver-"
    "paced one-job-per-merge contract (merges = small constant); the "
    "encode half is map-side and scale-safe — at scale freeze rules "
    "from an offline/off-cluster trainer and call textops."
    "bpe_encode_counts directly",
)
def q_bpe_encoded_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    learned = tx.bpe_train(d, merges=6).collect()
    rules = [tuple(r["pair"].split(" ", 1)) for r in learned]
    return tx.bpe_encode_counts(d, rules)


@_q(
    "incremental_daily_event_counts",
    """
SELECT CAST(ts AS DATE) AS day,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY CAST(ts AS DATE)
""",
    doc="Incremental aggregate maintenance: the standing per-day state "
    "(events before the cutoff) and the new micro-batch (events after) "
    "are aggregated SEPARATELY, then merged by re-aggregating the "
    "algebraic partials — count via SUM, sum via SUM, min/max via "
    "MIN/MAX. The oracle recomputes from scratch; equality holds "
    "because these aggregates are commutative monoids (the property "
    "that makes 100 TB incremental pipelines possible: each batch "
    "touches only its own rows plus the merge, never the history). "
    "Mirrors the reference's monthly-batch + MERGE cadence "
    "(silver_to_gold_on_minio.py:127-144) in aggregate space.",
)
def q_incremental_daily_event_counts(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "value"
    )
    cutoff = "2024-01-20"

    def partial(df):
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,4)")).alias("__dsum"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    state = partial(e.where(F.col("day") < cutoff))
    batch = partial(e.where(F.col("day") >= cutoff))
    merged = state.unionByName(batch).groupBy("day").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("__dsum").cast("double").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    return merged


@_q(
    "orders_events_daily_full_join",
    """
WITH od AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
  FROM orders GROUP BY 1
),
ed AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY 1
)
SELECT coalesce(od.day, ed.day) AS day,
       coalesce(od.n_orders, 0) AS n_orders,
       coalesce(ed.n_events, 0) AS n_events
FROM od FULL OUTER JOIN ed ON od.day = ed.day
""",
    doc="FULL OUTER join coverage (the one join type the registry "
    "lacked): daily order counts vs daily event counts, both sides "
    "pre-aggregated so the outer join runs on |distinct days| rows, "
    "never fact×fact; unmatched days coalesce to 0. The fixture's "
    "order and event date ranges are disjoint, so BOTH null sides are "
    "exercised.",
)
def q_orders_events_daily_full_join(spark, sf_dir):
    od = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    ed = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    j = od.alias("od").join(
        ed.alias("ed"), F.col("od.day") == F.col("ed.day"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("od.day"), F.col("ed.day")).alias("day"),
        F.coalesce("od.n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("ed.n_events", F.lit(0)).alias("n_events"),
    )


@_q(
    "key_skew_report",
    """
WITH per_key AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
),
tot AS (
  SELECT count(*) AS n_keys, SUM(n) AS n_rows, max(n) AS max_n
  FROM per_key
)
SELECT per_key.user_id, per_key.n,
       round(CAST(per_key.n AS DOUBLE) / tot.n_rows, 6) AS share,
       round(CAST(per_key.n AS DOUBLE) * tot.n_keys / tot.n_rows, 6)
         AS skew_ratio
FROM per_key, tot
WHERE per_key.n * tot.n_keys * 2 > tot.n_rows
ORDER BY per_key.n DESC, per_key.user_id ASC
LIMIT 20
""",
    doc="Shuffle-skew diagnosis — the report you run BEFORE choosing "
    "salting (operators/joins.py:salted_join) or AQE skew thresholds: "
    "per-key row counts, each key's share of the table, and its "
    "skew_ratio (count ÷ the uniform expectation rows/keys); keys at "
    "ratio > 0.5× uniform shown, worst first. One groupBy + a 1-row "
    "broadcast of the totals; the top-k is TakeOrderedAndProject.",
)
def q_key_skew_report(spark, sf_dir):
    per_key = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
    )
    j = per_key.crossJoin(F.broadcast(tot))
    return (
        j.where(F.col("n") * F.col("n_keys") * 2 > F.col("n_rows"))
        .select(
            "user_id",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_rows"), 6).alias(
                "share"
            ),
            F.round(
                F.col("n").cast("double") * F.col("n_keys") / F.col("n_rows"),
                6,
            ).alias("skew_ratio"),
        )
        .orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(20)
    )


@_q(
    "customer_rfm_segments",
    """
WITH per_cust AS (
  SELECT o_custkey,
         date_diff('day', CAST(max(o_orderdate) AS DATE),
                   (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
           AS recency_days,
         count(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
           AS monetary
  FROM orders
  GROUP BY o_custkey
)
SELECT CASE WHEN recency_days <= 365 THEN 'active'
            WHEN recency_days <= 1095 THEN 'lapsing'
            ELSE 'dormant' END AS recency_band,
       CASE WHEN frequency >= 15 THEN 'frequent'
            WHEN frequency >= 8 THEN 'regular'
            ELSE 'occasional' END AS frequency_band,
       count(*) AS n_customers,
       CAST(SUM(CAST(monetary AS DECIMAL(27,4))) AS DOUBLE)
         AS total_monetary
FROM per_cust
GROUP BY 1, 2
""",
    doc="RFM (recency/frequency/monetary) segmentation: one pass "
    "builds per-customer recency against the global max date (a 1-row "
    "broadcast, never a driver collect), order counts, and decimal-"
    "exact spend; fixed band edges (not data-dependent quantiles) "
    "keep segment assignment deterministic and cross-engine; a second "
    "small aggregate rolls the segments up. Two shuffles total, both "
    "on o_custkey then on the tiny band pair.",
)
def q_customer_rfm_segments(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    gmax = o.agg(F.max(F.to_date("o_orderdate")).alias("__gmax"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            agg.exact_sum("o_totalprice", "monetary"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            F.datediff(F.col("__gmax"), F.col("last_day")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    rband = (
        F.when(F.col("recency_days") <= 365, "active")
        .when(F.col("recency_days") <= 1095, "lapsing")
        .otherwise("dormant")
    )
    fband = (
        F.when(F.col("frequency") >= 15, "frequent")
        .when(F.col("frequency") >= 8, "regular")
        .otherwise("occasional")
    )
    return (
        per_cust.select(
            rband.alias("recency_band"),
            fband.alias("frequency_band"),
            "monetary",
        )
        .groupBy("recency_band", "frequency_band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            agg.exact_sum("monetary", "total_monetary"),
        )
    )


@_q(
    "part_supplier_diversity",
    """
SELECT p_brand, p_type,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
GROUP BY p_brand, p_type
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC
LIMIT 25
""",
    doc="TPC-H Q16 shape (parts/supplier relationship): supplier "
    "diversity per (brand, type) with an exclusion list applied as a "
    "broadcast LEFT ANTI join BEFORE the expensive distinct aggregate "
    "(filter early, count late). count(DISTINCT) plans as the "
    "standard two-phase expand/aggregate; top-25 via "
    "TakeOrderedAndProject with full lexicographic tiebreak so the "
    "selected set is engine-independent.",
)
def q_part_supplier_diversity(spark, sf_dir):
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    kept = l.join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        kept.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
        )
        .limit(25)
    )


@_q(
    "latest_event_per_user",
    """
WITH last AS (
  SELECT user_id,
         max(struct_pack(ts := ts, event_id := event_id,
                         event_type := event_type)) AS m
  FROM events GROUP BY user_id
)
SELECT user_id, m.ts AS last_ts,
       m.event_id AS last_event_id,
       m.event_type AS last_event_type
FROM last
""",
    doc="Latest-per-key WITHOUT a window: max over a (ts, unique-id, "
    "payload) struct — lexicographic struct ordering makes one "
    "hash aggregate with map-side partial max do what row_number-"
    "over-window does with a full per-key SORT. At 100 TB this is the "
    "difference between one combine-enabled shuffle of one struct per "
    "key and sorting every event; the unique event_id tiebreak makes "
    "the winner deterministic across engines. (Window form kept in "
    "top_order_per_customer for when the full ordered frame is "
    "genuinely needed.)",
)
def q_latest_event_per_user(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    last = e.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type")).alias("m")
    )
    return last.select(
        "user_id",
        F.col("m.ts").alias("last_ts"),
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.event_type").alias("last_event_type"),
    )


@_q(
    "orders_table_checksum",
    f"""
SELECT count(*) AS n_rows,
       bit_xor({md5_long_sql(
           "concat_ws('|', CAST(o_orderkey AS VARCHAR), "
           "CAST(o_custkey AS VARCHAR), o_orderstatus, o_orderpriority)"
       )}) AS checksum
FROM orders
""",
    doc="Order-independent table fingerprint: every row hashes to a "
    "60-bit md5-derived integer (functions/hashing.py — engine-"
    "portable by construction) and the XOR aggregate folds them; XOR "
    "is commutative/associative, so partial aggregation runs map-side "
    "and the result is identical for ANY row order, partitioning, or "
    "engine. This is how two 100 TB replicas (or a migration "
    "source/target pair) are compared without moving data: ship one "
    "16-byte (count, checksum) row per table — the anti-entropy "
    "pattern. String-rendered key/status columns only: float and "
    "timestamp renderings are engine-specific, keys are the identity.",
)
def q_orders_table_checksum(spark, sf_dir):
    from ..functions.hashing import md5_long

    o = _t(spark, sf_dir, "orders")
    row_hash = md5_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            "o_orderstatus",
            "o_orderpriority",
        )
    )
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(row_hash).alias("checksum"),
    )


@_q(
    "eval_contaminated_docs",
    f"""
SELECT CASE WHEN doc_a % 20 = 0 THEN doc_b ELSE doc_a END AS corpus_doc,
       CASE WHEN doc_a % 20 = 0 THEN doc_a ELSE doc_b END AS eval_doc,
       jaccard
FROM ({_minhash_oracle(k=12, bands=4, threshold=0.8)}) mp
WHERE (doc_a % 20 = 0) <> (doc_b % 20 = 0)
""",
    doc="FUZZY decontamination — the near-dup complement of "
    "decontaminated_docs' exact 4-gram blocklist: a corpus document "
    "is flagged when MinHash LSH banding collides it with a held-out "
    "eval document (doc_id % 20 = 0 plays the eval split) AND exact "
    "Jaccard confirms >= 0.8 — catching paraphrased/lightly-edited "
    "benchmark leakage that exact n-gram matching misses (Brown et "
    "al. 2020's decontamination gap). Same banded signature relation "
    "as dedup_minhash_pairs (computed once, persisted); the eval-"
    "parity filter is a post-pass, so at scale the eval side instead "
    "feeds the band join as a small broadcast relation.",
)
def q_eval_contaminated_docs(spark, sf_dir):
    pairs = dd.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        k=12, bands=4, threshold=0.8,
    )
    a_eval = F.col("doc_a") % 20 == 0
    b_eval = F.col("doc_b") % 20 == 0
    return (
        pairs.where(a_eval != b_eval)
        .select(
            F.when(a_eval, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                "corpus_doc"
            ),
            F.when(a_eval, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "eval_doc"
            ),
            "jaccard",
        )
    )


@_q(
    "orders_dq_quarantine",
    """
WITH flagged AS (
  SELECT o_orderkey,
         -- arms listed in sorted rule-name order, matching the
         -- operator's sorted(checks.items()) join order exactly
         concat_ws(';',
           CASE WHEN o_orderstatus NOT IN ('F','O','P')
                  OR o_orderstatus IS NULL THEN 'bad_status' END,
           CASE WHEN o_orderdate < DATE '1990-01-01'
                  OR o_orderdate > DATE '2000-01-01'
                  OR o_orderdate IS NULL THEN 'date_out_of_range' END,
           CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
                THEN 'nonpositive_price' END
         ) AS violations
  FROM orders
)
SELECT o_orderkey, violations FROM flagged WHERE violations <> ''
""",
    doc="Row-level quarantine routing (operators/quality.py:"
    "dq_quarantine) — the dead-letter half of dq_orders_summary's "
    "audit: rows failing >=1 expectation emit with the sorted, "
    "semicolon-joined violated-rule names, ready to land in a "
    "quarantine table while clean rows flow on. One scan, zero "
    "shuffles: every check is a codegen'd per-row boolean; rule names "
    "sort alphabetically in the operator, so the SQL lists them in "
    "the same order.",
)
def q_orders_dq_quarantine(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return dq.dq_quarantine(
        o,
        {
            "bad_status": ~F.col("o_orderstatus").isin("F", "O", "P"),
            "nonpositive_price": F.col("o_totalprice") <= 0,
            "date_out_of_range": (
                F.col("o_orderdate") < F.lit("1990-01-01").cast("date")
            )
            | (F.col("o_orderdate") > F.lit("2000-01-01").cast("date")),
        },
        id_cols=["o_orderkey"],
    )


@_q(
    "compaction_plan",
    f"""
WITH files AS (
  SELECT ((({md5_long_sql("CAST(o_orderkey AS VARCHAR)")}) % 16) + 16) % 16
           AS bucket_16,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
         count(*) AS n_rows
  FROM orders
  GROUP BY 1, 2
),
planned AS (
  SELECT bucket_16, order_month, n_rows,
         SUM(n_rows) OVER (PARTITION BY bucket_16 ORDER BY order_month
                           ROWS UNBOUNDED PRECEDING) AS cum_rows
  FROM files
)
SELECT bucket_16, order_month, n_rows,
       CAST((cum_rows - n_rows) // 2000 AS BIGINT) AS compaction_group
FROM planned
""",
    doc="Small-file compaction planning — the OPTIMIZE scheduling "
    "decision over the per-(bucket, month) file statistics that "
    "storage_partition_layout emits: files order by month within "
    "each bucket, a running row count accumulates, and each file "
    "lands in compaction group floor(preceding_rows / target) — "
    "consecutive small files pack toward the ~2000-row target while "
    "already-large files get groups of their own. The window "
    "partitions by bucket (never global), so planning parallelizes "
    "across buckets exactly like the rewrite jobs it schedules.",
)
def q_compaction_plan(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.hashing import md5_long

    o = _t(spark, sf_dir, "orders")
    files = (
        o.select(
            F.pmod(
                md5_long(F.col("o_orderkey").cast("string")), F.lit(16)
            ).alias("bucket_16"),
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias(
                "order_month"
            ),
        )
        .groupBy("bucket_16", "order_month")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    w = (
        Window.partitionBy("bucket_16")
        .orderBy("order_month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = files.withColumn("cum_rows", F.sum("n_rows").over(w))
    return planned.select(
        "bucket_16",
        "order_month",
        "n_rows",
        F.expr("(cum_rows - n_rows) div 2000").alias("compaction_group"),
    )


@_q(
    "cluster_size_histogram",
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
),
clusters AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id
)
SELECT cluster_size, count(*) AS n_clusters
FROM sizes
GROUP BY cluster_size
""",
    doc="Dedup-run report card: the distribution of near-dup cluster "
    "sizes (how much of the corpus is singletons vs deep duplicate "
    "stacks) — the number a curation team checks before committing a "
    "dedup pass, since a fat tail means boilerplate or crawl loops, "
    "not organic duplication. Two tiny aggregates over the connected-"
    "components output; all heavy lifting is the shared MinHash + CC "
    "path.",
)
def q_cluster_size_histogram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=12, bands=4, threshold=0.8
    )
    clusters = graph.dedup_clusters(docs, pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


@_q(
    "token_count_histogram",
    r"""
WITH tc AS (
  SELECT lang,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INT)
           AS n_tokens
  FROM documents
)
SELECT lang,
       CAST(floor(n_tokens / 32) * 32 AS INT) AS bucket_lo,
       count(*) AS n_docs,
       min(n_tokens) AS min_tokens,
       max(n_tokens) AS max_tokens
FROM tc
GROUP BY lang, CAST(floor(n_tokens / 32) * 32 AS INT)
""",
    doc="Per-language token-length histogram (fixed 32-token buckets): "
    "the curation dashboard behind truncation-loss and packing-"
    "efficiency decisions — sequence length budgeting needs the "
    "distribution, not the mean. Map-side token count, one groupBy on "
    "(lang, bucket); fixed bucket edges keep the histogram mergeable "
    "across corpus shards (monoid, same reason as "
    "incremental_daily_event_counts).",
)
def q_token_count_histogram(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(tx.tokens(F.col("text")))
    tc = d.select(
        "lang", n_tok.alias("n_tokens")
    )
    bucket = (F.floor(F.col("n_tokens") / 32) * 32).cast("int")
    return tc.groupBy("lang", bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


@_q(
    "value_band_rate_lookup",
    """
WITH bands AS (
  SELECT CAST(i AS INT) AS band_id,
         i * 10.0 AS lo, (i + 1) * 10.0 AS hi,
         round(0.01 * (i + 1), 4) AS fee_rate
  FROM (SELECT unnest(generate_series(0, 9)) AS i)
)
SELECT band_id,
       count(*) AS n_events,
       CAST(SUM(CAST(value * fee_rate AS DECIMAL(27,6))) AS DOUBLE)
         AS total_fees
FROM events JOIN bands
  ON value >= lo AND value < hi
GROUP BY band_id
""",
    doc="Interval-table lookup (rate/tariff/IP-range pattern): each "
    "event's value lands in one [lo, hi) band of a small rate table. "
    "A bare BETWEEN join would plan as BroadcastNestedLoopJoin — fine "
    "for 10 bands, quadratic pain for 10⁶ IP ranges — so the operator "
    "computes the band key ARITHMETICALLY (floor(value/width)) and "
    "equi-joins it broadcast, the same bin-then-equi rewrite as "
    "range_join_binned; the residual range check keeps semantics "
    "exact even for bands narrower than the bin. Decimal-exact fee "
    "accumulation.",
)
def q_value_band_rate_lookup(spark, sf_dir):
    bands = spark.range(0, 10).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * 10.0).alias("lo"),
        ((F.col("id") + 1) * 10.0).alias("hi"),
        F.round(0.01 * (F.col("id") + 1), 4).alias("fee_rate"),
    )
    e = _t(spark, sf_dir, "events").select("value")
    keyed = e.withColumn("band_id", F.floor(F.col("value") / 10.0).cast("int"))
    j = keyed.join(F.broadcast(bands), "band_id").where(
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    )
    return j.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            (F.col("value") * F.col("fee_rate")).cast("decimal(27,6)")
        ).cast("double").alias("total_fees"),
    )


@_q(
    "orders_reconciliation_diff",
    f"""
WITH replica AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN 'P' ELSE o_orderstatus END
           AS o_orderstatus,
         o_totalprice
  FROM orders
  WHERE o_orderkey % 113 <> 0
),
replica2 AS (
  SELECT * FROM replica
  UNION ALL
  SELECT -1, 'O', 42.0
),
src AS (
  SELECT o_orderkey,
         {md5_long_sql("concat_ws('|', o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(27,4)) AS VARCHAR))")}
           AS row_hash
  FROM orders
),
dst AS (
  SELECT o_orderkey,
         {md5_long_sql("concat_ws('|', o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(27,4)) AS VARCHAR))")}
           AS row_hash
  FROM replica2
)
SELECT
  CASE WHEN dst.o_orderkey IS NULL THEN 'missing_in_replica'
       WHEN src.o_orderkey IS NULL THEN 'extra_in_replica'
       ELSE 'payload_mismatch' END AS diff_kind,
  count(*) AS n_rows
FROM src FULL OUTER JOIN dst ON src.o_orderkey = dst.o_orderkey
WHERE src.o_orderkey IS NULL OR dst.o_orderkey IS NULL
   OR src.row_hash <> dst.row_hash
GROUP BY 1
""",
    doc="Table reconciliation — the row-level drill-down behind "
    "orders_table_checksum's one-row fingerprint: source vs a "
    "synthetically-drifted replica (every 113th key dropped, every "
    "97th status mutated — deterministic, so the oracle builds the "
    "same replica) compared by key + payload hash. Both sides reduce "
    "to slim (key, 60-bit md5) rows BEFORE the full-outer join, so "
    "the shuffle carries 16 bytes/row regardless of payload width — "
    "how a 100 TB migration diff actually ships. Output: counts by "
    "missing/extra/mismatch.",
)
def q_orders_reconciliation_diff(spark, sf_dir):
    from ..functions.hashing import md5_long

    o = _t(spark, sf_dir, "orders")
    replica = o.where(F.col("o_orderkey") % 113 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("P"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    ).unionByName(
        spark.createDataFrame(
            [(-1, "O", 42.0)],
            "o_orderkey long, o_orderstatus string, o_totalprice double",
        )
    )

    def slim(df):
        # Hash a canonical DECIMAL(27,4) rendering, never the raw float
        # string: float-to-string is engine-specific on exponent/
        # precision edges (see orders_table_checksum's docstring).
        return df.select(
            "o_orderkey",
            md5_long(
                F.concat_ws(
                    "|",
                    F.col("o_orderstatus"),
                    F.col("o_totalprice").cast("decimal(27,4)").cast("string"),
                )
            ).alias("row_hash"),
        )

    src = slim(o).alias("src")
    dst = slim(replica).alias("dst")
    j = src.join(
        dst, F.col("src.o_orderkey") == F.col("dst.o_orderkey"), "full_outer"
    )
    kind = (
        F.when(F.col("dst.o_orderkey").isNull(), "missing_in_replica")
        .when(F.col("src.o_orderkey").isNull(), "extra_in_replica")
        .otherwise("payload_mismatch")
    )
    return (
        j.where(
            F.col("src.o_orderkey").isNull()
            | F.col("dst.o_orderkey").isNull()
            | (F.col("src.row_hash") != F.col("dst.row_hash"))
        )
        .select(kind.alias("diff_kind"))
        .groupBy("diff_kind")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@_q(
    "customer_order_count_distribution",
    """
SELECT c_count, count(*) AS n_custs
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY c_count
""",
    doc="TPC-H Q13 shape (customer order distribution): the LEFT join "
    "keeps zero-order customers — count(o_orderkey) counts non-NULL "
    "join matches, so the 0 bucket exists (an inner join silently "
    "drops it: the classic histogram-with-zeros bug). Two aggregates: "
    "per-customer on the join key, then the tiny distribution rollup.",
)
def q_customer_order_count_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("n_custs"))


@_q(
    "small_quantity_order_revenue",
    """
WITH avgs AS (
  SELECT l_partkey AS ap,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE)
           / count(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN avgs ON ap = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < 0.2 * avg_qty
""",
    doc="TPC-H Q17 shape (small-quantity-order revenue): the "
    "correlated scalar subquery (per-part average quantity) decorrelates "
    "into one groupBy + a join back — Spark plans the per-part "
    "aggregate once, AQE broadcasts it after the brand filter "
    "collapses the probe side. The average is decimal-exact-sum / "
    "count, so the 0.2× threshold comparison is engine-identical.",
)
def q_small_quantity_order_revenue(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avgs = l.groupBy(F.col("l_partkey").alias("ap")).agg(
        agg.exact_avg("l_quantity", "avg_qty")
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    j = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(avgs, F.col("ap") == F.col("l_partkey"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return j.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(27,4)")).cast("double")
            / 7.0
        ).alias("avg_yearly")
    )


@_q(
    "sole_late_supplier_waits",
    """
WITH lates AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
              THEN 1 ELSE 0 END AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, count(*) AS numwait
FROM lates l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.is_late = 1
  AND EXISTS (
    SELECT 1 FROM lates l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lates l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.is_late = 1
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
""",
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): the "
    "hardest standard-suite shape — one semi-join (another supplier "
    "participated) AND one anti-join (no OTHER supplier was late) "
    "against the same derived relation, both correlated on the order "
    "key with a supplier inequality residual. The late flag computes "
    "ONCE in a shared (orderkey, suppkey, is_late) relation that is "
    "persisted and consumed three times; 'late' adapts to the fixture "
    "schema as shipped >60 days after ordering (no receipt/commit "
    "dates exist). Top-10 with name tiebreak.",
)
def q_sole_late_supplier_waits(spark, sf_dir):
    from ..session import track_persist

    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    lates = track_persist(
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .cast("int")
            .alias("is_late"),
        )
    )
    l1 = lates.where(F.col("is_late") == 1).select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    others = lates.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    late_others = lates.where(F.col("is_late") == 1).select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    with_peer = l1.join(
        others,
        (F.col("ok") == F.col("ok2")) & (F.col("sk") != F.col("sk2")),
        "left_semi",
    )
    sole_late = with_peer.join(
        late_others,
        (F.col("ok") == F.col("ok3")) & (F.col("sk") != F.col("sk3")),
        "left_anti",
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(s), F.col("sk") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


