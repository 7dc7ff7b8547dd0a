"""SURVEY §2.2 — filters / predicates / casts / conditionals.

Split from the single-file queries.py (round 15). Modules are imported by registry/__init__.py in a FIXED order; every @_q call appends to the shared _REGISTRY in registry/core.py, so registration order (the driver's export order) is preserved byte-for-byte.
"""

from __future__ import annotations

from .core import F, _q, _t, agg, cl  # noqa: F401

# --------------------------------------------------------------------------
# §2.2 — filters / predicates / casts / conditionals
# --------------------------------------------------------------------------


@_q(
    "filtered_lineitems",
    """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_quantity < 25 AND l_returnflag = 'R'
""",
    doc="P4/P8 + pushdown demo — filters reach the parquet scan "
    "(PushedFilters), projection prunes to 5 columns.",
)
def q_filtered_lineitems(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_quantity") < 25)
        & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")


@_q(
    "lineitem_date_parts",
    """
SELECT l_orderkey, l_linenumber,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(month(l_shipdate) AS INT) AS ship_month,
       CAST(dayofmonth(l_shipdate) AS INT) AS ship_day,
       CAST(quarter(l_shipdate) AS INT) AS ship_quarter
FROM lineitem
WHERE year(l_shipdate) = 1998 AND month(l_shipdate) = 3
""",
    doc="P8/§2.8 date parts — filter on date components (reference "
    "missed partition pruning here, S2G:170-174; on partitioned layouts "
    "filter the partition columns instead).",
)
def q_lineitem_date_parts(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate")
    return l.filter((F.year(d) == 1998) & (F.month(d) == 3)).select(
        "l_orderkey",
        "l_linenumber",
        F.year(d).alias("ship_year"),
        F.month(d).alias("ship_month"),
        F.dayofmonth(d).alias("ship_day"),
        F.quarter(d).alias("ship_quarter"),
    )


@_q(
    "quantity_buckets",
    """
SELECT CASE WHEN l_quantity < 10 THEN 'low'
            WHEN l_quantity < 25 THEN 'mid'
            ELSE 'high' END AS bucket,
       count(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY 1
""",
    doc="P9 — when/otherwise conditional buckets (B2S:30-33) + exact sum.",
)
def q_quantity_buckets(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 25, "mid")
        .otherwise("high")
    )
    return (
        l.select(bucket.alias("bucket"), "l_quantity")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), agg.exact_sum("l_quantity", "sum_qty"))
    )


@_q(
    "clean_pyrepr_attributes",
    """
WITH dirty AS (
  SELECT p_partkey,
         CASE WHEN p_size % 3 = 0 THEN 'None'
              WHEN p_size % 3 = 1 THEN concat('u''', p_brand, '''')
              ELSE p_brand END AS raw
  FROM part
),
stripped AS (
  SELECT p_partkey,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      raw, '^u''|^''|''$', '', 'g'),
      '\\bTrue\\b', 'true', 'g'),
      '\\bFalse\\b', 'false', 'g'),
      '\\bNone\\b', 'null', 'g') AS c
  FROM dirty
)
SELECT p_partkey,
       CASE WHEN lower(c) = 'none' THEN NULL
            WHEN c = '' THEN NULL ELSE c END AS cleaned
FROM stripped
""",
    doc="M2 — stringified-Python-repr cleaning chain (B2S:17-34) applied "
    "to synthesized dirty values.",
)
def q_clean_pyrepr_attributes(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    raw = (
        F.when(F.col("p_size") % 3 == 0, F.lit("None"))
        .when(F.col("p_size") % 3 == 1, F.concat(F.lit("u'"), F.col("p_brand"), F.lit("'")))
        .otherwise(F.col("p_brand"))
    )
    dirty = p.select("p_partkey", raw.alias("raw"))
    return dirty.select(
        "p_partkey", cl.clean_pyrepr_value(F.col("raw")).alias("cleaned")
    )


@_q(
    "split_hours_range",
    """
SELECT p_partkey,
       string_split(concat(CAST(p_size AS VARCHAR), ':0-', CAST(p_size + 8 AS VARCHAR), ':0'), '-')[1] AS opening_time,
       string_split(concat(CAST(p_size AS VARCHAR), ':0-', CAST(p_size + 8 AS VARCHAR), ':0'), '-')[2] AS closing_time
FROM part
""",
    doc="M5 — hours splitter (B2S:56-62): '9:0-17:0' → opening/closing.",
)
def q_split_hours_range(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    rng = F.concat(
        F.col("p_size").cast("string"),
        F.lit(":0-"),
        (F.col("p_size") + 8).cast("string"),
        F.lit(":0"),
    )
    df = p.select("p_partkey", rng.alias("rng"))
    return cl.split_range_column(df, "rng", "opening_time", "closing_time").select(
        "p_partkey", "opening_time", "closing_time"
    )


@_q(
    "json_extract_props",
    """
SELECT event_id,
       CAST(json_extract_string(NULLIF(props, ''), '$.k') AS INT) AS k
FROM events
""",
    doc="M4-adjacent — JSON string column → typed value (B2S:45-54; "
    "get_json_object, schema known).",
)
def q_json_extract_props(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


@_q(
    "split_array_counts",
    """
SELECT doc_id,
       CASE WHEN text IS NULL OR trim(text) = '' THEN 0
            ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) END AS token_cnt
FROM documents
""",
    doc="M8+A3 — CSV/whitespace split → array size with empty→0 "
    "(B2S:87-106 elite/friends counts).",
)
def q_split_array_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumn("text", F.trim("text"))
    d = cl.split_csv_to_array(d, "text", "toks", pattern=r"\s+")
    return cl.array_count(d, "toks", "token_cnt").select("doc_id", "token_cnt")


@_q(
    "flatten_nested_structs",
    """
SELECT p_partkey,
       p_brand AS attrs_meta_brand,
       p_type  AS attrs_meta_type,
       p_size  AS attrs_size
FROM part
""",
    doc="M1 — recursive schema flattener (B2S:6-15): nested struct "
    "synthesized from part, flattened to lowercase a_b columns in one "
    "projection.",
)
def q_flatten_nested_structs(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    nested = p.select(
        "p_partkey",
        F.struct(
            F.struct(
                F.col("p_brand").alias("Brand"), F.col("p_type").alias("Type")
            ).alias("Meta"),
            F.col("p_size").alias("Size"),
        ).alias("Attrs"),
    )
    return cl.flatten_structs(nested)


@_q(
    "detect_parse_json_props",
    """
SELECT event_id,
       CAST(json_extract_string(NULLIF(props, ''), '$.k') AS BIGINT) AS k
FROM events
""",
    doc="M3+M4 — JSON-column detector (single aggregated pass, not one "
    "collect per column) + sampled-set schema inference feeding "
    "from_json (B2S:36-54).",
)
def q_detect_parse_json_props(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    detected = cl.detect_json_string_columns(e, ["event_type", "props"])
    if not detected:
        # An empty relation OR a corpus whose props column holds
        # no parseable JSON (e.g. all-empty strings): emit the contract
        # schema with NULL k (what extracting from unparseable JSON
        # yields) rather than tripping the fixture assertion below,
        # which pins the detector against data that DOES carry JSON.
        return e.select(
            "event_id", F.lit(None).cast("bigint").alias("k")
        )
    assert detected == ["props"], f"detector should find props only: {detected}"
    parsed = cl.parse_json_columns(e, detected)
    return parsed.select("event_id", F.col("props.k").alias("k"))


@_q(
    "process_business_oracle",
    """
WITH b(business_id, name, is_open, city, state, hours_monday, hours_tuesday,
       wifi, parking, kids) AS (
  VALUES
    ('b1','Cafe One',1,'Springfield','IL','9:0-17:0','10:0-16:0',
     'u''free''', '{''garage'': True, ''street'': False}', 'True'),
    ('b2','Bar Two',0,'Shelbyville','MO',NULL,'11:0-23:0',
     '''no''', '{''garage'': False, ''street'': True}', 'None'),
    ('b3','Shop Three',1,'Capital City','CA','8:30-18:0',NULL,
     NULL, NULL, 'False')
),
pyrepr AS (
  SELECT business_id, name, is_open, city, state, hours_monday, hours_tuesday,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           wifi, '^u''|^''|''$', '', 'g'),
           '\\bTrue\\b', 'true', 'g'), '\\bFalse\\b', 'false', 'g'),
           '\\bNone\\b', 'null', 'g') AS wifi,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           parking, '^u''|^''|''$', '', 'g'),
           '\\bTrue\\b', 'true', 'g'), '\\bFalse\\b', 'false', 'g'),
           '\\bNone\\b', 'null', 'g') AS parking,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           kids, '^u''|^''|''$', '', 'g'),
           '\\bTrue\\b', 'true', 'g'), '\\bFalse\\b', 'false', 'g'),
           '\\bNone\\b', 'null', 'g') AS kids
  FROM b
)
SELECT business_id, name, CAST(is_open AS BOOLEAN) AS is_open,
       city AS location_city, state AS location_state,
       string_split(hours_monday, '-')[1] AS monday_opening_time,
       string_split(hours_monday, '-')[2] AS monday_closing_time,
       string_split(hours_tuesday, '-')[1] AS tuesday_opening_time,
       string_split(hours_tuesday, '-')[2] AS tuesday_closing_time,
       CASE WHEN lower(wifi) = 'none' OR wifi = '' THEN NULL
            ELSE wifi END AS attributes_wifi,
       CAST(json_extract_string(replace(parking, '''', '"'),
                                '$.garage') AS BOOLEAN) AS parking_garage,
       CAST(json_extract_string(replace(parking, '''', '"'),
                                '$.street') AS BOOLEAN) AS parking_street,
       CASE WHEN lower(kids) = 'none' OR kids = '' THEN NULL
            ELSE kids END AS attributes_goodforkids
FROM pyrepr
""",
    doc="M6 — the full composite business cleaner (B2S:64-76) on a "
    "synthesized Yelp-shaped fixture: is_open long→boolean, nested "
    "location/hours/attributes structs flattened (M1), hours ranges "
    "split (M5), py-repr attribute strings cleaned (M2), JSON-looking "
    "attribute columns detected (M3) and parsed to structs (M4). The "
    "final projection reads garage/street via getField on the parsed "
    "struct — which exists ONLY because the operator preserves the "
    "reference's dead-code parity (B2S:74-75: the re-flatten filter "
    "matches nothing, so parsed attributes stay nested).",
)
def q_process_business_oracle(spark, sf_dir):
    rows = [
        ("b1", "Cafe One", 1, ("Springfield", "IL"),
         ("9:0-17:0", "10:0-16:0"),
         ("u'free'", "{'garage': True, 'street': False}", "True")),
        ("b2", "Bar Two", 0, ("Shelbyville", "MO"),
         (None, "11:0-23:0"),
         ("'no'", "{'garage': False, 'street': True}", "None")),
        ("b3", "Shop Three", 1, ("Capital City", "CA"),
         ("8:30-18:0", None),
         (None, None, "False")),
    ]
    schema = (
        "business_id string, name string, is_open bigint, "
        "location struct<city:string,state:string>, "
        "hours struct<Monday:string,Tuesday:string>, "
        "attributes struct<WiFi:string,BusinessParking:string,"
        "GoodForKids:string>"
    )
    biz = spark.createDataFrame(rows, schema)
    out = cl.process_business(biz)
    return out.select(
        "business_id",
        "name",
        "is_open",
        "location_city",
        "location_state",
        "monday_opening_time",
        "monday_closing_time",
        "tuesday_opening_time",
        "tuesday_closing_time",
        "attributes_wifi",
        F.col("attributes_businessparking").getField("garage").alias(
            "parking_garage"
        ),
        F.col("attributes_businessparking").getField("street").alias(
            "parking_street"
        ),
        "attributes_goodforkids",
    )


@_q(
    "events_date_parts",
    """
SELECT event_id, ts,
       CAST(year(ts) AS INT) AS year,
       CAST(month(ts) AS INT) AS month
FROM events
""",
    doc="M9 — review/tip dater (B2S:108-111): timestamp + year/month "
    "partition columns.",
)
def q_events_date_parts(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    return cl.add_event_date_parts(e, "ts")


@_q(
    "prefix_filtered_parts",
    """
SELECT p_partkey, p_name FROM part
WHERE p_name LIKE 's%' AND p_name LIKE '%r' AND p_brand IS NOT NULL
""",
    doc="P5+P6 — startswith/endswith conjunction with a null guard "
    "(B2S:40,48): pushed to the parquet scan as StringStartsWith/"
    "StringEndsWith filters.",
)
def q_prefix_filtered_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").startswith("s")
        & F.col("p_name").endswith("r")
        & F.col("p_brand").isNotNull()
    ).select("p_partkey", "p_name")


# S11 — the SQL serving path: the same SQL text runs on spark.sql over
# registered views AND on the DuckDB oracle (SURVEY §3 entry point 3).
_SQL_SERVING = """
SELECT n_name, count(*) AS supplier_cnt,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS sum_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@_q(
    "sql_suppliers_by_nation",
    _SQL_SERVING,
    doc="S11 — SQL serving over registered temp views: spark.sql runs "
    "the IDENTICAL ANSI string the oracle runs (one engine replaces "
    "the reference's Trino/Superset hop).",
)
def q_sql_suppliers_by_nation(spark, sf_dir):
    from ..tables import register_views

    register_views(spark, sf_dir, ("supplier", "nation"))
    return spark.sql(_SQL_SERVING)




_CATALOG_ROLLUP_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total_price
FROM orders GROUP BY o_orderpriority
"""


@_q(
    "sql_catalog_orders_rollup",
    _CATALOG_ROLLUP_SQL,
    doc="S11 catalog-serving parity — the reference wires a Hive "
    "Metastore + Trino catalog over the gold bucket "
    "(mnt/hive-conf/hive-site.xml) though its jobs never register "
    "tables; here the gold rollup is REGISTERED as a real "
    "spark_catalog EXTERNAL table (tables.save_catalog_table → "
    "saveAsTable with an explicit location) and the serving query "
    "reads it back BY NAME through the catalog, not by path. The "
    "oracle computes the same rollup straight from orders, so a "
    "catalog round-trip that dropped rows, reordered schema, or "
    "double-applied the aggregation hash-mismatches. The table is "
    "dropped and its temp location removed after materialization.",
)
def q_sql_catalog_orders_rollup(spark, sf_dir):
    import shutil
    import tempfile
    import uuid as _uuid

    from ..tables import save_catalog_table

    gold = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(27,4)"))
            .cast("double")
            .alias("total_price"),
        )
    )
    name = f"gold_orders_rollup_{_uuid.uuid4().hex[:8]}"
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_catalog_")
    save_catalog_table(gold, name, path=tmp_root + "/tbl")
    out = spark.sql(
        f"SELECT o_orderpriority, n_orders, total_price FROM {name}"
    )
    rows = out.localCheckpoint(eager=True)
    spark.sql(f"DROP TABLE {name}")
    shutil.rmtree(tmp_root, ignore_errors=True)
    return rows
