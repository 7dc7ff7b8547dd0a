"""S1/S2 source tier: Bronze JSON ingestion with inference, explicit
schema, and Hive-partitioned layout pruning (B2S:141-151); the parquet
footer-schema memo behind ``load_table``."""

import json
import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pyspark.sql.types as T

from conftest import SF_DIR, jobs_during as _jobs_during, normalize_events_ts
from yelp_data_pipeline_spark import tables
from yelp_data_pipeline_spark.tables import load_table, read_json_source


def _write_json(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_json_inference_nested_structs(spark, tmp_path):
    p = str(tmp_path / "b" / "data.json")
    _write_json(
        p,
        [
            {"business_id": "b1", "attributes": {"WiFi": "u'free'"}, "stars": 4.5},
            {"business_id": "b2", "attributes": {"WiFi": "no", "HasTV": "True"}},
        ],
    )
    df = read_json_source(spark, str(tmp_path / "b"))
    assert isinstance(df.schema["attributes"].dataType, T.StructType)
    # inference unions fields across rows
    assert set(df.schema["attributes"].dataType.names) == {"WiFi", "HasTV"}
    rows = {r["business_id"]: r for r in df.collect()}
    assert rows["b1"]["stars"] == 4.5 and rows["b2"]["stars"] is None


def test_json_explicit_schema_no_inference(spark, tmp_path):
    p = str(tmp_path / "b" / "data.json")
    _write_json(p, [{"id": 1, "v": "x"}, {"id": 2}])
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    df = read_json_source(spark, str(tmp_path / "b"), schema=schema)
    assert df.schema == schema
    assert df.count() == 2


def test_json_partitioned_layout_prunes(spark, tmp_path):
    root = tmp_path / "bronze"
    _write_json(str(root / "year=2020" / "month=1" / "a.json"), [{"id": 1}])
    _write_json(str(root / "year=2020" / "month=2" / "b.json"), [{"id": 2}])
    _write_json(str(root / "year=2021" / "month=1" / "c.json"), [{"id": 3}])
    df = read_json_source(
        spark,
        str(root),
        partition_filter=(F.col("year") == 2020) & (F.col("month") == 2),
    )
    assert [r["id"] for r in df.collect()] == [2]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_asof_join_semantics(spark):
    from yelp_data_pipeline_spark.operators.joins import asof_join

    ev = spark.createDataFrame(
        [(1, 10, "2020-01-05"), (2, 10, "2020-01-01"), (3, 20, "2020-03-01"), (4, 30, "2020-01-01")],
        "event_id long, k long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    orders = spark.createDataFrame(
        [(10, "2020-01-03", 100.0), (10, "2020-01-05", 200.0), (20, "2020-02-01", 300.0)],
        "ck long, od string, amt double",
    ).withColumn("od", F.to_timestamp("od"))
    got = {
        r["event_id"]: r["amt"]
        for r in asof_join(ev, orders, "k", "ck", "ts", "od", ["amt"]).collect()
    }
    assert got[1] == 200.0   # equality is inclusive (most recent at ts)
    assert got[2] is None    # no order at or before
    assert got[3] == 300.0
    assert got[4] is None    # key never on right side


def test_csv_source_schema_partition_pruning(spark, tmp_path):
    from yelp_data_pipeline_spark.tables import read_csv_source

    base = tmp_path / "csv_src"
    for y, rows in ((2020, "1,a\n2,b\n"), (2021, "3,c\n")):
        d = base / f"year={y}"
        d.mkdir(parents=True)
        (d / "part.csv").write_text("id,name\n" + rows)

    df = read_csv_source(
        spark,
        str(base),
        schema="id long, name string",
        partition_filter=F.col("year") == 2021,
    )
    assert [(r["id"], r["name"], r["year"]) for r in df.collect()] == [
        (3, "c", 2021)
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # Column pruning reaches the CSV parser: only `id` in ReadSchema.
    pruned = read_csv_source(
        spark, str(base), schema="id long, name string"
    ).select("id")
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<id:bigint>" in pplan


def test_dynamic_partition_pruning_on_star_join(spark, tmp_path):
    """Star-join scans must prune fact PARTITIONS from the dim filter
    at RUNTIME (dynamic partition pruning): the fact is partitioned by
    the join key, the dim filter selects a subset, and the executed
    plan's fact scan must carry a dynamicpruning partition filter —
    at 100 TB this is the difference between scanning 2 regions and
    scanning 25."""
    fact_path = str(tmp_path / "fact_part")
    spark.range(10_000).selectExpr(
        "id", "CAST(id % 25 AS LONG) AS region_k", "id * 2.0 AS amount"
    ).write.partitionBy("region_k").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [(i, f"r{i}", "KEEP" if i < 2 else "DROP") for i in range(25)],
        "region_k long, name string, flag string",
    )
    joined = fact.join(dim, "region_k").where(F.col("flag") == "KEEP")
    jqe = joined._jdf.queryExecution()
    jqe.executedPlan().executeCollect()
    plan = jqe.executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # And the join result only touched the two KEEP regions.
    assert joined.select("region_k").distinct().count() == 2


def _write_parquet(path, cols):
    pq.write_table(pa.table({c: [1, 2, 3] for c in cols}), str(path))


def test_schema_memo_second_load_submits_no_job(spark, tmp_path):
    _write_parquet(tmp_path / "t.parquet", ["a", "b"])
    first, n_first = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "t"))
    second, n_second = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_first >= 1  # the footer-inference job
    assert n_second == 0
    assert second.schema == first.schema
    # a fresh relation per call: a self-join still resolves both sides
    j = first.alias("x").join(second.alias("y"), F.col("x.a") == F.col("y.a"))
    assert j.count() == 3


def test_schema_memo_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write_parquet(path, ["a"])
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write_parquet(path, ["a", "b", "c"])
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b", "c"]
    assert df.count() == 3


def test_schema_memo_fresh_session_infers_again(spark, tmp_path):
    _write_parquet(tmp_path / "t.parquet", ["a"])
    load_table(spark, str(tmp_path), "t")
    other = spark.newSession()
    df, n = _jobs_during(other, lambda: load_table(other, str(tmp_path), "t"))
    assert n >= 1
    assert df.columns == ["a"]


def test_schema_memo_is_bounded_lru(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMA_MEMO_MAX", 2)
    other = spark.newSession()
    for name in ("t0", "t1", "t2"):
        _write_parquet(tmp_path / f"{name}.parquet", ["a"])
        load_table(other, str(tmp_path), name)
    memo = tables._schema_memo[other]
    assert [k[0][0] for k in memo] == [
        str(tmp_path / "t1.parquet"), str(tmp_path / "t2.parquet")
    ]
    _, n = _jobs_during(other, lambda: load_table(other, str(tmp_path), "t0"))
    assert n >= 1  # evicted, so inferred again


def test_schema_memo_concurrent_readers(spark, tmp_path):
    """Driver threads share one session's memo: every reader must get
    its own file's schema and the memo must hold one entry per file."""
    cols = {f"t{i}": [f"c{j}" for j in range(i + 1)] for i in range(3)}
    for name, cs in cols.items():
        _write_parquet(tmp_path / f"{name}.parquet", cs)
    other = spark.newSession()
    bad = []

    def reader(k):
        for i in range(6):
            name = f"t{(i + k) % 3}"
            if load_table(other, str(tmp_path), name).columns != cols[name]:
                bad.append(name)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert bad == []
    assert len(tables._schema_memo[other]) == 3


def test_schema_memo_directory_falls_back(spark, tmp_path):
    d = tmp_path / "t.parquet"
    spark.range(4).write.parquet(str(d))
    assert tables._file_identity(str(d)) is None
    assert tables._file_identity("file://" + str(d)) is None
    assert load_table(spark, str(tmp_path), "t").count() == 4


def test_schema_memo_hit_keeps_events_ts_micros(spark):
    load_table(spark, SF_DIR, "events")
    hit, n = _jobs_during(spark, lambda: load_table(spark, SF_DIR, "events"))
    assert n == 0
    assert dict(hit.dtypes)["ts"] == "timestamp"
    plain = normalize_events_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    agg = [F.min("ts"), F.max("ts"), F.sum(F.unix_micros("ts"))]
    assert hit.agg(*agg).collect() == plain.agg(*agg).collect()
