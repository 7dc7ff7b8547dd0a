"""End-to-end monthly pipeline: Yelp-shaped bronze JSON → silver →
gold star schema, run for TWO months to exercise the incremental
idiom (dynamic partition overwrite + MERGE upsert) — the reference's
actual production path (SURVEY.md §3 entry point 1)."""

import json
import os

import pyspark.sql.functions as F
import pytest

from conftest import declared_fields, perfbench_bronze
from yelp_data_pipeline_spark import pipelines


def _w(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture(scope="module")
def bronze(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bronze"))
    _w(f"{root}/business/b.json", [
        {"business_id": "b1", "name": "Cafe", "city": "PHL", "state": "PA",
         "postal_code": "1", "latitude": 1.0, "longitude": 2.0, "is_open": 1,
         "review_count": 5, "stars": 4.0, "categories": "Food, Cafes",
         "hours": {"Monday": "9:0-17:0"},
         "attributes": {"WiFi": "u'free'", "Parking": "{'garage': True}"}},
        {"business_id": "b2", "name": "Bar", "city": "NYC", "state": "NY",
         "postal_code": "2", "latitude": 3.0, "longitude": 4.0, "is_open": 0,
         "review_count": 2, "stars": 3.0, "categories": "Bars",
         "hours": {"Monday": None},
         "attributes": {"WiFi": "none", "Parking": "{'valet': False}"}},
    ])
    _w(f"{root}/user/u.json", [
        {"user_id": "u1", "name": "A", "yelping_since": "2019-01-01 00:00:00",
         "review_count": 3, "average_stars": 4.5, "useful": 1, "funny": 0,
         "cool": 2, "fans": 1, "elite": "2019,2020", "friends": "u2, u3"},
        {"user_id": "u2", "name": "B", "yelping_since": "2020-05-01 00:00:00",
         "review_count": 1, "average_stars": 3.0, "useful": 0, "funny": 0,
         "cool": 0, "fans": 0, "elite": "", "friends": ""},
    ])
    _w(f"{root}/checkin/c.json", [
        {"business_id": "b1",
         "date": "2021-01-05 10:00:00, 2021-01-05 11:00:00, 2021-02-01 09:00:00"},
        {"business_id": "b2", "date": "2021-01-20 08:00:00"},
    ])
    for y, m, rows in [
        (2021, 1, [{"review_id": "r1", "user_id": "u1", "business_id": "b1",
                    "stars": 5, "useful": 1, "funny": 0, "cool": 0,
                    "text": "great", "date": "2021-01-05 12:00:00"},
                   {"review_id": "r2", "user_id": "u2", "business_id": "b2",
                    "stars": 3, "useful": 0, "funny": 0, "cool": 0,
                    "text": "ok", "date": "2021-01-20 12:00:00"}]),
        (2021, 2, [{"review_id": "r3", "user_id": "u1", "business_id": "b1",
                    "stars": 4, "useful": 0, "funny": 1, "cool": 0,
                    "text": "fine", "date": "2021-02-01 10:00:00"}]),
    ]:
        _w(f"{root}/review/year={y}/month={m}/r.json", rows)
        _w(f"{root}/tip/year={y}/month={m}/t.json", [
            {"user_id": "u1", "business_id": "b1", "text": "tip",
             "compliment_count": 0, "date": f"{y}-{m:02d}-02 09:00:00"}])
    return root


@pytest.fixture(scope="module")
def warehouses(tmp_path_factory):
    return (
        str(tmp_path_factory.mktemp("silver")),
        str(tmp_path_factory.mktemp("gold")),
    )


@pytest.fixture(scope="module")
def run_both_months(spark, bronze, warehouses):
    silver, gold = warehouses
    for month in (1, 2):
        pipelines.bronze_to_silver(spark, bronze, silver, 2021, month)
        pipelines.silver_to_gold(spark, silver, gold, 2021, month)
    return silver, gold


@pytest.mark.parametrize("source", ["fixture", "perfbench"])
def test_declared_bronze_schemas_match_inference(spark, bronze, tmp_path, source):
    """Each declared bronze schema is what ``spark.read.json`` infers on
    this module's fixture and on the benchmark's bronze (seed 7), on the
    declared fields."""
    root = bronze
    if source == "perfbench":
        root = str(tmp_path / "bronze")
        perfbench_bronze().generate(root, 7)
    for src, ddl in pipelines.BRONZE_SCHEMAS.items():
        inferred = spark.read.json(f"{root}/{src}").schema
        want, got = declared_fields(spark, ddl, inferred)
        assert got == want, src


def test_silver_business_cleaned(spark, run_both_months):
    silver, _ = run_both_months
    b = spark.read.parquet(f"{silver}/business")
    row = {r["business_id"]: r for r in b.collect()}
    assert row["b1"]["is_open"] is True
    assert row["b1"]["monday_opening_time"] == "9:0"
    assert row["b1"]["attributes_wifi"] == "free"
    assert row["b2"]["attributes_wifi"] is None
    assert dict(b.dtypes)["attributes_parking"].startswith("struct")


def test_silver_month_partitions_survive_incremental_runs(spark, run_both_months):
    silver, _ = run_both_months
    # month-1 reviews must still exist after the month-2 run (dynamic
    # partition overwrite replaces only the partitions in the batch)
    r = spark.read.parquet(f"{silver}/reviews")
    by_month = {
        (row["year"], row["month"]): row["cnt"]
        for row in r.groupBy("year", "month").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_month == {(2021, 1): 2, (2021, 2): 1}


def test_gold_star_schema_shapes(spark, run_both_months):
    _, gold = run_both_months
    fact = spark.read.parquet(f"{gold}/fact_review")
    assert fact.count() == 3  # row count preserved across both months
    dim_t = spark.read.parquet(f"{gold}/dim_time")
    # month-scoped date_id restarts at 1 per month (SURVEY §5 caveat)
    firsts = {
        (r["year"], r["month"]): r["lo"]
        for r in dim_t.groupBy("year", "month").agg(F.min("date_id").alias("lo")).collect()
    }
    assert all(v == 1 for v in firsts.values())
    bridge = spark.read.parquet(f"{gold}/bridge_business_category")
    assert bridge.count() == bridge.select("business_id", "category_id").distinct().count()
    assert {r["category_name"] for r in bridge.collect()} == {"Food", "Cafes", "Bars"}


def test_gold_fact_checkin_daily_grain(spark, run_both_months):
    _, gold = run_both_months
    fc = spark.read.parquet(f"{gold}/fact_checkin")
    rows = {(r["business_id"], r["date_id"], r["year"], r["month"]): r["checkin_count"]
            for r in fc.collect()}
    # b1 had 2 checkins on 2021-01-05 (one row, count 2) + 1 on 2021-02-01
    assert sorted(rows.values()) == [1, 1, 2]


def test_gold_dim_upsert_on_rerun(spark, run_both_months, bronze, warehouses):
    silver, gold = warehouses
    # simulate next month's business update: b1's review_count changes
    upd = f"{bronze}/business/b.json"
    rows = [json.loads(l) for l in open(upd)]
    rows[0]["review_count"] = 99
    _w(upd, rows)
    pipelines.bronze_to_silver(spark, bronze, silver, 2021, 2)
    pipelines.silver_to_gold(spark, silver, gold, 2021, 2)
    dim_b = {r["business_id"]: r["review_count"]
             for r in spark.read.parquet(f"{gold}/dim_business").collect()}
    assert dim_b == {"b1": 99, "b2": 2}
    assert spark.read.parquet(f"{gold}/dim_business").count() == 2  # upsert, not append
