"""Scale-technique demonstrations: salting, bucketed co-located joins,
binned range joins, stateful streaming — each asserted on PLAN SHAPE
as well as results, since the plan is the point."""

import pyspark.sql.functions as F
import pytest

from yelp_data_pipeline_spark.operators.aggregates import salted_group_count
from yelp_data_pipeline_spark.operators.joins import range_join_binned
from yelp_data_pipeline_spark.streaming import windows as sw
from yelp_data_pipeline_spark.streaming.state import running_counts_stateful

from conftest import SF_DIR


def test_salted_group_count_matches_plain(spark):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    plain = {
        (r["o_orderpriority"], r["cnt"])
        for r in df.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    salted = {
        (r["o_orderpriority"], r["cnt"])
        for r in salted_group_count(df, ["o_orderpriority"], salt_buckets=8).collect()
    }
    assert salted == plain


def test_range_join_binned_no_nested_loop(spark):
    ev = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00"), (2, "2020-01-01 00:00:03"),
         (3, "2020-01-01 00:00:10"), (4, "2020-01-01 00:01:00")],
        "id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    a = ev.select(F.col("id").alias("id_a"), F.col("ts").alias("ts_a"))
    b = ev.select(F.col("id").alias("id_b"), F.col("ts").alias("ts_b"))
    joined = range_join_binned(a, b, "ts_a", "ts_b", 5, ["id_a"], ["id_b"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    got = sorted((r["id_a"], r["id_b"]) for r in joined.collect())
    assert got == [(1, 2)]  # 3 is 7s from 2 and 10s from 1; 4 is alone


def test_range_join_no_duplicate_pairs(spark):
    # same-timestamp rows sit in one bucket; neighbor explosion must
    # still yield each qualifying pair exactly once
    ev = spark.createDataFrame(
        [(i, "2020-01-01 00:00:01") for i in range(4)], "id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    a = ev.select(F.col("id").alias("id_a"), F.col("ts").alias("ts_a"))
    b = ev.select(F.col("id").alias("id_b"), F.col("ts").alias("ts_b"))
    joined = range_join_binned(a, b, "ts_a", "ts_b", 5, ["id_a"], ["id_b"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    assert joined.count() == 6  # C(4,2), no duplicates


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # co-located join: both sides bucketed+sorted on the key → the
    # sort-merge join reads pre-bucketed files with NO Exchange
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    spark.sql("DROP TABLE IF EXISTS bt_a")
    spark.sql("DROP TABLE IF EXISTS bt_b")
    (df.write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("bt_a"))
    (df.write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("bt_b"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bt_a").join(spark.table("bt_b"), "o_custkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, "bucketing must avoid the shuffle"
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_stateful_running_counts_stream(spark, tmp_path):
    stream = sw.stream_events_from_parquet(spark, SF_DIR)
    counts = running_counts_stateful(stream.select("user_id"), "user_id")
    q = (
        counts.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: r["events_so_far"]
        for r in spark.sql(
            "SELECT user_id, max(events_so_far) AS events_so_far FROM t_state GROUP BY user_id"
        ).collect()
    }
    batch = {
        r["user_id"]: r["cnt"]
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == batch and len(got) > 0


def test_scalable_ranks_matches_global_window(spark):
    import re

    from pyspark.sql import Window

    from yelp_data_pipeline_spark.operators import windows as win
    from yelp_data_pipeline_spark.session import release_tracked

    # 200 rows, heavy ties (7 distinct values) — exercises tie groups
    # spanning range-partition sampling.
    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(1, 201)], "k long, v double"
    )
    got = win.scalable_ranks(df, "v", "k", n_tiles=4)

    # Every WindowExec must be partitioned: a windowspecdefinition
    # whose FIRST argument is already an ordering expression has an
    # empty partition spec (the single-reducer shape this operator
    # exists to avoid).
    plan = got._jdf.queryExecution().executedPlan().toString()
    unpartitioned = re.findall(
        r"windowspecdefinition\([^,()]* (?:ASC|DESC) NULLS", plan
    )
    assert unpartitioned == [], plan

    w = Window.orderBy("v")
    wt = Window.orderBy("v", "k")
    expected = df.select(
        "k",
        "v",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(wt).alias("quartile"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )
    release_tracked()


def test_asof_attaches_null_value_from_latest_right_row(spark):
    import datetime as dt

    from yelp_data_pipeline_spark.operators.joins import asof_join

    ts = dt.datetime.fromisoformat
    left = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"))], "k long, t timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, ts("2024-01-01 09:00:00"), 5.0),
            (1, ts("2024-01-01 09:30:00"), None),
        ],
        "k long, rt timestamp, val double",
    )
    [row] = asof_join(left, right, "k", "k", "t", "rt", ["val"]).collect()
    # The 09:30 right row is the most recent — its genuinely-NULL value
    # must win over the older 5.0 (DuckDB ASOF JOIN semantics).
    assert row["val"] is None


def test_release_tracked_frees_minhash_cache(spark):
    from yelp_data_pipeline_spark.operators import dedup as dd
    from yelp_data_pipeline_spark.session import release_tracked

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % (i % 3,))
         for i in range(30)],
        "doc_id long, text string",
    )
    dd.minhash_lsh_pairs(docs, "doc_id", "text", k=8, bands=4).collect()
    assert release_tracked() >= 1
    assert not release_tracked()


def test_salted_join_matches_plain_join(spark):
    from yelp_data_pipeline_spark.operators.joins import salted_join

    # One celebrity key (90% of left rows) + a long tail.
    left = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(200)], "k long, payload long"
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(0, 200, 7)] + [(1, "dim1")],
        "rk long, name string",
    )
    plain = left.join(right, left["k"] == right["rk"], "left").drop("rk")
    salted = salted_join(left, right, "k", "rk", salts=4, how="left").drop("rk")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )

    import pytest

    with pytest.raises(ValueError):
        salted_join(left, right, "k", "rk", how="full")


def test_approx_stats_within_error_bounds(spark):
    """The deterministic md5-HLL (aggregates.py:hll_distinct) must
    estimate within its theoretical error in the valid regime
    (n ≫ 2.5·m — standard error 1.04/sqrt(m), allow ~4σ), and the
    deterministic 10% hash-sample quantiles must land near exact."""
    from yelp_data_pipeline_spark.operators.aggregates import hll_distinct

    n = 5000  # ≫ 2.5·64, raw-estimator branch
    df = spark.createDataFrame([(f"user_{i}",) for i in range(n)], ["u"])
    [row] = hll_distinct(df, "u", m=64).collect()
    assert abs(row["approx_users"] - n) <= 4 * 1.04 / (64**0.5) * n
    assert 1 <= row["registers_hit"] <= 64

    # Duplicated input must not move the sketch (distinct-ness).
    [row2] = hll_distinct(df.union(df), "u", m=64).collect()
    assert row2["approx_users"] == row["approx_users"]
    assert row2["rho_sum"] == row["rho_sum"]

    sf = "/root/testdata/sf0.001"
    from yelp_data_pipeline_spark.queries import queries

    [qrow] = queries()["approx_event_stats"](spark, sf).collect()
    e = spark.read.parquet(f"{sf}/events.parquet")
    exact_q = e.selectExpr(
        "percentile(value, array(0.5, 0.95, 0.99)) AS q"
    ).first()["q"]
    approx_q = [qrow["value_p50"], qrow["value_p95"], qrow["value_p99"]]
    for approx, true in zip(approx_q, exact_q):
        assert abs(approx - true) <= 0.15 * (abs(true) + 1)


def test_transform_with_state_zscore_flagger(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API): per-key
    running-moment anomaly flags must equal an offline sequential
    replay over each key's arrival order.

    Environment gate: the typed-state API's Python worker speaks
    protobuf to the state server; like the Delta-native paths, it is
    code-complete here but unexercisable without google.protobuf in
    the container (the older applyInPandasWithState path above covers
    custom state end-to-end)."""
    import pytest

    pytest.importorskip("google.protobuf")
    from yelp_data_pipeline_spark.streaming.state import running_zscore_flags

    import math

    rows = []
    # u1: 20 calm values then one spike; u2: all calm; u3: too few
    # observations to ever flag (warm-up guard).
    for i in range(20):
        rows.append(("u1", 10.0 + (i % 3)))
    rows.append(("u1", 500.0))
    for i in range(10):
        rows.append(("u2", 5.0))
    rows.append(("u3", 1000.0))
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, ["key", "v"]).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("key string, v double").parquet(src)
    flags = running_zscore_flags(stream, "key", "v", z=3.0)
    q = (
        flags.writeStream.format("memory")
        .queryName("t_zflags")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckz"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["key"], r["v"]) for r in spark.sql("SELECT * FROM t_zflags").collect()}

    # Offline replay (single file -> one batch, arrival order = file order).
    want = set()
    state = {}
    for k, x in rows:
        n, s, s2 = state.get(k, (0, 0.0, 0.0))
        if n >= 5:
            mu = s / n
            var = s2 / n - mu * mu
            if var > 0 and abs((x - mu) / math.sqrt(var)) > 3.0:
                want.add((k, x))
        state[k] = (n + 1, s + x, s2 + x * x)
    assert got == want
    assert ("u1", 500.0) in got and not any(k == "u3" for k, _ in got)


def test_global_row_numbers_exact_and_dense(spark):
    from yelp_data_pipeline_spark.operators.windows import global_row_numbers

    import random

    rng = random.Random(7)
    rows = [(i, f"k{rng.randrange(10**6):06d}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["id", "key"]).repartition(8)
    got = {
        r["id"]: r["rn"]
        for r in global_row_numbers(df, ["key", "id"]).collect()
    }
    want = {
        id_: i + 1
        for i, (id_, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == want


def test_global_row_numbers_empty_input(spark):
    from yelp_data_pipeline_spark.operators.windows import global_row_numbers
    from yelp_data_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert global_row_numbers(
        empty.select(F.col("doc_id").alias("__id"), F.col("text").alias("__k")),
        ["__k", "__id"],
    ).count() == 0
    assert sorted_neighborhood_pairs(
        empty, "doc_id", F.lower(F.col("text"))
    ).count() == 0


class TestScalableUniqueRanks:
    def test_matches_global_row_number(self, spark):
        import pyspark.sql.functions as F
        from pyspark.sql import Window
        from yelp_data_pipeline_spark.operators.windows import (
            scalable_unique_ranks,
        )

        rows = [(i, (i * 37) % 11) for i in range(500)]  # heavy ties
        df = spark.createDataFrame(rows, ["rid", "v"])
        got = {
            r["rid"]: r["rn"]
            for r in scalable_unique_ranks(df, "v", "rid").collect()
        }
        w = Window.orderBy("v", "rid")
        want = {
            r["rid"]: r["rn"]
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        assert got == want

    def test_lift_twin_equals_baseline(self, spark):
        from yelp_data_pipeline_spark.queries import (
            q_quality_score_lift,
            q_quality_score_lift_scalable,
        )

        sf = SF_DIR
        base = sorted(map(tuple, q_quality_score_lift(spark, sf).collect()))
        scal = sorted(
            map(tuple, q_quality_score_lift_scalable(spark, sf).collect())
        )
        assert base == scal


# Spark jobs each distributed-rank operator submits while it BUILDS
# its plan (the range partitioner's boundary sample and the bounded
# per-partition subtotal collect), on a 40-row frame with 5 distinct
# values and on an empty one.
_RANK_BUILD_JOBS = {
    "scalable_ranks": (6, 2),
    "scalable_unique_ranks": (6, 2),
    "scalable_unique_ranks_total": (6, 2),
    "global_row_numbers": (5, 3),
}


@pytest.mark.parametrize("op", sorted(_RANK_BUILD_JOBS))
def test_rank_operator_build_jobs(spark, op):
    from conftest import jobs_during
    from yelp_data_pipeline_spark.operators import windows as win
    from yelp_data_pipeline_spark.session import release_tracked

    build = {
        "scalable_ranks": lambda d: win.scalable_ranks(d, "v", "k", n_tiles=3),
        "scalable_unique_ranks": lambda d: win.scalable_unique_ranks(d, "v", "k"),
        "scalable_unique_ranks_total": lambda d: win.scalable_unique_ranks(
            d, "v", "k", attach_total_col="n"
        ),
        "global_row_numbers": lambda d: win.global_row_numbers(d, ["v", "k"]),
    }[op]
    got = []
    for n in (40, 0):
        d = spark.createDataFrame(
            [(i, (i * 7) % 5) for i in range(n)], "k long, v long"
        )
        out, jobs = jobs_during(spark, lambda: build(d))
        assert out.count() == n
        release_tracked()
        got.append(jobs)
    assert tuple(got) == _RANK_BUILD_JOBS[op]
