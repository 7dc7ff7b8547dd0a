"""Write tier (SURVEY.md §2.1 S5-S10): partitioned sinks, dynamic
partition overwrite, schema evolution, MERGE semantics — the round-1
"implemented but never executed" gap."""

import os

import pyspark.sql.functions as F
import pytest

from yelp_data_pipeline_spark.operators import upsert as up


def _frame(spark, rows):
    return spark.createDataFrame(rows, "id long, v string, year int, month int")


def test_write_partitioned_roundtrip_and_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _frame(
        spark,
        [(1, "a", 2020, 1), (2, "b", 2020, 2), (3, "c", 2021, 1)],
    )
    up.write_partitioned(df, path, ["year", "month"])
    back = spark.read.parquet(path)
    assert back.count() == 3

    # partition-column predicate must prune at the source, not filter
    # post-scan (the reference's missed-pruning anti-pattern, S2G:170-174)
    pruned = back.filter((F.col("year") == 2020) & (F.col("month") == 2))
    assert [r["id"] for r in pruned.collect()] == [2]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "year" in plan.split("PartitionFilters")[1][:200]


def test_dynamic_partition_overwrite_touches_only_present_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    up.write_partitioned(
        _frame(spark, [(1, "a", 2020, 1), (2, "b", 2020, 2)]), path, ["year", "month"]
    )
    # overwrite ONLY (2020, 2) — monthly-incremental idiom (B2S:132)
    up.write_partitioned(
        _frame(spark, [(9, "b2", 2020, 2)]), path, ["year", "month"]
    )
    got = sorted(
        (r["id"], r["v"], r["year"], r["month"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, "a", 2020, 1), (9, "b2", 2020, 2)]


def test_static_overwrite_replaces_whole_table(spark, tmp_path):
    path = str(tmp_path / "t")
    up.write_partitioned(
        _frame(spark, [(1, "a", 2020, 1), (2, "b", 2020, 2)]), path, ["year", "month"]
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        up.write_partitioned(
            _frame(spark, [(9, "b2", 2020, 2)]), path, ["year", "month"], dynamic=False
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    assert [r["id"] for r in spark.read.parquet(path).collect()] == [9]


def test_write_partitioned_leaves_session_conf_untouched(spark, tmp_path):
    """The overwrite mode is a per-write option: neither mode may leak
    into the session, whichever mode the session itself holds."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    path = str(tmp_path / "t")
    try:
        for session_mode, dynamic in (("dynamic", False), ("static", True)):
            spark.conf.set(key, session_mode)
            up.write_partitioned(
                _frame(spark, [(1, "a", 2020, 1)]), path, ["year", "month"], dynamic=dynamic
            )
            assert spark.conf.get(key) == session_mode
    finally:
        spark.conf.set(key, before)


def test_commit_state_stages_at_target_staging(spark, tmp_path, monkeypatch):
    """The staged directory's name is a contract: the benchmark's
    tracer (perfbench/tracing.py) folds a write under
    ``<table>__staging`` into that table's write time, so a rename here
    would silently zero the gold tables' write metrics."""
    target = str(tmp_path / "dim_business")
    renames = []
    rename = os.rename

    def spy(src, dst):
        renames.append((src, dst))
        rename(src, dst)

    monkeypatch.setattr(up.os, "rename", spy)
    for batch in (0, 1):  # a first write, then one that displaces it
        up._commit_state(_frame(spark, [(batch, "a", 2020, 1)]), target, batch)
        assert renames[-1] == (f"{target}__staging", target)
    assert os.listdir(tmp_path) == ["dim_business"]
    assert [r["id"] for r in spark.read.parquet(target).collect()] == [1]


def test_schema_evolving_overwrite(spark, tmp_path):
    # S8 — overwriteSchema semantics on the parquet fallback
    path = str(tmp_path / "t")
    up.write_evolved(spark.createDataFrame([(1, "x")], "id long, a string"), path)
    up.write_evolved(spark.createDataFrame([(2, 3.5)], "id long, b double"), path)
    back = spark.read.parquet(path)
    assert set(back.columns) == {"id", "b"}


def test_merge_schema_read_unions_appended_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "x")], "id long, a string").write.parquet(path)
    spark.createDataFrame([(2, "y", 9.0)], "id long, a string, b double").write.mode(
        "append"
    ).parquet(path)
    back = up.read_merged_schema(spark, path)
    assert set(back.columns) == {"id", "a", "b"}
    rows = {r["id"]: (r["a"], r["b"]) for r in back.collect()}
    assert rows == {1: ("x", None), 2: ("y", 9.0)}


def test_merge_upsert_df_semantics(spark):
    target = spark.createDataFrame([(1, "old"), (2, "keep")], "k long, v string")
    updates = spark.createDataFrame([(1, "new"), (3, "ins")], "k long, v string")
    got = {r["k"]: r["v"] for r in up.merge_upsert_df(target, updates, ["k"]).collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_upsert_delta_gated_on_import(spark, tmp_path):
    pytest.importorskip("delta", reason="delta-spark not installed in harness")
    df = spark.createDataFrame([(1, "x")], "k long, v string")
    up.upsert_delta(spark, df, str(tmp_path / "d"), ["k"])


def test_clustered_write_yields_prunable_ranges(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from yelp_data_pipeline_spark.operators.upsert import write_clustered

    df = spark.range(0, 10_000).selectExpr(
        "id", "CAST(id % 97 AS DOUBLE) AS noise"
    )
    out = str(tmp_path / "clustered")
    write_clustered(df, out, ["id"], num_files=8)

    ranges = []
    for f in glob.glob(f"{out}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # id
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))

    ranges.sort()
    assert len(ranges) >= 4
    # Disjoint file ranges: a point predicate touches exactly one file.
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    # Coverage: together the files span the whole domain.
    assert ranges[0][0] == 0 and ranges[-1][1] == 9_999


def test_compact_small_files_reduces_count_preserves_rows(spark, tmp_path):
    from yelp_data_pipeline_spark.operators.upsert import (
        compact_small_files,
        table_file_stats,
    )

    path = str(tmp_path / "smallfiles")
    df = spark.range(10_000).selectExpr("id", "id % 7 AS k")
    df.repartition(64).write.parquet(path)  # 64 tiny files
    before_rows = spark.read.parquet(path).count()
    n_before, total = table_file_stats(spark, path)
    assert n_before == 64 and total > 0

    # Target size >> total bytes -> everything compacts to ONE file.
    nb, na = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert (nb, na) == (64, 1)
    after = spark.read.parquet(path)
    assert after.count() == before_rows
    assert set(after.columns) == {"id", "k"}

    # Re-compacting an already-compact table is a no-op file-count-wise.
    nb2, na2 = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert (nb2, na2) == (1, 1)


def test_compact_small_files_respects_target_size(spark, tmp_path):
    from yelp_data_pipeline_spark.operators.upsert import (
        compact_small_files,
        table_file_stats,
    )

    path = str(tmp_path / "sized")
    spark.range(50_000).selectExpr(
        "id", "CAST(id AS STRING) AS s"
    ).repartition(32).write.parquet(path)
    _, total = table_file_stats(spark, path)
    target = max(1, total // 4)
    nb, na = compact_small_files(spark, path, target_file_bytes=target)
    assert nb == 32
    assert 3 <= na <= 6  # ceil(total/target) ~ 4-5 (size drifts on rewrite)
    assert spark.read.parquet(path).count() == 50_000


def test_compact_sort_within_tightens_footer_ranges(spark, tmp_path):
    """sort_within_by during compaction must produce disjoint-ish
    min/max id ranges per output file (the pruning property), and the
    recursive file-stats listing must see through partition dirs."""
    from yelp_data_pipeline_spark.operators.upsert import (
        compact_small_files,
        table_file_stats,
    )

    path = str(tmp_path / "sorted_compact")
    spark.range(40_000).selectExpr(
        "id", "id % 4 AS p"
    ).write.partitionBy("p").parquet(path)
    n0, total = table_file_stats(spark, path)
    assert n0 >= 4 and total > 0  # listing recursed into p=*/

    nb, na = compact_small_files(
        spark, path, target_file_bytes=max(1, total // 4),
        sort_within_by=["id"],
    )
    assert nb == n0 and 2 <= na <= 8
    # Footer check: per-file id ranges must not all overlap — read
    # each file and verify the min/max intervals are mostly disjoint.
    import glob

    files = [
        f for f in glob.glob(f"{path}/*.parquet")
        if not f.rsplit("/", 1)[-1].startswith("_")
    ]
    spans = []
    for f in files:
        r = spark.read.parquet(f).agg(
            F.min("id").alias("lo"), F.max("id").alias("hi")
        ).collect()[0]
        spans.append((r["lo"], r["hi"]))
    spans.sort()
    overlaps = sum(
        1 for (l1, h1), (l2, h2) in zip(spans, spans[1:]) if l2 <= h1
    )
    assert overlaps == 0  # sorted-within + range partition = disjoint
    assert spark.read.parquet(path).count() == 40_000


def test_save_catalog_table_external_roundtrip(spark, tmp_path):
    """Catalog-serving parity (reference: Hive Metastore + Trino over
    the gold bucket): saveAsTable with an explicit location registers
    an EXTERNAL spark_catalog table — queryable BY NAME, schema in the
    catalog; DROP TABLE removes only the catalog entry, the gold data
    files stay (the bucket remains the source of truth)."""
    import os

    from yelp_data_pipeline_spark.tables import save_catalog_table

    df = spark.createDataFrame(
        [("P1", 3, 10.0), ("P2", 1, 5.5)], "prio string, n int, total double"
    )
    loc = str(tmp_path / "gold_tbl")
    save_catalog_table(df, "gold_test_rollup", path=loc)
    try:
        assert spark.catalog.tableExists("gold_test_rollup")
        got = {
            (r.prio, r.n, r.total)
            for r in spark.sql(
                "SELECT prio, n, total FROM gold_test_rollup"
            ).collect()
        }
        assert got == {("P1", 3, 10.0), ("P2", 1, 5.5)}
        # Overwrite mode is idempotent re-registration (Airflow retry
        # posture): same name, fresh data.
        save_catalog_table(
            df.withColumn("n", df.n + 1), "gold_test_rollup", path=loc
        )
        got2 = {r.n for r in spark.sql("SELECT n FROM gold_test_rollup").collect()}
        assert got2 == {4, 2}
    finally:
        spark.sql("DROP TABLE IF EXISTS gold_test_rollup")
    assert not spark.catalog.tableExists("gold_test_rollup")
    # External table: data files survive the DROP.
    assert any(nm.endswith(".parquet") for nm in os.listdir(loc))
