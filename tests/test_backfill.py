"""Backfill orchestration (pipelines.backfill) — the reference DAG's
catchup/max_active_runs/retry semantics as a driver loop
(mnt/airflow/dags/yelp_pipeline.py:10-21), pinned by the two
properties Airflow retries rely on: rerun idempotence (month M twice
== once) and backfill == union of single-month runs."""

import json
import os
import shutil
import threading
import time
import uuid

import pyspark.sql.functions as F
import pytest

from conftest import declared_fields, jobs_during, perfbench_bronze
from yelp_data_pipeline_spark import __main__ as cli
from yelp_data_pipeline_spark import pipelines
from yelp_data_pipeline_spark import session as session_mod

# Rows each task writes per month on the ``bronze`` fixture: the two
# businesses and the one user are full tables; each month holds one
# review, one tip and one check-in timestamp. Month 1's review and
# check-in share a date (dim_time 1 row), months 2-3 do not (2 rows);
# the bridge keeps b1's Food + Cafes and b2's Bars.
B2S_ROWS = {"business": 2, "users": 1, "checkins": 1, "reviews": 1, "tips": 1}
S2G_ROWS = {
    m: {"dim_time": dt, "dim_business": 2, "dim_user": 1,
        "bridge_business_category": 3, "fact_review": 1, "fact_checkin": 1}
    for m, dt in ((1, 1), (2, 2), (3, 2))
}
MONTH_SCOPED = {"checkins", "reviews", "tips", "dim_time", "fact_review", "fact_checkin"}


def _w(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture(scope="module")
def bronze(tmp_path_factory):
    """Own bronze tree (test_pipelines' fixture mutates its bronze
    mid-module for the upsert test — never share it)."""
    root = str(tmp_path_factory.mktemp("bronze_bf"))
    _w(f"{root}/business/b.json", [
        {"business_id": "b1", "name": "Cafe", "city": "PHL", "state": "PA",
         "postal_code": "1", "latitude": 1.0, "longitude": 2.0, "is_open": 1,
         "review_count": 5, "stars": 4.0, "categories": "Food, Cafes",
         "hours": {"Monday": "9:0-17:0"},
         "attributes": {"WiFi": "u'free'"}},
        {"business_id": "b2", "name": "Bar", "city": "NYC", "state": "NY",
         "postal_code": "2", "latitude": 3.0, "longitude": 4.0, "is_open": 0,
         "review_count": 2, "stars": 3.0, "categories": "Bars",
         "hours": {"Monday": None},
         "attributes": {"WiFi": "none"}},
    ])
    _w(f"{root}/user/u.json", [
        {"user_id": "u1", "name": "A", "yelping_since": "2019-01-01 00:00:00",
         "review_count": 3, "average_stars": 4.5, "useful": 1, "funny": 0,
         "cool": 2, "fans": 1, "elite": "2019,2020", "friends": "u2, u3"},
    ])
    _w(f"{root}/checkin/c.json", [
        {"business_id": "b1",
         "date": "2021-01-05 10:00:00, 2021-02-01 09:00:00, 2021-03-02 08:00:00"},
    ])
    for y, m, rid in [(2021, 1, "r1"), (2021, 2, "r2"), (2021, 3, "r3")]:
        _w(f"{root}/review/year={y}/month={m}/r.json", [
            {"review_id": rid, "user_id": "u1", "business_id": "b1",
             "stars": 5, "useful": 1, "funny": 0, "cool": 0,
             "text": "great", "date": f"{y}-{m:02d}-05 12:00:00"}])
        _w(f"{root}/tip/year={y}/month={m}/t.json", [
            {"user_id": "u1", "business_id": "b1", "text": "tip",
             "compliment_count": 0, "date": f"{y}-{m:02d}-02 09:00:00"}])
    return root


def _table_state(spark, root):
    """{table: sorted row tuples} for every parquet table under root."""
    out = {}
    for name in sorted(os.listdir(root)):
        df = spark.read.parquet(f"{root}/{name}")
        cols = sorted(df.columns)
        out[name] = sorted(
            tuple(str(r[c]) for c in cols) for r in df.collect()
        )
    return out


def test_month_range():
    assert pipelines.month_range((2021, 11), (2022, 2)) == [
        (2021, 11), (2021, 12), (2022, 1), (2022, 2),
    ]
    assert pipelines.month_range((2021, 5), (2021, 5)) == [(2021, 5)]
    with pytest.raises(ValueError):
        pipelines.month_range((2022, 1), (2021, 12))


def test_backfill_runs_all_months_in_order(spark, bronze, tmp_path):
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    summary = pipelines.backfill(
        spark, bronze, silver, gold, (2021, 1), (2021, 3)
    )
    # catchup=True: every month, oldest first; b2s >> s2g per month.
    assert [(s["year"], s["month"], s["task"]) for s in summary] == [
        (2021, 1, "bronze_to_silver"), (2021, 1, "silver_to_gold"),
        (2021, 2, "bronze_to_silver"), (2021, 2, "silver_to_gold"),
        (2021, 3, "bronze_to_silver"), (2021, 3, "silver_to_gold"),
    ]
    r = spark.read.parquet(f"{silver}/reviews")
    months = {
        (row["year"], row["month"])
        for row in r.select("year", "month").distinct().collect()
    }
    assert months == {(2021, 1), (2021, 2), (2021, 3)}
    assert spark.read.parquet(f"{gold}/fact_review").count() == 3


def test_backfill_equals_union_of_single_month_runs(spark, bronze, tmp_path):
    s_bf, g_bf = str(tmp_path / "s_bf"), str(tmp_path / "g_bf")
    pipelines.backfill(spark, bronze, s_bf, g_bf, (2021, 1), (2021, 2))

    s_1x, g_1x = str(tmp_path / "s_1x"), str(tmp_path / "g_1x")
    for m in (1, 2):
        pipelines.bronze_to_silver(spark, bronze, s_1x, 2021, m)
        pipelines.silver_to_gold(spark, s_1x, g_1x, 2021, m)

    assert _table_state(spark, s_bf) == _table_state(spark, s_1x)
    assert _table_state(spark, g_bf) == _table_state(spark, g_1x)


def test_backfill_rerun_idempotent(spark, bronze, tmp_path):
    """Running month M twice == running it once — the property that
    makes the DAG's retries (and manual re-runs) safe."""
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    pipelines.backfill(spark, bronze, silver, gold, (2021, 1), (2021, 2))
    once = (_table_state(spark, silver), _table_state(spark, gold))
    # Replay month 2 (the Airflow clear-and-rerun idiom).
    pipelines.backfill(spark, bronze, silver, gold, (2021, 2), (2021, 2))
    assert (_table_state(spark, silver), _table_state(spark, gold)) == once


def test_backfill_retries_then_aborts(spark, bronze, tmp_path):
    """First attempt of a task fails → retried (retries=1) and the
    backfill completes; a task failing beyond retries aborts the
    backfill WITHOUT running later months."""
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    calls = {"n": 0}

    def flaky_b2s(spark_, src, dst, y, m):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return pipelines.bronze_to_silver(spark_, src, dst, y, m)

    summary = pipelines.backfill(
        spark, bronze, silver, gold, (2021, 1), (2021, 1),
        retries=1, _b2s=flaky_b2s,
    )
    assert summary[0]["attempts"] == 2

    def always_fails(spark_, src, dst, y, m):
        raise RuntimeError("permanent")

    g2 = str(tmp_path / "gold2")
    with pytest.raises(RuntimeError, match="permanent"):
        pipelines.backfill(
            spark, bronze, silver, g2, (2021, 1), (2021, 2),
            retries=1, _s2g=always_fails,
        )
    assert not os.path.exists(g2)  # month 2 never started downstream


def test_backfill_rows_match_ground_truth_and_written_tables(spark, bronze, tmp_path):
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    summary = pipelines.backfill(spark, bronze, silver, gold, (2021, 1), (2021, 3))
    for rec in summary:
        m = rec["month"]
        if rec["task"] == "bronze_to_silver":
            root, want = silver, B2S_ROWS
        else:
            root, want = gold, S2G_ROWS[m]
        assert rec["rows"] == want, (m, rec["task"])
        for table, n in rec["rows"].items():
            df = spark.read.parquet(f"{root}/{table}")
            if table in MONTH_SCOPED:
                df = df.filter((F.col("year") == 2021) & (F.col("month") == m))
            assert df.count() == n, (m, table)


def test_backfill_summary_submits_no_spark_job(spark, bronze, tmp_path):
    """Row counts ride on the writes: every job of a backfill belongs to
    a task, none to the summary backfill builds afterwards."""
    sc = spark.sparkContext
    task_group = f"tasks-{uuid.uuid4().hex}"

    def in_task_group(task):
        def call(*args):
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(task_group, "backfill task")
            try:
                return task(*args)
            finally:
                sc.setJobGroup(outer, "job count probe")
        return call

    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    summary, outside_tasks = jobs_during(spark, lambda: pipelines.backfill(
        spark, bronze, silver, gold, (2021, 1), (2021, 2),
        _b2s=in_task_group(pipelines.bronze_to_silver),
        _s2g=in_task_group(pipelines.silver_to_gold),
    ))
    assert len(summary) == 4
    assert outside_tasks == 0
    assert len(sc.statusTracker().getJobIdsForGroup(task_group)) > 0


def test_concurrent_writes_carry_the_callers_job_group(spark, bronze, tmp_path):
    """Every b2s job is submitted from a worker thread; each of the five
    writes must still land in the caller's job group."""
    rows, jobs = jobs_during(spark, lambda: pipelines.bronze_to_silver(
        spark, bronze, str(tmp_path / "silver"), 2021, 1))
    assert rows == B2S_ROWS
    assert jobs >= len(B2S_ROWS)


# Month 4 of ``_bronze_with_april``: a review and a tip, no check-in.
APRIL_S2G_ROWS = {"dim_time": 1, "dim_business": 2, "dim_user": 1,
                  "bridge_business_category": 3, "fact_review": 1,
                  "fact_checkin": 0}


def _bronze_with_april(bronze, tmp_path):
    """A copy of ``bronze`` plus 2021-04, a month with no check-ins."""
    src = str(tmp_path / "bronze")
    shutil.copytree(bronze, src)
    _w(f"{src}/review/year=2021/month=4/r.json", [
        {"review_id": "r4", "user_id": "u1", "business_id": "b2",
         "stars": 2, "useful": 0, "funny": 0, "cool": 0,
         "text": "meh", "date": "2021-04-09 12:00:00"}])
    _w(f"{src}/tip/year=2021/month=4/t.json", [
        {"user_id": "u1", "business_id": "b2", "text": "tip",
         "compliment_count": 0, "date": "2021-04-03 09:00:00"}])
    return src


def test_month_without_checkins_reports_zero(spark, bronze, tmp_path):
    """An empty write still completes its Observation (count 0), so the
    task neither hangs nor reports a stale count."""
    src = _bronze_with_april(bronze, tmp_path)
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    box = {}
    # Month 3 first: silver/checkins must exist before s2g can read it.
    t = threading.Thread(
        target=lambda: box.update(summary=pipelines.backfill(
            spark, src, silver, gold, (2021, 3), (2021, 4))),
        daemon=True,
    )
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "backfill hung on an empty write"
    b2s, s2g = box["summary"][2:]
    assert (b2s["month"], s2g["month"]) == (4, 4)
    assert b2s["rows"] == {**B2S_ROWS, "checkins": 0}
    assert s2g["rows"] == APRIL_S2G_ROWS


def test_first_month_without_checkins_on_fresh_warehouse(spark, bronze, tmp_path):
    """The empty dynamic-overwrite write leaves silver/checkins with no
    data file to infer a schema from; s2g must read it as empty."""
    src = _bronze_with_april(bronze, tmp_path)
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    b2s, s2g = pipelines.backfill(spark, src, silver, gold, (2021, 4), (2021, 4))
    assert (b2s["attempts"], s2g["attempts"]) == (1, 1)
    assert b2s["rows"] == {**B2S_ROWS, "checkins": 0}
    assert s2g["rows"] == APRIL_S2G_ROWS


def _bronze_with_may(bronze, tmp_path):
    """A copy of ``bronze`` plus 2021-05, a month with a check-in and a
    tip but no review."""
    src = str(tmp_path / "bronze")
    shutil.copytree(bronze, src)
    with open(f"{src}/checkin/c.json", "a") as f:
        f.write(json.dumps({"business_id": "b2", "date": "2021-05-07 08:00:00"}) + "\n")
    _w(f"{src}/tip/year=2021/month=5/t.json", [
        {"user_id": "u1", "business_id": "b2", "text": "tip",
         "compliment_count": 0, "date": "2021-05-03 09:00:00"}])
    return src


def test_first_month_without_reviews_on_fresh_warehouse(spark, bronze, tmp_path):
    """The empty write leaves silver/reviews with no data file; s2g reads
    it with its declared schema as an empty frame."""
    src = _bronze_with_may(bronze, tmp_path)
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    b2s, s2g = pipelines.backfill(spark, src, silver, gold, (2021, 5), (2021, 5))
    assert (b2s["attempts"], s2g["attempts"]) == (1, 1)
    assert b2s["rows"] == {**B2S_ROWS, "reviews": 0}
    assert s2g["rows"] == {"dim_time": 1, "dim_business": 2, "dim_user": 1,
                           "bridge_business_category": 3, "fact_review": 0,
                           "fact_checkin": 1}



def test_crash_in_gold_merge_swap_recovers_on_rerun(spark, bronze, tmp_path, monkeypatch):
    """A gold MERGE that dies at the rename putting the merged table in
    place loses nothing: re-running the month leaves gold equal to a
    clean run. Month 2's business snapshot drops b2, so a MERGE that
    restarted from month 2's updates alone would lose b2's rows."""
    month2 = str(tmp_path / "bronze2")
    shutil.copytree(bronze, month2)
    with open(f"{month2}/business/b.json") as f:
        b1 = [json.loads(line) for line in f if '"b1"' in line]
    _w(f"{month2}/business/b.json", b1)
    upserted = {"dim_business", "dim_user", "bridge_business_category"}

    def months(root, crash):
        silver, gold = str(tmp_path / root / "silver"), str(tmp_path / root / "gold")
        pipelines.bronze_to_silver(spark, bronze, silver, 2021, 1)
        pipelines.silver_to_gold(spark, silver, gold, 2021, 1)
        pipelines.bronze_to_silver(spark, month2, silver, 2021, 2)
        if crash:
            rename = os.rename

            def failing_rename(src, dst):
                if os.path.dirname(dst) == gold and os.path.basename(dst) in upserted:
                    raise OSError(f"injected failure renaming {src} to {dst}")
                rename(src, dst)

            monkeypatch.setattr(os, "rename", failing_rename)
            with pytest.raises(OSError, match="injected failure"):
                pipelines.silver_to_gold(spark, silver, gold, 2021, 2)
            monkeypatch.setattr(os, "rename", rename)
        pipelines.silver_to_gold(spark, silver, gold, 2021, 2)
        return _table_state(spark, gold)

    clean = months("clean", crash=False)
    assert len(clean["dim_business"]) == 2
    assert months("crashed", crash=True) == clean

def test_type_drifted_bronze_row_aborts_the_backfill(spark, bronze, tmp_path):
    """A declared bronze source is read FAILFAST: a review whose stars is
    not a number fails bronze_to_silver (rather than widening or nulling
    silver/reviews.stars), and the backfill aborts after its retry."""
    src = str(tmp_path / "bronze")
    shutil.copytree(bronze, src)
    _w(f"{src}/review/year=2021/month=1/r.json", [
        {"review_id": "r1", "user_id": "u1", "business_id": "b1",
         "stars": "five", "useful": 1, "funny": 0, "cool": 0,
         "text": "great", "date": "2021-01-05 12:00:00"}])
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    calls = []

    def b2s(*args):
        calls.append(args)
        return pipelines.bronze_to_silver(*args)

    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        pipelines.backfill(spark, src, silver, gold, (2021, 1), (2021, 2), _b2s=b2s)
    assert len(calls) == 2  # one attempt and one retry, then abort
    assert not os.path.exists(gold)


def test_declared_schemas_match_what_the_writers_produce(spark, bronze, tmp_path, monkeypatch):
    """Each declared bronze schema equals what inference returns on this
    fixture; each declared silver read schema, and the schema a gold
    MERGE target is read with (that of its updates plan), equal the
    schema of the table as written."""
    for source, ddl in pipelines.BRONZE_SCHEMAS.items():
        inferred = spark.read.json(f"{bronze}/{source}").schema
        want, got = declared_fields(spark, ddl, inferred)
        assert got == want, source

    upsert_schemas = {}
    upsert = pipelines._upsert

    def recording_upsert(spark_, updates, path, keys):
        upsert_schemas[os.path.basename(path)] = updates.schema
        return upsert(spark_, updates, path, keys)

    monkeypatch.setattr(pipelines, "_upsert", recording_upsert)
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    pipelines.backfill(spark, bronze, silver, gold, (2021, 1), (2021, 2))
    for table, ddl in pipelines.SILVER_SCHEMAS.items():
        written = spark.read.parquet(f"{silver}/{table}").schema
        want, got = declared_fields(spark, ddl, written)
        assert got == want, table
    assert set(upsert_schemas) == {"dim_business", "dim_user", "bridge_business_category"}
    for table, schema in upsert_schemas.items():
        written = spark.read.parquet(f"{gold}/{table}").schema
        assert [(f.name, f.dataType) for f in schema] == [
            (f.name, f.dataType) for f in written], table


# Spark jobs of a warm month (month 2 after month 1) on the ``bronze``
# fixture. Of the reads, only the business and user JSON snapshots
# still infer a schema. Before the declared schemas: bronze_to_silver
# 12, silver_to_gold 30.
WARM_MONTH_JOBS = {"bronze_to_silver": 9, "silver_to_gold": 23}


def test_warm_month_job_counts(spark, bronze, tmp_path):
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    pipelines.backfill(spark, bronze, silver, gold, (2021, 1), (2021, 1))
    _, b2s = jobs_during(spark, lambda: pipelines.bronze_to_silver(
        spark, bronze, silver, 2021, 2))
    _, s2g = jobs_during(spark, lambda: pipelines.silver_to_gold(
        spark, silver, gold, 2021, 2))
    assert {"bronze_to_silver": b2s, "silver_to_gold": s2g} == WARM_MONTH_JOBS


def _compiles(spark):
    """Janino compiles so far in this JVM (cache misses of the codegen cache)."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_month_hits_the_codegen_cache(spark, tmp_path):
    """A month's generated classes outnumber the default codegen cache
    (100 entries), which then evicts them cyclically: on this input a
    repeat of month 2 compiled 98 classes again. The session's cache
    holds the month's working set, so the repeat compiles nothing. A
    LIMIT in a month's plans would break that: Spark names each LIMIT's
    counter from a JVM-wide sequence, so such a plan generates new
    source every time it runs."""
    src = str(tmp_path / "bronze")
    perfbench_bronze().generate(src, 7, n_business=40, n_users=40,
                                reviews_per_month=40, tips_per_month=20)
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    pipelines.backfill(spark, src, silver, gold, (2021, 1), (2021, 2))
    before = _compiles(spark)
    pipelines.backfill(spark, src, silver, gold, (2021, 2), (2021, 2))
    assert _compiles(spark) - before == 0


def test_run_concurrently_waits_for_every_thunk_before_raising(spark):
    done = []

    def bad():
        raise RuntimeError("boom")

    def slow():
        time.sleep(1.0)
        done.append("slow")
        return 1

    with pytest.raises(RuntimeError, match="boom"):
        pipelines._run_concurrently(spark, {"bad": bad, "slow": slow})
    assert done == ["slow"]


def test_run_concurrently_runs_thunks_at_once(spark):
    # Each thunk waits for the other: a serial runner would time out.
    barrier = threading.Barrier(2, timeout=30)

    def meet(n):
        barrier.wait()
        return n

    got = pipelines._run_concurrently(spark, {"a": lambda: meet(1), "b": lambda: meet(2)})
    assert got == {"a": 1, "b": 2}


def test_cli_pipeline_commands_print_row_counts(spark, bronze, tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(session_mod, "get_spark", lambda *a, **k: spark)
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    try:
        assert cli.main(["b2s", "--bronze", bronze, "--silver", silver,
                         "--year", "2021", "--month", "1"]) == 0
        assert capsys.readouterr().out.splitlines() == [
            f"{t}: {n} rows" for t, n in B2S_ROWS.items()]

        assert cli.main(["s2g", "--silver", silver, "--gold", gold,
                         "--year", "2021", "--month", "1"]) == 0
        assert capsys.readouterr().out.splitlines() == [
            f"{t}: {n} rows" for t, n in S2G_ROWS[1].items()]

        assert cli.main(["backfill", "--bronze", bronze, "--silver", silver,
                         "--gold", gold, "--start", "2021-02", "--end", "2021-03"]) == 0
        want = []
        for m in (2, 3):
            for task, rows in (("bronze_to_silver", B2S_ROWS), ("silver_to_gold", S2G_ROWS[m])):
                counts = ", ".join(f"{t}={n}" for t, n in rows.items())
                want.append(f"2021-{m:02d} {task} (attempt 1): {counts}")
        assert capsys.readouterr().out.splitlines() == want
    finally:
        spark.sparkContext.setLogLevel("ERROR")
