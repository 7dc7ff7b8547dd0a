"""End-to-end pipeline entry points — the reference's two monthly jobs
(SURVEY.md §3 entry points 1-2) assembled from the operator library.

``bronze_to_silver`` mirrors ``bronze_to_silver_on_minio.py:127-190``:
raw Yelp-shaped JSON → cleaned, typed Silver tables (business/users
full-overwrite; checkins/reviews/tips month-scoped, written with
dynamic partition overwrite).

``silver_to_gold`` mirrors ``silver_to_gold_on_minio.py:147-225``:
Silver → star-schema Gold (dim_time, dim_business, dim_user — the
schema.png table the reference declares but never builds —
bridge_business_category, fact_review, fact_checkin), with MERGE
upsert semantics on the keyed tables.

Both jobs return ``{table: rows written}``. The tables of one job do
not depend on each other (the facts join dim_time's *plan*, not the
file it writes), so each job runs its writes concurrently on driver
threads; a job's one Spark job per table then shares the cores
instead of queueing behind the previous write. Row counts come from
an ``Observation`` on each write, so they ride on the write's own job
rather than re-executing the plan.

Reads pass declared schemas, so a month spends no Spark job on schema
inference and no pass over earlier months' files:

- bronze ``checkin``, ``review`` and ``tip`` are read with
  ``BRONZE_SCHEMAS``: the Yelp Open Dataset fields, in the order and
  with the types ``spark.read.json`` infers for them. A declared source
  is read with ``mode=FAILFAST``: a row whose value does not fit its
  field (``"stars": "five"``) fails the task, and with it the backfill
  once its retry fails too, instead of silently widening the silver
  column (as inference would) or nulling it (as ``PERMISSIVE`` would).
- bronze ``business`` and ``user`` keep inference, deliberately: they
  are full snapshots whose silver tables keep whatever fields the files
  carry, and business's flattened ``attributes_*`` / ``hours_*``
  columns come from the data by design (B2S:64-76).
- silver tables are read by ``silver_to_gold`` with ``SILVER_SCHEMAS``
  (the month-scoped tables in full, the snapshots as the columns gold
  projects), and a gold MERGE target with the schema of the plan that
  wrote it. A table without data files (a month with no check-ins or
  no reviews on a fresh warehouse) then reads as an empty frame.

Storage is parquet (the harness has no Delta jars); the writers go
through operators/upsert.py, whose Delta paths activate when
delta-spark is importable. Month parameters drive partition-column
predicates, never path arithmetic (the reference's S4 anti-pattern).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators import cleaning as cl
from .operators import dims, facts, joins
from .operators.aggregates import group_count
from .operators.upsert import (
    _commit_state,
    _recover_state,
    merge_upsert_df,
    write_partitioned,
)
from .tables import read_json_source

_MONTH_PARTS = ["year", "month"]


def _write_overwrite(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _counted(write: Callable[..., None], df: DataFrame, *args) -> int:
    """``write(df, *args)``, returning the number of rows it wrote.

    The count is an ``Observation`` on the written plan: it is collected
    by the write's own job, never by a second pass over the data."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")), *args)
    return obs.get["rows"]


def _run_concurrently(
    spark: SparkSession, thunks: dict[str, Callable[[], int]]
) -> dict[str, int]:
    """Run independent table writes on driver threads; ``{table: rows}``.

    Each thunk inherits the caller's Spark local properties (job group,
    job description), so its jobs are attributed to the calling task.
    Every thunk finishes before the first error (in ``thunks`` order)
    is re-raised: a retry of the task must never overlap a write of the
    failed attempt that is still running.
    """
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(thunk))
            for name, thunk in thunks.items()
        }
    # Leaving the with-block waited for every thunk.
    return {name: f.result() for name, f in futures.items()}


# The declared bronze sources, as ``spark.read.json`` infers them on
# Yelp-format files (partition columns last). business and user are
# inferred; see the module docstring.
BRONZE_SCHEMAS = {
    "checkin": "business_id string, date string",
    "review": (
        "business_id string, cool bigint, date string, funny bigint, "
        "review_id string, stars bigint, text string, useful bigint, "
        "user_id string, year int, month int"
    ),
    "tip": (
        "business_id string, compliment_count bigint, date string, "
        "text string, user_id string, year int, month int"
    ),
}


def bronze_to_silver(
    spark: SparkSession, bronze_dir: str, silver_dir: str, year: int, month: int
) -> dict[str, int]:
    """Monthly Bronze→Silver job: writes the five Silver tables
    concurrently and returns ``{table: rows written}``."""
    month_pred = (F.col("year") == year) & (F.col("month") == month)

    def full(table: str, src: str, clean: Callable[[DataFrame], DataFrame]) -> int:
        df = clean(read_json_source(spark, f"{bronze_dir}/{src}"))
        return _counted(_write_overwrite, df, f"{silver_dir}/{table}")

    def checkins() -> int:
        raw = read_json_source(spark, f"{bronze_dir}/checkin", BRONZE_SCHEMAS["checkin"])
        df = cl.process_checkins(raw).filter(month_pred)
        return _counted(write_partitioned, df, f"{silver_dir}/checkins", _MONTH_PARTS)

    def dated(table: str, src: str) -> int:
        raw = read_json_source(
            spark, f"{bronze_dir}/{src}", BRONZE_SCHEMAS[src], partition_filter=month_pred
        )
        # bronze partition dirs provide (year, month); the cleaner
        # re-derives them from the payload date (B2S:108-111)
        df = cl.add_event_date_parts(raw.drop("year", "month"), "date")
        return _counted(write_partitioned, df, f"{silver_dir}/{table}", _MONTH_PARTS)

    return _run_concurrently(
        spark,
        {
            "business": partial(full, "business", "business", cl.process_business),
            "users": partial(full, "users", "user", cl.process_users),
            "checkins": checkins,
            "reviews": partial(dated, "reviews", "review"),
            "tips": partial(dated, "tips", "tip"),
        },
    )


# The silver tables as silver_to_gold reads them, in the order and with
# the types bronze_to_silver writes them: the month-scoped tables in
# full, the business and users snapshots as the columns gold projects
# (their other columns follow the bronze data).
SILVER_SCHEMAS = {
    "reviews": (
        "business_id string, cool bigint, date timestamp, funny bigint, "
        "review_id string, stars bigint, text string, useful bigint, "
        "user_id string, year int, month int"
    ),
    "checkins": "business_id string, date timestamp, year int, month int",
    "business": (
        "business_id string, categories string, city string, is_open boolean, "
        "latitude double, longitude double, name string, postal_code string, "
        "review_count bigint, stars double, state string"
    ),
    "users": (
        "average_stars double, cool bigint, fans bigint, funny bigint, "
        "name string, review_count bigint, useful bigint, user_id string, "
        "yelping_since timestamp, elite_years_count int, friends_count int"
    ),
}


def silver_to_gold(
    spark: SparkSession, silver_dir: str, gold_dir: str, year: int, month: int
) -> dict[str, int]:
    """Monthly Silver→Gold job: builds the six Gold plans, writes them
    concurrently and returns ``{table: rows written}`` (for the MERGE
    tables, the rows of the whole merged table)."""
    month_pred = (F.col("year") == year) & (F.col("month") == month)

    def silver(table: str) -> DataFrame:
        return spark.read.schema(SILVER_SCHEMAS[table]).parquet(f"{silver_dir}/{table}")

    reviews = silver("reviews").filter(month_pred)
    checkins = silver("checkins").filter(month_pred)
    business = silver("business")
    users = silver("users")

    # dim_time — month-scoped (S2G:18-35; date_id restarts per month,
    # SURVEY §5 caveat), union of review + checkin dates
    dates = (
        reviews.select(F.to_date("date").alias("date"))
        .union(checkins.select(F.to_date("date").alias("date")))
        .distinct()
    )
    dim_time = dims.build_dim_time(dates)

    # dim_business / dim_user — MERGE upsert on the natural key
    dim_business = dims.project_dim(
        business,
        {
            "business_id": "business_id",
            "name": "name",
            "city": "city",
            "state": "state",
            "postal_code": "postal_code",
            "latitude": "latitude",
            "longitude": "longitude",
            "is_open": "is_open",
            "review_count": "review_count",
            "stars": "stars_avg",
        },
    )

    dim_user = dims.project_dim(
        users,
        {
            "user_id": "user_id",
            "name": "name",
            "yelping_since": "yelping_since",
            "review_count": "review_count",
            "average_stars": "average_stars",
            "useful": "useful",
            "funny": "funny",
            "cool": "cool",
            "fans": "fans",
            "elite_years_count": "elite_years_count",
            "friends_count": "friends_count",
        },
    )

    # bridge — explode categories, dictionary-encode, distinct pairs
    exploded = cl.explode_csv(
        business.select("business_id", "categories").filter(
            F.col("categories").isNotNull()
        ),
        "categories",
        "category_name",
    )
    cats = dims.dictionary_encode(exploded, "category_name", "category_id")
    bridge = (
        joins.join_broadcast_dim(
            exploded.select("business_id", "category_name"), cats, "category_name"
        )
        .select("business_id", "category_id", "category_name")
        .distinct()
    )

    # facts — measures ⟕ dim_time, partitioned dynamic overwrite
    fact_review = facts.attach_date_dim(
        reviews.select("business_id", "user_id", "date", "stars", "useful", "funny", "cool"),
        dim_time,
        F.to_date("date"),
        dim_cols=("date_id", "year", "month"),
    ).select(
        "business_id", "user_id", "date_id", "year", "month",
        "stars", "useful", "funny", "cool",
    )

    daily = group_count(
        checkins.select("business_id", F.to_date("date").alias("date")),
        ["business_id", "date"],
        alias="checkin_count",
    )
    fact_checkin = facts.attach_date_dim(
        daily, dim_time, F.col("date"), dim_cols=("date_id", "year", "month")
    ).select("business_id", "date_id", "year", "month", "checkin_count")

    def partitioned(table: str, df: DataFrame) -> Callable[[], int]:
        return partial(_counted, write_partitioned, df, f"{gold_dir}/{table}", _MONTH_PARTS)

    def upsert(table: str, df: DataFrame, keys: list[str]) -> Callable[[], int]:
        return partial(_upsert, spark, df, f"{gold_dir}/{table}", keys)

    return _run_concurrently(
        spark,
        {
            "dim_time": partitioned("dim_time", dim_time),
            "dim_business": upsert("dim_business", dim_business, ["business_id"]),
            "dim_user": upsert("dim_user", dim_user, ["user_id"]),
            "bridge_business_category": upsert(
                "bridge_business_category", bridge, ["business_id", "category_id"]
            ),
            "fact_review": partitioned("fact_review", fact_review),
            "fact_checkin": partitioned("fact_checkin", fact_checkin),
        },
    )


def _upsert(spark: SparkSession, updates: DataFrame, path: str, keys: list[str]) -> int:
    """S9 MERGE semantics on a parquet table: create-if-absent, else
    updates ∪ (target anti-join updates) rewritten (the Delta MERGE
    branch in operators/upsert.py takes over when delta is present).
    Returns the row count of the table as written.

    The rewrite goes through the state-swap protocol of
    operators/upsert.py (staged write, displace the old table, rename,
    drop the old one): you cannot overwrite a parquet path while a
    lazy plan still reads it, and a driver-side collect would not
    scale. A crash anywhere in the swap leaves the old or the new
    table on disk, which the next run's recovery restores; re-running
    the month then merges the same updates again, a no-op on the new
    table. (Delta does this swap transactionally.)

    The target is read with the schema of ``updates``: the table on disk
    was written by this same plan, so that is its declared schema.
    """
    _recover_state(path)
    if not os.path.isdir(path):
        return _counted(_write_overwrite, updates, path)
    target = spark.read.schema(updates.schema).parquet(path)
    merged = merge_upsert_df(target, updates, keys)
    # One MERGE per table is in flight at a time, so one swap id.
    return _counted(_commit_state, merged, path, 0)


def month_range(
    start: tuple[int, int], end: tuple[int, int]
) -> list[tuple[int, int]]:
    """Inclusive (year, month) range, ascending — the schedule a
    ``catchup=True`` monthly DAG would enumerate."""
    sy, sm = start
    ey, em = end
    if (sy, sm) > (ey, em):
        raise ValueError(f"start {start} after end {end}")
    out, y, m = [], sy, sm
    while (y, m) <= (ey, em):
        out.append((y, m))
        m += 1
        if m == 13:
            y, m = y + 1, 1
    return out


def backfill(
    spark: SparkSession,
    bronze_dir: str,
    silver_dir: str,
    gold_dir: str,
    start: tuple[int, int],
    end: tuple[int, int],
    retries: int = 1,
    _b2s=None,
    _s2g=None,
) -> list[dict]:
    """Month-range backfill with the reference DAG's orchestration
    semantics (mnt/airflow/dags/yelp_pipeline.py:10-21) re-expressed
    as a driver loop:

    - ``catchup=True``   → every month in [start, end] runs, oldest
      first (:func:`month_range`);
    - ``max_active_runs=1`` → months run strictly sequentially —
      REQUIRED for correctness here, not just politeness: gold MERGE
      upserts fold month N's dims into month N-1's table state, so
      two months racing would lose updates;
    - ``bronze_to_silver >> silver_to_gold`` → task order within a
      month; a month's s2g never starts before its b2s committed.
      Inside a task the table writes run concurrently, and a task
      returns (or raises) only once every one of its writes ended;
    - ``retries: 1`` → each task re-attempts ``retries`` times on
      failure before the backfill aborts (remaining months DON'T run
      — Airflow's depends-on-failed-upstream posture for a linear
      chain).

    Rerun idempotence is the property that makes retries safe, and it
    holds by construction: silver month-scoped tables write via
    dynamic partition overwrite (replaying a month replaces exactly
    that month's partitions), gold keyed tables go through the MERGE
    twin (same keys → same survivors). Verified in
    tests/test_backfill.py by table-state equality.

    Returns one summary dict per (month, task); its ``rows`` is the
    task's ``{table: rows written}``, observed on the writes themselves
    (the summary submits no Spark job of its own).
    """
    b2s = _b2s or bronze_to_silver
    s2g = _s2g or silver_to_gold
    summary: list[dict] = []
    for year, month in month_range(start, end):
        for task_name, task, src, dst in (
            ("bronze_to_silver", b2s, bronze_dir, silver_dir),
            ("silver_to_gold", s2g, silver_dir, gold_dir),
        ):
            attempt = 0
            while True:
                try:
                    rows = task(spark, src, dst, year, month)
                    break
                except Exception:
                    attempt += 1
                    if attempt > retries:
                        raise
            summary.append(
                {
                    "year": year,
                    "month": month,
                    "task": task_name,
                    "attempts": attempt + 1,
                    "rows": rows,
                }
            )
    return summary


def curate_documents_job(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    min_quality: float = 0.45,
    min_tokens: int = 5,
    max_tokens: int = 5000,
    jaccard: float = 0.8,
) -> DataFrame:
    """LLM-training-data curation, end to end: PII scrub → quality
    gate → MinHash near-dup clustering → one survivor per cluster →
    Hive-partitioned parquet by language.

    The whole chain is one declarative plan per stage, except where
    the connected-components step materializes the near-dup pairs:
    it counts them and, when they fit the broadcast threshold,
    collects them for union-find on the driver (otherwise it runs
    one convergence count per distributed round). Survivors are the
    cluster-min doc ids, so reruns are deterministic. Output partitioning by ``lang`` makes the
    downstream per-language sampling reads partition-pruned.
    """
    from .operators import dedup as dd
    from .operators import graph
    from .operators import textops as tx
    from .tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    quality_ok = (
        tx.quality_features(docs, "doc_id", "text")
        .filter(
            (F.col("quality_score") >= min_quality)
            & F.col("n_tokens").between(min_tokens, max_tokens)
        )
        .select("doc_id")
    )
    pairs = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=12, bands=4, threshold=jaccard
    )
    clusters = graph.dedup_clusters(docs, pairs)
    survivors = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id"
    )

    scrubbed = tx.scrub_pii(docs, "doc_id", "text")
    curated = (
        docs.join(quality_ok, "doc_id", "left_semi")
        .join(survivors, "doc_id", "left_semi")
        .join(scrubbed.select("doc_id", "scrubbed_text"), "doc_id")
        .select("doc_id", "scrubbed_text", "source", "n_chars", "lang")
    )
    # Static overwrite: this job rewrites the WHOLE corpus every run
    # (it is not month-incremental), so stale partitions from a prior,
    # less strict run must not survive — dynamic overwrite would leave
    # them in place whenever the new run emits fewer languages.
    write_partitioned(curated, out_dir, ["lang"], dynamic=False)
    # The write above materialized every operator-persisted relation
    # (MinHash signatures, CC labels); release them so a long-lived
    # session doesn't accumulate cached blocks.
    from .session import release_tracked

    release_tracked()
    # Return the written plan, not a read-back: a legitimately empty
    # result leaves no parquet footer to infer a schema from, and the
    # job must not throw on it.
    return curated
