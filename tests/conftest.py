import contextlib
import importlib.util
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # saveAsTable target for the bucketing tests
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def normalize_events_ts(df, ts_col="ts"):
    """Fixture-generation-proof ts normalizer: nanos-as-long (older
    testdata) and naive-micros TIMESTAMP_NTZ (newer testdata) both
    become a session-UTC timestamp, matching tables.load_table."""
    import pyspark.sql.functions as F

    t = dict(df.dtypes).get(ts_col)
    if t == "bigint":
        return df.withColumn(ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000")))
    if t == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def jobs_during(spark, fn):
    """(fn(), number of Spark jobs fn submitted) via a one-off job group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def cc_path(spark, path):
    """Run every graph operator (connected components, k-core, BFS,
    both PageRanks, HITS) on ``path`` inside the block: "driver" leaves
    the session as it is, so graphs under the broadcast threshold
    finish on the driver; "distributed" sets the threshold to -1, which
    turns every driver path off."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if path == "distributed":
        spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def declared_fields(spark, ddl, schema):
    """(the fields of the DDL string ``ddl``, the fields of ``schema``
    that it names) as (name, type) lists, for an equality assert."""
    declared = [(f.name, f.dataType) for f in spark.createDataFrame([], ddl).schema]
    names = {n for n, _ in declared}
    return declared, [(f.name, f.dataType) for f in schema if f.name in names]


def perfbench_bronze():
    """The benchmark's seeded bronze generator (``perfbench/bronze.py``)."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "perfbench", "bronze.py")
    spec = importlib.util.spec_from_file_location("perfbench_bronze", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
