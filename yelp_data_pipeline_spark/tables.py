"""Source layer: parquet scans of the synthetic star schema.

Mirrors the reference's scan operators (SURVEY.md §2.1 S1-S4) on the
driver fixtures: explicit-schema columnar scans with Catalyst pushdown.
The reference's Hive-style partition-path reads
(bronze_to_silver_on_minio.py:143-151) become partition-column
predicates here so pruning happens in the optimizer, not in path math.

Every fixture-table read goes through :func:`read_parquet`, which
memoizes each file's footer schema so only the first read of a file
pays Spark's schema-inference job:

- key: the file's identity (absolute path, size, ``mtime_ns``, inode —
  a file rewritten in place is inferred again) plus the session (one
  memo per ``SparkSession`` object, and the parquet-inference confs in
  ``_INFERENCE_CONFS`` are part of the key);
- fallback: a path that is not a local regular file (a directory, a
  URI, a glob, a failed ``stat``) is read with plain
  ``spark.read.parquet`` and nothing is memoized;
- fresh relation per call: only the ``StructType`` is memoized, never
  the DataFrame, so self-joins (nation n1/n2) still get distinct
  attribute ids;
- bounded: at most ``_SCHEMA_MEMO_MAX`` schemas per session (LRU).
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from collections import OrderedDict
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fixture columns written as parquet TIMESTAMP(NANOS): Spark's reader has
# no nanos type, so (with spark.sql.legacy.parquet.nanosAsLong) they
# arrive as long and are converted to microsecond timestamps here —
# truncation matches DuckDB's own nanos→micros read.
TS_NANOS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# SQL confs that change the schema parquet inference returns for a file.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
_SCHEMA_MEMO_MAX = 256
_schema_memo: weakref.WeakKeyDictionary[SparkSession, OrderedDict] = (
    weakref.WeakKeyDictionary()
)
_schema_memo_lock = threading.Lock()


def _file_identity(path: str) -> tuple | None:
    """(abspath, size, mtime_ns, inode) of a local regular file, else None."""
    if urlparse(path).scheme:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_size, st.st_mtime_ns, st.st_ino)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job on
    repeat reads: the first read of a local file infers its footer
    schema (one Spark job) and memoizes it; later reads of the same
    file in the same session pass it to ``spark.read.schema(s)``. The
    returned relation is new on every call (see the module docstring
    for the memo's key and fallback)."""
    ident = _file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    key = (ident, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    with _schema_memo_lock:
        memo = _schema_memo.setdefault(spark, OrderedDict())
        schema = memo.get(key)
        if schema is not None:
            memo.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schema_memo_lock:
        memo[key] = df.schema
        if len(memo) > _SCHEMA_MEMO_MAX:
            memo.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table; column pruning / predicate pushdown
    are preserved because nothing is materialized here."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for c in TS_NANOS_COLS.get(name, ()):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            # integer div keeps exactness (float div loses sub-µs bits at 2^60)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Fixture generations vary: TIMESTAMP(NANOS) (handled above) vs
    # naive TIMESTAMP(MICROS), which Spark 4 reads as TIMESTAMP_NTZ.
    # Normalize NTZ → session-zone timestamp (session is pinned UTC, so
    # wall-clock values are preserved bit-for-bit and match DuckDB's
    # naive read). Keeps unix_micros()/watermark operators valid.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_json_source(spark: SparkSession, path: str, schema=None, partition_filter=None):
    """S1/S2 — Bronze JSON ingestion (bronze_to_silver_on_minio.py:
    141-151): line-delimited JSON, nested structs supported.

    Prefer an explicit ``schema``: inference costs a Spark job and a
    full extra pass over every file under ``path`` (the reference pays
    it on every monthly run; a partition filter does not narrow it).
    A declared schema is read with ``mode=FAILFAST``: a row whose value
    does not fit its field raises instead of becoming NULL, so type
    drift in a source stops the job rather than emptying a column.
    Without a schema the read infers, and a drifted value widens the
    column's type instead. The monthly job declares its bronze
    ``checkin``, ``review`` and ``tip`` sources and infers the
    ``business`` and ``user`` snapshots, whose silver tables keep the
    fields the data carries (see pipelines.py).

    When ``path`` is a Hive-partitioned layout (``year=Y/month=M/…``) the
    partition dirs surface as typed columns; pass ``partition_filter``
    (a Column predicate on those) so pruning happens in the optimizer
    rather than via glob path arithmetic — the scan then lists only
    matching directories (the reference's S2/S4 path-math idiom breaks
    partition pruning and, on Delta 2.x, partial-path reads outright).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema).option("mode", "FAILFAST")
    df = reader.json(path)
    if partition_filter is not None:
        df = df.filter(partition_filter)
    return df


def read_csv_source(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    partition_filter=None,
):
    """CSV ingestion (source-format breadth beyond the reference's
    JSON/Delta): explicit ``schema`` strongly preferred — inference
    costs a full extra pass AND types everything it can't prove, and a
    malformed row under inference silently nulls columns. With a
    schema, Spark's CSV reader still pushes partition-column predicates
    (Hive layout) and prunes unread columns at parse time
    (``ReadSchema`` shrinks even though CSV is row-oriented — fields
    outside it are skipped, not converted).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    if partition_filter is not None:
        df = df.filter(partition_filter)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so the SQL entry point
    (SURVEY.md §3 entry point 3 — Trino/Superset serving path) is
    answered by spark.sql over the same engine."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def save_catalog_table(
    df: DataFrame, name: str, path: str | None = None, mode: str = "overwrite"
) -> None:
    """Register a gold output as a persistent ``spark_catalog`` TABLE
    (``saveAsTable``) — catalog-serving parity with the reference,
    which wires a Hive Metastore + Trino catalog for exactly this
    (mnt/hive-conf/hive-site.xml; trino catalog over the gold bucket)
    even though its jobs only ever write paths. Registered tables are
    queryable by name from ANY session on the catalog (spark.sql /
    thriftserver), carry their schema in the metastore, and survive
    view-less sessions — the serving tier a path-only layout lacks.

    ``path`` makes it an EXTERNAL table (data stays at the given
    location; DROP TABLE removes only the catalog entry) — the gold
    layout stays the single source of truth, exactly the
    metastore-over-bucket shape the reference runs."""
    writer = df.write.mode(mode)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(name)
