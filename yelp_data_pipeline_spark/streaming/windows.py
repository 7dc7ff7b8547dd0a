"""Event-time windowed aggregation + sessionization.

Batch/stream-agnostic: each function takes any DataFrame (static or
streaming) with an event-time column. On a stream, add
``with_watermark`` first so state for closed windows is evicted —
unbounded state is the way streaming jobs die at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import read_parquet


def with_watermark(df: DataFrame, ts_col: str, delay: str = "10 minutes") -> DataFrame:
    return df.withWatermark(ts_col, delay)


def tumbling_counts(
    df: DataFrame, ts_col: str, duration: str, keys: list[str] | None = None
) -> DataFrame:
    """Non-overlapping event-time windows; epoch-aligned starts (same
    alignment as SQL date_trunc for whole-unit durations)."""
    w = F.window(F.col(ts_col), duration)
    return (
        df.groupBy(*(keys or []), w.alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *(keys or []),
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "cnt",
        )
    )


def sliding_counts(
    df: DataFrame, ts_col: str, duration: str, slide: str, keys: list[str] | None = None
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide windows."""
    w = F.window(F.col(ts_col), duration, slide)
    return (
        df.groupBy(*(keys or []), w.alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *(keys or []),
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "cnt",
        )
    )


def session_counts(
    df: DataFrame, ts_col: str, gap: str, keys: list[str]
) -> DataFrame:
    """Gap-based sessions via ``session_window`` — state-store-backed on
    a stream, plain aggregation in batch. Emits one row per session
    with its span and event count."""
    w = F.session_window(F.col(ts_col), gap)
    return (
        df.groupBy(*keys, w.alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *keys,
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "cnt",
        )
    )


def stream_events_from_parquet(
    spark: SparkSession, sf_dir: str, table: str = "events", ts_col: str = "ts"
) -> DataFrame:
    """readStream over the fixture parquet (schema must be provided for
    file streams). With ``trigger(availableNow=True)`` this replays the
    table as a bounded stream — the harness's stand-in for Kafka.

    Applies the same TIMESTAMP(NANOS)→microsecond conversion as the
    batch source layer (tables.py) so watermarks see a timestamp."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = read_parquet(spark, f"{sf_dir}/{table}.parquet").schema
    # FileStreamSource requires a directory path: stream the fixture dir
    # with a glob pinned to this table's file.
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )
    dt = dict(df.dtypes).get(ts_col)
    if ts_col in df.columns and dt == "bigint":
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000")))
    elif dt == "timestamp_ntz":
        # Naive TIMESTAMP(MICROS) fixtures (newer generations): cast to
        # session-zone timestamp (pinned UTC) so watermarks apply.
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df
