"""Readers for the driver-generated fixture tables (TESTDATA.md).

All reads are plain ``spark.read.parquet`` so Catalyst keeps pushdown /
pruning; the only normalization is the ``events.ts`` timestamp, which is
exposed both as ``ts_us`` (bigint micros, exact, matches DuckDB
``epoch_us(ts)``) and ``ts`` (TimestampType).  Two fixture generations are
handled: nanosecond BIGINT ``ts`` (read as raw nanos via
spark.sql.legacy.parquet.nanosAsLong) and native parquet TIMESTAMP
(read as timestamp_ntz; the session timezone is pinned to UTC so the
NTZ→TZ cast is the identity instant DuckDB uses for ``epoch_us``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import derived
from ..session import apply_runtime_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events fixture's ``ts`` across fixture generations
    to (``ts`` TimestampType, ``ts_us`` bigint micros): early rounds
    stored nanosecond BIGINTs (read via nanosAsLong), round 3+ stores
    native parquet timestamps (timestamp_ntz).  THE single copy of this
    recipe — batch loads, the streaming source, and the stream-stream
    join staging all call it, so a fixture representation change can
    never leave one reader interpreting the column at a 1000x different
    scale than the others (review r9: this lived in three places)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # legacy fixture: nanoseconds since epoch
        return df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
            "ts", F.timestamp_micros(F.col("ts_us"))
        )
    if ts_type in ("timestamp_ntz", "timestamp"):
        return df.withColumn(
            "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _read_fixture(spark: SparkSession, path: str) -> DataFrame:
    """The fixture file's plan, memoized per session (``derived``)."""
    return derived.memo(spark, "raw", path, lambda: spark.read.parquet(path))


def fixture_schema(spark: SparkSession, sf_dir: str, name: str):
    """The RAW (un-normalized) fixture file schema — for callers that
    need a schema without a frame (streaming sources staging the
    fixture file)."""
    apply_runtime_confs(spark)
    return _read_fixture(spark, f"{sf_dir}/{name}.parquet").schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return _read_fixture(spark, path)
    # events: memoize the NORMALIZED plan too (normalize_events_ts is a
    # pure projection, but it is several py4j calls per load)
    return derived.memo(
        spark, "events", path,
        lambda: normalize_events_ts(_read_fixture(spark, path)),
    )


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register fixture tables as temp views for spark.sql use.
    ``tables=None`` registers all fixture tables; an explicit empty
    list registers none (it is not a fall-through to the default)."""
    for name in (TABLES if tables is None else tables):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
