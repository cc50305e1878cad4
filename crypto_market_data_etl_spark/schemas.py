"""Schema registry + testdata loaders.

The reference declares every schema explicitly (never inferred) and duplicates
the two core StructTypes across seven files; we centralize them here
(reference: ``spark_src/kafka_to_gcs_by_spark_batch.py:18-58``,
``spark_src/processing_raw_data_from_gcs.py:11-62`` — the ``load_schema``
registry pattern, unknown names raise).

Also hosts the loaders for the driver's synthetic testdata
(``/root/testdata/sf*/``), including the TIMESTAMP(NANOS) normalization for
``events`` (see session.RUNTIME_CONFS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import tune

# --------------------------------------------------------------------------
# Reference schemas (semantics from spark_src/kafka_to_gcs_by_spark_batch.py:20-56)
# --------------------------------------------------------------------------

#: One row per executed trade (upbit_trade topic payload).
TRADE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType(), True),
        T.StructField("code", T.StringType(), True),
        T.StructField("timestamp", T.LongType(), True),  # epoch ms, exchange send
        T.StructField("trade_date", T.StringType(), True),
        T.StructField("trade_time", T.StringType(), True),
        T.StructField("trade_timestamp", T.LongType(), True),  # epoch ms
        T.StructField("trade_price", T.DoubleType(), True),
        T.StructField("trade_volume", T.DoubleType(), True),
        T.StructField("ask_bid", T.StringType(), True),  # "ASK" | "BID"
        T.StructField("prev_closing_price", T.DoubleType(), True),
        T.StructField("change", T.StringType(), True),
        T.StructField("change_price", T.DoubleType(), True),
        T.StructField("sequential_id", T.LongType(), True),
        T.StructField("stream_type", T.StringType(), True),
        T.StructField("arrive_time", T.DoubleType(), True),  # epoch seconds float
    ]
)

#: Five-level order-book snapshot (upbit_orderbook topic payload).
ORDERBOOK_UNIT = T.StructType(
    [
        T.StructField("ask_price", T.DoubleType(), True),
        T.StructField("bid_price", T.DoubleType(), True),
        T.StructField("ask_size", T.DoubleType(), True),
        T.StructField("bid_size", T.DoubleType(), True),
    ]
)

ORDERBOOK_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType(), True),
        T.StructField("code", T.StringType(), True),
        T.StructField("timestamp", T.LongType(), True),  # epoch ms
        T.StructField("total_ask_size", T.DoubleType(), True),
        T.StructField("total_bid_size", T.DoubleType(), True),
        T.StructField("orderbook_units", T.ArrayType(ORDERBOOK_UNIT), True),
        T.StructField("stream_type", T.StringType(), True),
        T.StructField("level", T.IntegerType(), True),
        T.StructField("arrive_time", T.DoubleType(), True),
    ]
)

_REGISTRY: dict[str, T.StructType] = {
    "upbit_trade": TRADE_SCHEMA,
    "upbit_orderbook": ORDERBOOK_SCHEMA,
}


def load_schema(topic_name: str) -> T.StructType:
    """Schema lookup by topic name; unknown names raise (reference:
    ``spark_src/processing_raw_data_from_gcs.py:20-22``)."""
    try:
        return _REGISTRY[topic_name]
    except KeyError:
        raise ValueError(f"unknown topic/schema name: {topic_name!r}") from None


def wrapped(schema: T.StructType) -> T.StructType:
    """Raw-archive rows are nested one level under a ``data`` struct
    (reference: ``spark_src/processing_raw_data_from_gcs.py:80-82``)."""
    return T.StructType([T.StructField("data", schema, True)])


# --------------------------------------------------------------------------
# Driver testdata loaders
# --------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table, normalizing types for the engine.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (reads as a nanos
    long under nanosAsLong) and as TIMESTAMP(MICROS) (reads as TimestampType
    or TimestampNTZType depending on ``inferTimestampNTZ``), so the
    normalization branches on the dtype Spark actually surfaced. Either way
    we expose BOTH ``ts_us`` (bigint µs — exact, used for deterministic
    ordering/bucketing) and ``ts`` (TimestampType, µs precision — used for
    time windows). Oracle mirror: ``epoch_ns(ts)//1000`` /
    ``make_timestamp(epoch_ns(ts)//1000)``.
    """
    tune(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Replace whatever dtype ``ts`` arrived as with the engine's canonical
    pair: ``ts_us`` bigint µs + ``ts`` TimestampType(µs)."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # nanos-as-long
        ts_us = F.expr("ts div 1000")
    else:
        # TimestampNTZType casts to TIMESTAMP via the session zone; tune()
        # pinned it to UTC, so the instant is preserved and unix_micros
        # returns the stored µs exactly.
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        df.withColumn("ts_us", ts_us)
        .drop("ts")
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )


def events_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file source over ``events.parquet``, normalized like
    :func:`load_table`.

    The streaming reader requires an explicit schema; we take it from the
    parquet footer (one cheap batch-metadata read) instead of hardcoding, so
    the ``ts`` physical type (TIMESTAMP(NANOS) nanos-as-long vs
    TIMESTAMP(MICROS)) is whatever the file actually has.

    ``events.parquet`` may be one file or a Spark-written directory of part
    files (what ``df.write.parquet`` produces); the batch read's file
    listing tells the two apart on any filesystem.
    """
    tune(spark)
    path = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(path)
    reader = spark.readStream.schema(batch.schema)
    if any(not f.endswith("/events.parquet") for f in batch.inputFiles()):
        src = reader.parquet(path)
    else:  # a single file: the file source needs a dir, so filter its parent
        src = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return normalize_events_ts(src)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}
