"""Kafka JSON source/sink — the reference's Kafka connectors, Spark-first.

ref sp/input/KafkaStreamTable.java:71-194 — record VALUE is a flat JSON
object parsed against a declared {column → Type} schema (:151-177);
record KEY is the event time in epoch-SECONDS (:154), which lands in the
reserved `__time__` column as epoch-ms; partitions are sharded across
servers and one consumer thread runs per partition (:113-127). On Spark,
`readStream.format("kafka")` owns partition assignment/threading, and
the JSON parse is one `from_json` expression.

ref sp/output/KafkaOutputTable.java:85-178 — each row serializes to a
flat JSON object; the `__time__` epoch-ms column becomes the record key
in epoch-seconds; writes round-robin partitions in batches. On Spark:
`to_json(struct(*))` + the kafka sink.

The kafka connector jar isn't in this container, so `kafka_stream` /
`write_kafka` raise at start() without it; the value ↔ row expression
layer (`parse_kafka_value`, `to_kafka_records`) is pure Catalyst and is
unit-tested against static frames.
"""

from __future__ import annotations

from collections.abc import Mapping

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from table_computing_spark.schema import Type

TIME_COL = "__time__"  # reserved, epoch-ms (ref AbstractStreamTable.java:25-38)

_KAFKA_PROVIDER = "org.apache.spark.sql.kafka010.KafkaSourceProvider"


def kafka_connector_available(spark: SparkSession) -> bool:
    """True if the spark-sql-kafka connector is on the JVM classpath.

    Checked eagerly by every Kafka entry point so a missing jar fails at
    CALL time with an actionable message, not at `.start()` with Spark's
    generic 'Failed to find data source: kafka'."""
    try:
        spark._jvm.java.lang.Thread.currentThread().getContextClassLoader().loadClass(
            _KAFKA_PROVIDER
        )
        return True
    except Py4JJavaError:  # ClassNotFoundException
        return False


def _require_connector(spark: SparkSession) -> None:
    if not kafka_connector_available(spark):
        scala = spark._jvm.scala.util.Properties.versionNumberString()
        scala_bin = ".".join(scala.split(".")[:2])
        raise RuntimeError(
            "the Kafka connector is not on this Spark session's classpath; "
            "launch with --packages org.apache.spark:spark-sql-kafka-0-10_"
            f"{scala_bin}:{spark.version} (or add the jar to spark.jars)"
        )


def to_struct_type(schema: Mapping[str, Type] | T.StructType) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return T.StructType(
        [T.StructField(name, t.to_spark(), True) for name, t in schema.items()]
    )


def parse_kafka_value(
    value: Column, key: Column, schema: Mapping[str, Type]
) -> Column:
    """(key, value) → struct of declared columns + `__time__` epoch-ms.

    Mirrors KafkaStreamTable's parse loop (:151-177): value is a flat
    JSON object read per the declared type map; the key is epoch-seconds
    event time (:154) surfaced as epoch-ms `__time__`."""
    st = to_struct_type(schema)
    parsed = F.from_json(value.cast("string"), st)
    fields = [parsed[f.name].alias(f.name) for f in st.fields]
    t = (key.cast("string").cast("bigint") * 1000).alias(TIME_COL)
    return F.struct(*fields, t)


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: Mapping[str, Type],
    group_id: str | None = None,
    consume_from_ms: int | None = None,
    consume_to_ms: int | None = None,
    max_records_per_trigger: int = 40_000,
) -> DataFrame:
    """Streaming Kafka JSON source (ref KafkaStreamTable ctor :71-111).

    consume_from_ms/consume_to_ms reproduce the bounded-replay ctor —
    Spark's startingTimestamp (and endingTimestamp for batch reads via
    `kafka_batch`). max_records_per_trigger mirrors MAX_POLL_RECORDS
    40,000 (:92)."""
    _require_connector(spark)
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("maxOffsetsPerTrigger", str(max_records_per_trigger))
    )
    if group_id:
        reader = reader.option("kafka.group.id", group_id)
    if consume_from_ms is not None:
        reader = reader.option("startingTimestamp", str(consume_from_ms))
    raw = reader.load()
    row = parse_kafka_value(F.col("value"), F.col("key"), schema)
    return raw.select(row.alias("r")).select("r.*")


def kafka_batch(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: Mapping[str, Type],
    consume_from_ms: int | None = None,
    consume_to_ms: int | None = None,
) -> DataFrame:
    """Bounded Kafka read — the consumeFrom/consumeTo replay ctor
    (ref KafkaStreamTable.java:71-90, isFinished :208-217)."""
    _require_connector(spark)
    reader = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
    )
    if consume_from_ms is not None:
        reader = reader.option("startingTimestamp", str(consume_from_ms))
    if consume_to_ms is not None:
        reader = reader.option("endingTimestamp", str(consume_to_ms))
    raw = reader.load()
    row = parse_kafka_value(F.col("value"), F.col("key"), schema)
    return raw.select(row.alias("r")).select("r.*")


def to_kafka_records(df: DataFrame, time_col: str | None = TIME_COL) -> DataFrame:
    """Rows → (key, value) pairs: value = flat JSON of all columns,
    key = epoch-seconds from the epoch-ms time column (ref
    KafkaOutputTable.java:102-178)."""
    data_cols = [c for c in df.columns if c != time_col]
    value = F.to_json(F.struct(*[F.col(c) for c in data_cols]))
    if time_col is not None and time_col in df.columns:
        key = (F.col(time_col).cast("bigint") / 1000).cast("bigint").cast("string")
    else:
        key = F.lit(None).cast("string")
    return df.select(key.alias("key"), value.alias("value"))


def write_kafka(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    time_col: str | None = TIME_COL,
):
    """Streaming Kafka JSON sink (ref KafkaOutputTable.java:85-90)."""
    _require_connector(df.sparkSession)
    return (
        to_kafka_records(df, time_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
