"""Parquet scan over the driver's testdata star schema (TESTDATA.md).

Columnar parquet is the scale path: Catalyst pushes filters and prunes
columns into this scan (check `PushedFilters` / `ReadSchema` in
`df.explain('formatted')`), so downstream operators only pay for the
bytes they touch — the property that matters at 100 TB.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from table_computing_spark.table import Table

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that Spark's Parquet schema inference reads
# (ParquetFileFormat.mergeSchemasInParallel and the schema merge): a
# schema inferred under one set of values is not the schema under another.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive",
)

# (path, inference confs) -> ((st_ino, st_size, st_mtime_ns), schema).
# The version is taken before inference, so a file replaced meanwhile
# stores a stale version, and the next read infers again.
_SCHEMAS: dict[tuple, tuple[tuple[int, int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, inferring a local file's schema once
    per file version: inference is a Spark job per read, and the same
    files are loaded by every query of a session. Directories, URIs and
    relative paths (the JVM resolves those against its own working
    directory), and paths that cannot be stat'ed, are inferred on every
    read."""
    try:
        st = os.stat(path) if os.path.isabs(path) else None
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    version = (st.st_ino, st.st_size, st.st_mtime_ns)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (version, df.schema)
    return df


def _set_read_confs(spark: SparkSession) -> None:
    # The driver may hand us a session without our defaults; these are
    # runtime SQL confs, so set them defensively (older testdata stored
    # events.ts as TIMESTAMP(NANOS), which Spark can't read natively;
    # TZ parity with the DuckDB oracle requires UTC rendering of NTZ
    # timestamps).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _set_read_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        # Normalize ts to TimestampType whatever the generator wrote —
        # the physical type has changed across testdata regenerations,
        # so dispatch on the actual scan dtype:
        #   bigint        → epoch-ns under nanosAsLong. Integer `div`
        #                   is mandatory: `/` coerces the ~1.7e18 ns
        #                   value to double (exact only to 2^53) and
        #                   corrupts microseconds; `div` stays in long
        #                   arithmetic and matches DuckDB's exact ns→µs
        #                   truncation of the same file.
        #   timestamp_ntz → native timestamp[us]; cast to LTZ is the
        #                   identity instant under the UTC session TZ.
        #   timestamp     → already what we want.
        dtype = dict(df.dtypes).get("ts", "")
        if dtype in ("bigint", "int", "long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table `name` replayed as a parquet file stream over `sf_dir`.

    The stream carries the file's RAW schema, taken from the cached
    `_read_parquet` schema (no inference job after the first read of a
    file version): a file source needs its schema up front, and
    load_df's normalized events `ts` (TimestampType) would not match the
    files. Readers of `ts` dispatch on its raw type
    (`__spark_entry__._ts_ms`)."""
    _set_read_confs(spark)
    schema = _read_parquet(spark, f"{sf_dir}/{name}.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> Table:
    return Table(load_df(spark, sf_dir, name), name)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, Table]:
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}
