"""Format readers/writers with scale-correct defaults.

- parquet is the default interchange (columnar, pushdown, pruning).
- csv/json NEVER infer schemas in the engine path (a schema-inference pass
  is a second full scan at 100 TB) — callers pass an explicit schema or a
  sample-derived one from `sample_schema`.
- text reads expose the flow wire format (one opaque record per line,
  \\r\\n tolerated — receiver_tcp.go:177-191 framing).
- the kafka stream reader is gated: the connector jar isn't in this image,
  so it raises a clear error unless the classpath provides it.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

READ_FORMATS = ("parquet", "csv", "json", "text", "orc")
WRITE_FORMATS = ("parquet", "csv", "json", "text", "orc", "console", "noop")


def read_any(
    spark: SparkSession,
    fmt: str,
    path: str,
    schema: StructType | str | None = None,
    **options: Any,
) -> DataFrame:
    if fmt not in READ_FORMATS:
        raise ValueError(f"unsupported read format {fmt!r} (have {READ_FORMATS})")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        raise ValueError(
            f"{fmt} reads require an explicit schema (inference = an extra "
            "full scan at scale); use sample_schema() for ad-hoc work"
        )
    if fmt == "csv":
        options.setdefault("header", "true")
    df = reader.options(**{k: str(v) for k, v in options.items()}).format(fmt).load(path)
    if fmt == "text":
        # tolerate \r\n framing (flow's wire records end \r\n)
        df = df.select(F.regexp_replace("value", "\r$", "").alias("value"))
    return df


def sample_schema(
    spark: SparkSession, fmt: str, path: str, sample_rows: int = 1000, **options: Any
) -> StructType:
    """Infer a schema from a bounded sample (ad-hoc/dev only)."""
    reader = spark.read.options(
        **{k: str(v) for k, v in options.items()}, inferSchema="true", header="true"
    )
    return reader.format(fmt).load(path).limit(sample_rows).schema


def write_any(df: DataFrame, fmt: str, path: str | None = None, mode: str = "overwrite", **options: Any) -> None:
    if fmt not in WRITE_FORMATS:
        raise ValueError(f"unsupported write format {fmt!r} (have {WRITE_FORMATS})")
    writer = df.write.mode(mode).options(**{k: str(v) for k, v in options.items()})
    if fmt in ("console",):
        df.show(truncate=False)
        return
    if fmt == "noop":
        writer.format("noop").save()
        return
    if fmt == "csv":
        options.setdefault("header", "true")
        writer = writer.option("header", "true")
    writer.format(fmt).save(path)


def kafka_jar_coordinate(spark: SparkSession) -> str:
    """Exact Maven coordinate of the connector matching THIS runtime.

    Derived from the live Scala binary version + Spark version so the error
    message (and any spark.jars.packages bootstrap) names the one artifact
    that will actually link, e.g.
    ``org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2``.
    """
    scala_full = spark.sparkContext._jvm.scala.util.Properties.versionNumberString()
    scala_bin = ".".join(scala_full.split(".")[:2])
    return f"org.apache.spark:spark-sql-kafka-0-10_{scala_bin}:{spark.version}"


def kafka_available(spark: SparkSession) -> bool:
    """True if the spark-sql-kafka connector is on the classpath."""
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "localhost:1"
        ).option("subscribe", "probe").load()
        return True
    except Exception as e:  # noqa: BLE001
        return "Failed to find data source: kafka" not in str(e)


def read_kafka_stream(
    spark: SparkSession, bootstrap: str, topic: str, **options: Any
) -> DataFrame:
    """Kafka message stream -> canonical message columns.  Requires the
    spark-sql-kafka jar (not bundled in this image)."""
    if not kafka_available(spark):
        raise NotImplementedError(
            f"kafka connector jar not on the classpath; add "
            f"{kafka_jar_coordinate(spark)} via spark.jars.packages, or point "
            f"SPARK_GRAFT_EXTRA_JARS at a local copy of the jar"
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .options(**{k: str(v) for k, v in options.items()})
        .load()
    )
    return raw.select(
        F.xxhash64("key", "value", "timestamp").alias("event_id"),
        F.col("timestamp").alias("ingest_ts"),
        F.col("value").alias("body"),
        F.col("value").cast("string").alias("body_str"),
        F.create_map(F.lit("topic"), F.col("topic")).alias("meta"),
    )
