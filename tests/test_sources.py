"""Format reader/writer round trips and gating behavior."""

from __future__ import annotations

import pytest

from flow_spark.sources import read_any, write_any


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip(spark, sf_dir, tmp_path, fmt):
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / f"out_{fmt}")
    write_any(src, fmt, out)
    back = read_any(spark, fmt, out, schema=src.schema)
    assert back.count() == src.count()
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in src.collect()
    )


def test_text_crlf_framing(spark, tmp_path):
    p = tmp_path / "wire.txt"
    p.write_bytes(b"alpha\r\nbeta\r\ngamma\r\n")
    df = read_any(spark, "text", str(p))
    assert sorted(r.value for r in df.collect()) == ["alpha", "beta", "gamma"]


def test_schema_required_for_csv_json(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_any(spark, "csv", str(tmp_path))


def test_unknown_formats_rejected(spark, sf_dir):
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    with pytest.raises(ValueError):
        read_any(spark, "avro", "x")
    with pytest.raises(ValueError):
        write_any(src, "delta", "x")


def test_kafka_jar_coordinate_exact(spark):
    """The coordinate is derived from the LIVE runtime (scala binary +
    spark version), so the gate error names the one artifact that links."""
    from flow_spark.sources.formats import kafka_jar_coordinate

    coord = kafka_jar_coordinate(spark)
    org, artifact, version = coord.split(":")
    assert org == "org.apache.spark"
    assert artifact.startswith("spark-sql-kafka-0-10_2.1")  # scala 2.12/2.13
    assert version == spark.version


def test_kafka_gated(spark):
    from flow_spark.sources import kafka_available
    from flow_spark.sources.formats import kafka_jar_coordinate, read_kafka_stream

    if kafka_available(spark):  # pragma: no cover - not in this image
        pytest.skip("kafka connector present")
    with pytest.raises(NotImplementedError) as ei:
        read_kafka_stream(spark, "localhost:9092", "t")
    # contract: the error names the exact versioned coordinate + the local
    # jar escape hatch, so an operator can fix it without reading source
    assert kafka_jar_coordinate(spark) in str(ei.value)
    assert "SPARK_GRAFT_EXTRA_JARS" in str(ei.value)


def test_corrupt_file_skip(spark, tmp_path):
    """A 100 TB ingest will meet truncated/garbage files; with
    spark.sql.files.ignoreCorruptFiles the scan skips them and keeps the
    good rows instead of failing the whole job (default conf: fail fast —
    also asserted, because silently-on-by-default would hide data loss)."""
    import pyspark.sql.utils

    d = tmp_path / "mixed"
    d.mkdir()
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(str(d))
    (d / "garbage.parquet").write_bytes(b"this is not parquet at all")

    with pytest.raises(Exception):
        spark.read.parquet(str(d)).count()  # fail-fast default

    old = spark.conf.get("spark.sql.files.ignoreCorruptFiles", None)
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        # explicit schema: footer-based inference would still die on the
        # garbage file at planning time (and is a second full listing at
        # scale anyway — the engine's csv/json readers refuse inference
        # for the same reason)
        schema = spark.range(1).selectExpr("id").schema
        assert spark.read.schema(schema).parquet(str(d)).count() == 10
    finally:
        if old is None:
            spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
        else:
            spark.conf.set("spark.sql.files.ignoreCorruptFiles", old)
