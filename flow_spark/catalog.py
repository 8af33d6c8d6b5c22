"""Fixture-table catalog: batch tables and file streams.

Loads the driver-generated TPC-H-ish parquet tables (TESTDATA.md) and
registers them as temp views.  All reads go through ``spark.read.parquet``
so Catalyst gets predicate pushdown / column pruning / partition pruning
for free; at 100 TB these would be partitioned external tables and the same
code path applies.

Streams come from here too.  :func:`stream_table` turns a fixture table
into a file stream whose schema is the memoized batch relation's, so a
stream never pays the one-job ``parquet`` schema inference that the
batch read already did in this session; ``events.ts`` is normalized the
same way on both paths.  :func:`stream_parquet` is the one file->stream
rule: Spark's file-stream source monitors a directory, so a directory
streams as it is and a single file streams through its parent with
``pathGlobFilter`` set to the file's name (the source lists no
subdirectories, so a same-name file deeper down is not picked up).
Paths are made absolute against the driver's working directory first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
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
)

#: dimension tables small enough to broadcast at any scale factor that
#: matters (region/nation are bounded; part/supplier/customer are bounded
#: relative to the fact tables — on a real 100 TB run revisit part/customer).
BROADCAST_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: (applicationId, abs sf_dir, what) -> what ``build`` made for it.  A
#: process has one live SparkContext, so the first lookup under a new
#: applicationId drops every entry of the stopped ones
#: (:func:`session_memo`).
_MEMO: dict[tuple, object] = {}
_MEMO_APP: list[str | None] = [None]


def session_memo(spark: SparkSession, sf_dir: str, what, build, valid=None):
    """``build()``, memoized per (session, abs ``sf_dir``, ``what``).

    A value is a lazy plan or a spool directory, never rows: reusing it
    shares the resolved relation across queries while every execution
    still scans fresh.  A value ``valid`` rejects is rebuilt.  Plans and
    spools of a stopped session are useless to a new one, and keeping
    them would grow the memo with every session a process starts."""
    app = spark.sparkContext.applicationId
    if app != _MEMO_APP[0]:
        # list(): drains on other threads of this session may insert
        for key in [k for k in list(_MEMO) if k[0] != app]:
            _MEMO.pop(key, None)
        _MEMO_APP[0] = app
    key = (app, os.path.abspath(sf_dir), what)
    value = _MEMO.get(key)
    if value is None or (valid is not None and not valid(value)):
        value = _MEMO[key] = build()
    return value


def _memo(spark: SparkSession, sf_dir: str, name: str) -> tuple[DataFrame, DataFrame]:
    """(raw relation, normalized DataFrame) of fixture table ``name``:
    re-listing the files and re-inferring the schema for every query
    adds a fixed per-query cost (one Spark job, the dominant overhead
    at small SF); the raw relation's schema is what streams declare."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table: {name!r} (have {TABLES})")

    def build():
        raw = spark.read.parquet(table_path(os.path.abspath(sf_dir), name))
        return raw, _normalize(raw, name)

    return session_memo(spark, sf_dir, ("table", name), build)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture table ``name``; the same DataFrame object on every
    call in a session."""
    return _memo(spark, sf_dir, name)[1]


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture table ``name`` as an unbounded file stream, with the
    batch table's columns and types.  After the table's first batch or
    stream read in a session this runs no Spark job."""
    raw = _memo(spark, sf_dir, name)[0]
    return _normalize(stream_parquet(spark, table_path(sf_dir, name), raw.schema), name)


def stream_parquet(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """A parquet file or directory as a file stream.  Without ``schema``
    it is inferred from the files (one Spark job)."""
    path = os.path.abspath(path)
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", os.path.basename(path)).parquet(
        os.path.dirname(path)
    )


def _normalize(df: DataFrame, name: str) -> DataFrame:
    return normalize_events_ts(df) if name == "events" else df


def normalize_events_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Canonical contract: events.ts is TimestampType (UTC). Fixture
    generations have varied — timestamp[ns] (surfaced as nanos-long via
    spark.sql.legacy.parquet.nanosAsLong) and timestamp[us] without tz
    metadata (surfaced as TIMESTAMP_NTZ) — normalize both.  The ONE
    definition: :func:`load_table` and :func:`stream_table` apply it to
    the batch and the stream read of ``events``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, LongType):
        # integer division: ns magnitudes exceed double's 53-bit mantissa,
        # so (ts / 1000).cast(...) could land one microsecond off
        return df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        # session tz is pinned to UTC (session.py), so this cast is an
        # exact reinterpretation, matching the UTC-naive DuckDB oracle
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view named after itself."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
