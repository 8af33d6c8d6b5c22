"""Vector math over ``array<float>`` columns, JVM-side.

Uses ``F.zip_with`` + ``F.aggregate`` higher-order functions so the dot
product / norms run inside codegen — no Python round trip.  For very wide
vectors or batched top-k, a vectorized Pandas UDF (numpy matmul) wins; see
``flow_spark.operators.similarity`` which provides both paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sql_double_array(vals) -> str:
    """Literal array<double> as ONE SQL fragment.

    Building literal vectors with per-element F.lit() costs one py4j round
    trip each — a 16x256-entry codebook is ~4k driver calls (~1.5 s of
    plan-build, measured).  A single expr string is one call.  repr(float)
    round-trips exactly and Java's parseDouble is correctly rounded, so
    the parsed literals are bit-identical to the Python values.
    """
    return "array(" + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in vals) + ")"


def sql_dot(vec_sql: str, lit_array_sql: str) -> str:
    """SQL fragment: dot(vec, literal) matching dot()'s fold semantics."""
    return (
        f"aggregate(zip_with({vec_sql}, {lit_array_sql}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
