"""Query registry: the declared inventory of SURVEY.md §2.

Each :class:`Query` couples a Spark DataFrame builder with the equivalent
DuckDB oracle SQL (ANSI SQL over the same parquet tables, pre-registered as
views).  The driver hashes sorted result values, so:

- every computed column is ALIASED IDENTICALLY on both sides;
- float aggregates are rounded (ROUND(x, 2..4)) on both sides so summation
  order doesn't flip the last bits;
- outputs are primitive columns only (no arrays/maps/structs in results).

A query whose result no SQL can reproduce (an approximate sketch, an
iteratively trained index) registers with ``oracle=None`` and an
``invariant`` instead: a check over the same tables that can fail.
``oracle.check_query`` fails a query that has neither.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]
#: (DuckDB connection with the fixture views, result columns, result rows)
#: -> why the result is wrong, or None when it holds
Invariant = Callable[[Any, list[str], list[tuple]], str | None]


@dataclass(frozen=True)
class Query:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL, or None for rows-only check
    category: str  # SURVEY §2 category tag
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    invariant: Invariant | None = None  # the check when oracle is None


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    *,
    oracle: str | None,
    category: str,
    doc: str = "",
    tags: tuple[str, ...] = (),
    invariant: Invariant | None = None,
) -> Callable[[Builder], Builder]:
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(
            name, fn, oracle, category, doc or (fn.__doc__ or ""), tags, invariant
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    # import side-effect modules that populate the registry
    from flow_spark.queries import (  # noqa: F401
        relational,
        window_funcs,
        scalar_funcs,
        pipeline_semantics,
        streaming_windows,
        dedup,
        similarity,
        text_analysis,
        multimodal,
        asof_queries,
        udxf,
        tpch_suite,
        tpch_partsupp,
        scale_patterns,
        sketches,
        timeseries,
        chunking,
        graph,
        pysource,
        spatial,
        ml_train,
        stats_tests,
    )

    return dict(_REGISTRY)


def get(name: str) -> Query:
    return all_queries()[name]
