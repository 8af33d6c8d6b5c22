"""Helpers shared by query builders.

Cross-engine FP determinism: ``SUM(double)`` accumulates in a
partition/merge order that differs between Spark and the DuckDB oracle, so
a rounded money sum can flip its last digit (seen live: 185899.545 ->
.54 vs .55).  The fixture money columns are exact 2-decimal values, so we
sum them as ``DECIMAL`` (exact, order-independent — also what TPC-H
specifies), round, and cast back to double.  At 100 TB this is the same
answer-stability argument: decimal aggregation is deterministic under any
re-partitioning, AQE re-plan, or speculative re-execution.

Decimal widths are chosen so every product stays well under precision 38
in BOTH engines (no silent precision-loss rounding): price (12,2),
rate (4,2), price*rate (17,4), price*rate*rate (22,6).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PRICE = "decimal(12,2)"  # extendedprice/totalprice/acctbal magnitudes
RATE = "decimal(4,2)"  # discount/tax in [0, 1)


def dec(col: Column | str, typ: str = PRICE) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def one_minus(col: Column | str) -> Column:
    """(1 - rate) as an exact RATE decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.lit(1) - c.cast("decimal(3,2)")).cast(RATE)


def money_avg(expr: Column, scale: int = 4) -> Column:
    """Deterministic mean: exact decimal sum cast to double, / count."""
    return F.round(F.sum(expr).cast("double") / F.count(F.lit(1)), scale)


def revenue_expr() -> Column:
    """lineitem revenue term, exact: extprice * (1 - discount)."""
    return dec("l_extendedprice") * one_minus("l_discount")


#: DuckDB-side fragments (keep in sync with the Spark expressions above)
SQL_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"
SQL_ONE_MINUS_DISC = "CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(4,2))"
SQL_ONE_PLUS_TAX = "CAST(1 + CAST(l_tax AS DECIMAL(3,2)) AS DECIMAL(4,2))"


# --------------------------------------------------------------------------
# Fixed-point (cents) fast path
#
# SUM over DecimalType costs ~2.3x SUM over LongType in the hash-agg hot
# loop (measured at sf0.1, 591k groups).  Money columns are exact
# 2-decimal values, so scaled-integer arithmetic is just as exact:
# per-row values become longs (cents / basis points), the aggregate runs
# on longs, and only the per-GROUP finalization touches decimal (sum ->
# decimal38 -> /10^scale -> round).  Same determinism argument as the
# decimal path — integer sums are order-independent.
#
# Overflow bound: long holds ±9.2e18.  Revenue in 1e-4 units is ≤1e9 per
# row, so a single group can hold ~9e9 rows before overflow — at larger
# fan-in, sum in two levels or fall back to an exact decimal SUM.
# (TPC-H SF100k's biggest per-group partial is far below this.)
# --------------------------------------------------------------------------


def cents(col: Column | str, scale: int = 2) -> Column:
    """Exact scaled-integer of a value with <= `scale` decimals.

    Pure-FP half-up: ``trunc(v*10^s + signum(v)*0.5)``.  Under the input
    contract (a double holding a value with <= `scale` decimals, |value|
    <= ~1e9), v*10^s lands within ~2^-52 * 1e9 ~ 2e-7 of the intended
    integer m, so adding +-0.5 stays strictly inside (m-1, m+1) with the
    same sign and the long cast truncates to exactly m — bit-identical to
    the previous ``F.round(c * 10^s, 0)`` (verified 0 mismatches over all
    money columns at sf0.1) while skipping round()'s per-row
    BigDecimal.valueOf/setScale allocation, which measured ~21% of the
    q1 partial-aggregate stage.  NOT valid for arbitrary doubles (values
    genuinely near an x.5 boundary) — those must keep F.round.
    """
    c = F.col(col) if isinstance(col, str) else col
    v = c * float(10**scale)
    return (v + F.signum(v) * F.lit(0.5)).cast("long")


def cents_sum_money(expr: Column, in_scale: int, out_scale: int = 2) -> Column:
    """SUM a scaled-long expr -> rounded double money value.

    Rounding happens in INTEGER space: (sum + unit/2) floor-div unit is
    exact half-up for the non-negative money sums here, identical in any
    engine.  Rounding the double quotient instead is a trap: exact-cents
    values hit .xx5 midpoints constantly, and Spark rounds the shortest
    decimal repr (HALF_UP on the string) while DuckDB rounds the binary
    value — seen live at sf0.1: 151706.895 -> .90 (Spark) vs .89 (DuckDB).
    The final int -> double conversion and one division are bit-identical.
    """
    total = F.sum(expr)
    unit = 10 ** (in_scale - out_scale)
    if unit > 1:
        t = total + F.lit(unit // 2)
        t = t - F.pmod(t, F.lit(unit))  # exact multiple of unit, long math
        # decimal division of an exact multiple is exact (no 2^53 limit)
        total = (t.cast("decimal(38,0)") / F.lit(unit)).cast("decimal(38,0)")
    return total.cast("double") / (10**out_scale)


def revenue_cents() -> Column:
    """lineitem revenue in 1e-4 units: cents(price) * (100 - pct(disc))."""
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


def charge_cents() -> Column:
    """lineitem charge in 1e-6 units: price * (1-disc) * (1+tax), exact.

    Per-row magnitude <= ~1.1e11 (price <= 1e5 dollars), so a LONG partial
    may hold ~8e7 rows before overflow — always true of a single scan
    partition (maxPartitionBytes caps it ~10x below that), NOT always true
    of a whole group at extreme SF.  Use inside the two-level pattern
    (partial long sum per partition, decimal(38,0) merge — see
    partial_cents_merge), never in a single-level SUM over an unbounded
    group.
    """
    return (
        cents("l_extendedprice")
        * (F.lit(100) - cents("l_discount"))
        * (F.lit(100) + cents("l_tax"))
    )


def partial_cents_merge(partial_col: Column | str, in_scale: int, out_scale: int = 2) -> Column:
    """Merge per-partition LONG partial sums exactly, at any scale.

    The hot loop (per-row accumulation) stays on longs; only this merge —
    a handful of rows per group — pays decimal cost.  decimal(38,0) holds
    the true total far beyond any real table size, which removes the
    single-level long path's documented per-group row bound.  Rounding is
    the same integer half-up as cents_sum_money, just in decimal space.
    """
    c = F.col(partial_col) if isinstance(partial_col, str) else partial_col
    total = F.sum(c.cast("decimal(38,0)"))
    unit = 10 ** (in_scale - out_scale)
    if unit > 1:
        t = total + F.lit(unit // 2)
        t = t - F.pmod(t, F.lit(unit))
        total = (t / F.lit(unit)).cast("decimal(38,0)")
    return total.cast("double") / (10**out_scale)


#: DuckDB equivalents (HUGEINT sum, then scale back)
SQL_PRICE_CENTS = "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
SQL_DISC_PCT = "CAST(ROUND(l_discount * 100, 0) AS BIGINT)"
SQL_TAX_PCT = "CAST(ROUND(l_tax * 100, 0) AS BIGINT)"
SQL_REVENUE_CENTS = f"({SQL_PRICE_CENTS} * (100 - {SQL_DISC_PCT}))"
SQL_CHARGE_CENTS = f"({SQL_PRICE_CENTS} * (100 - {SQL_DISC_PCT}) * (100 + {SQL_TAX_PCT}))"


def sql_cents_sum_money(expr: str, in_scale: int, out_scale: int = 2) -> str:
    unit = 10 ** (in_scale - out_scale)
    if unit == 1:
        return f"(CAST(SUM({expr}) AS DOUBLE) / {10**out_scale})"
    # integer half-up, mirroring cents_sum_money (// floors for positives)
    return (
        f"(CAST((SUM({expr}) + {unit // 2}) // {unit} AS DOUBLE) / {10**out_scale})"
    )
SQL_REVENUE = f"{SQL_PRICE} * {SQL_ONE_MINUS_DISC}"
