"""Shared expression helpers enforcing the DuckDB-parity policy.

Policy (SURVEY.md §4.3, verified): sums of doubles go through
DECIMAL(38,10) so partial/final aggregation order cannot perturb the
result (decimal addition is exact + associative → bit-identical to the
oracle); averages/moments stay double but are rounded to 4 decimals on
both sides (drift ≪ rounding resolution at fixture magnitudes).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "DECIMAL(38,10)"

# Fixed-point money policy: quantize to 4 decimal places, sum as BIGINT.
# Integer addition is exact and associative → bit-identical across Spark's
# partial/final aggregation and DuckDB's sequential fold, at ~4× the speed
# of Spark's BigDecimal-backed DECIMAL(38,10) sums (measured sf0.1: q1
# 1.29s decimal vs 0.30s double; fixed-point tracks the double path).
# Range: |sum| < 2^63/10^4 ≈ 9.2e14 money units. Beyond that (extreme
# 100 TB aggregates over unfiltered groups) use dec_sum — exact at any
# magnitude, slower. floor(x·10⁴ + 0.5) is pure IEEE double math,
# identical on both engines (no engine-specific rounding modes).
FX = 10000


def money_sum(expr: str, alias: str) -> Column:
    """Exact fixed-point (4 dp) sum of a money expression → double."""
    return F.expr(
        f"SUM(CAST(floor(({expr}) * {FX} + 0.5) AS BIGINT)) / CAST({FX} AS DOUBLE)"
    ).alias(alias)


def oracle_money_sum(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`money_sum` (identical semantics)."""
    return f"SUM(CAST(floor(({expr}) * {FX} + 0.5) AS BIGINT)) / CAST({FX} AS DOUBLE) AS {alias}"


def dec_sum(expr: str, alias: str) -> Column:
    """Exact (order-insensitive) decimal sum — the wide-range variant."""
    return F.expr(f"SUM(CAST(({expr}) AS {DEC}))").alias(alias)


def round4(expr: str, alias: str) -> Column:
    return F.expr(f"ROUND(({expr}), 4)").alias(alias)


def round4x(expr: str) -> Column:
    """Tie-free 4dp rounding for INTEGER-DERIVED ratios: floor(x·10⁴+0.5)
    is pure IEEE arithmetic, identical on both engines. ROUND(x,4) is NOT
    safe for such values — Spark rounds via the decimal expansion
    (BigDecimal HALF_UP) while DuckDB rounds in double arithmetic, and
    integer ratios structurally land on the boundary where they disagree
    (observed at sf0.1: fixed-point mean 49.19125). Continuous values
    (stddev, cosine, log) stay on plain ROUND — their probability of
    sitting within an ulp of a half-boundary is ~1e-12."""
    return F.expr(f"floor(({expr}) * {FX} + 0.5) / CAST({FX} AS DOUBLE)")


def oracle_round4x(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`round4x`."""
    return f"floor(({expr}) * {FX} + 0.5) / CAST({FX} AS DOUBLE) AS {alias}"


def round4x_col(c: Column) -> Column:
    """Column-level form of :func:`round4x` (same floor-half-up trick)
    for call sites holding a built Column rather than a SQL string —
    keeps the canonical rounding in ONE place so policy fixes reach
    every user."""
    return F.floor(c * FX + 0.5) / F.lit(float(FX))


#: 6dp fixed-point scale for surfaced similarity scores (cosines).
FX6 = 1000000


def round6x_col(c: Column) -> Column:
    """6dp analog of :func:`round4x_col` for surfaced cosines: ROUND(x,6)
    diverges across engines at binary-exact halves (Spark BigDecimal
    HALF_UP vs DuckDB double rounding) and a tiny negative cosine keeps
    -0.0 under DuckDB ROUND where Spark gives +0.0 — the floor-half-up
    spelling is pure IEEE arithmetic and normalizes -0.0 on both sides."""
    return F.floor(c * FX6 + 0.5) / F.lit(float(FX6))


def oracle_round6x(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`round6x_col`."""
    return f"floor(({expr}) * {FX6} + 0.5) / CAST({FX6} AS DOUBLE) AS {alias}"
