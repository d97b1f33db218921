"""Cross-engine-stable rounding.

Spark's ``round(double, d)`` converts through java BigDecimal (exact
binary expansion, HALF_UP); DuckDB rounds through double arithmetic.
At half-boundaries (x.xx5) they disagree — observed on real sums at
sf0.01. Both engines evaluate ``floor(x * 10^d + 0.5) / 10^d``
bit-identically for the same input double, so every query that emits
rounded doubles uses this formula on BOTH sides of the oracle check.

(Residual risk: aggregation order makes Spark and DuckDB sums differ
by ~1 ulp; a group whose sum sits within that of a rounding boundary
could still flip. Probability per group is ~1e-5; acceptable.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_round(col: Column | str, digits: int = 2) -> Column:
    """floor(x*10^d + 0.5)/10^d — matches ``sql_round`` bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    scale = F.lit(float(10**digits))
    return F.floor(c * scale + F.lit(0.5)) / scale


def sql_round(expr: str, digits: int = 2) -> str:
    """DuckDB twin of :func:`stable_round`."""
    scale = float(10**digits)
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def quantized_sum(col: Column | str, q: int = 4) -> Column:
    """Order-independent cross-engine SUM over doubles.

    Double addition is not associative: Spark (partitioned) and DuckDB
    sum in different orders, so raw double sums differ by ~1 ulp and
    rounding can snap to adjacent cents (observed: 3/498 groups at
    sf0.01). Fix: quantize each addend to an integer number of
    10^-q units — bit-identical per row in both engines — then sum
    exactly in integer domain and divide back. Exact while
    |sum| * 10^q < 2^53 (at q=4: totals up to ~9e11, fine at sf1000).

    Semantics: sum of per-row-rounded values (documented divergence
    from raw double sum; the oracle mirrors it exactly).

    The SUM itself runs in decimal(38,0) (HUGEINT on the DuckDB
    side): the addends are integral, but a 100 TB group's sum can
    pass Long.MaxValue, where Spark's long sum wraps SILENTLY while
    DuckDB's sum promotes — the cross-engine divergence class both
    round-5 advisor findings flagged. decimal(38,0) matches HUGEINT
    at any magnitude; the result converts to double exactly below
    2^53 (tested-scale hashes bit-identical) and correctly rounded
    above, so both engines keep producing the same double.
    """
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**q)
    return dec_qsum(c, scale).cast("double") / F.lit(scale)


def dec_qsum(c: Column, scale: float) -> Column:
    """Σ floor(c*scale + 0.5) with the sum carried in decimal(38,0)
    — the overflow-safe integral-sum primitive behind
    :func:`quantized_sum` and every ad-hoc quantized mean (k-means /
    PQ centroid updates, linalg power sums, retrieval NLL totals)."""
    return F.sum(
        F.floor(c * F.lit(scale) + F.lit(0.5)).cast("decimal(38,0)")
    )


def sql_quantized_sum(expr: str, q: int = 4) -> str:
    """DuckDB twin of :func:`quantized_sum` (BIGINT addends promote
    to a HUGEINT sum — the decimal(38,0) mirror)."""
    scale = float(10**q)
    return (
        f"(sum(CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT))"
        f" / {scale})"
    )


def quantized_avg(col: Column | str, q: int = 4) -> Column:
    """Order-independent AVG: exact quantized sum / exact count."""
    c = F.col(col) if isinstance(col, str) else col
    return quantized_sum(c, q) / F.count(F.lit(1))
