"""Cross-engine-exact rounded means.

round(avg(x), 4) on doubles is a parity landmine: when the true mean
lands exactly on a half at 4 decimals (mean of 2-dp money over an even
count does this routinely), Spark rounds the shortest-string rendering
of the double (HALF_UP on "…93875" -> up) while DuckDB rounds the exact
binary value (…938749999… -> down), and the driver's value-hash flips.
The local harness's float tolerance hides it on large values (rel_tol
1e-9 on 3.7e5 admits a 1e-4 absolute gap), so these helpers remove the
hazard instead: compute round-half-up(mean / divisor, 4) entirely in
integer arithmetic that both engines execute identically:

    x * 10^4 = S * 10^4 / (U * C * D)          S = sum in integer units,
                                               U = units per 1.0,
                                               C = count, D = divisor
    rounded  = floor((2 * S * 10^4 + U*C*D) / (2 * U*C*D)) / 10^4

The numerator/denominator stay in int64 (well under 2^53 at test scale
factors, so the final IEEE double division and floor are exact), and
identical inputs + identical IEEE ops => bit-identical results in Spark
and DuckDB regardless of summation order, with no double ever rounded.
Ties round toward +inf on both sides (equivalent to HALF_UP for the
positive money/quantity columns these are used on).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents_long(col: str, typ: str = "decimal(12,2)") -> Column:
    """Exact integer cents of a 2-dp money column stored as double."""
    return (F.col(col).cast(typ) * 100).cast("long")


def mean_money_round4(
    col: str, divisor: int = 1, typ: str = "decimal(12,2)"
) -> Column:
    """round-half-up(avg(col) / divisor, 4) for a 2-dp money column.

    With S in cents (U=100) the formula reduces to
    floor((S*200 + C*D) / (2*C*D)) / 10^4.
    """
    s = F.sum(cents_long(col, typ))
    c = F.count(F.lit(1))
    return F.floor((s * 200 + c * divisor) / (c * (2 * divisor))) / F.lit(
        10000.0
    )


def mean_int_round4(col: str, divisor: int = 1) -> Column:
    """round-half-up(avg(col) / divisor, 4) for an integer-valued column
    (e.g. l_quantity): U=1, so floor((S*20000 + C*D) / (2*C*D)) / 10^4."""
    s = F.sum(F.col(col).cast("long"))
    c = F.count(F.lit(1))
    return F.floor((s * 20000 + c * divisor) / (c * (2 * divisor))) / F.lit(
        10000.0
    )

