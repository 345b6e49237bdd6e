"""Cross-engine determinism helpers for oracle-backed queries.

Floating-point SUM is order-dependent; Spark and DuckDB aggregate in
different partition orders, so ``round(sum(double), 2)`` can land on
opposite sides of a rounding boundary at scale. The fix: accumulate
in DECIMAL (exact, order-independent) and cast the final value back
to DOUBLE — identical in both engines by construction.

Spark side: ``dsum`` / ``davg``. Oracle side: the matching SQL is
``CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent SUM of a double column (exact decimal acc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DecimalType(18, scale))).cast("double")


def dsum_r(col: Column | str, scale: int = 4, out: int = 2) -> Column:
    """``round(dsum(...), out)`` done ON THE EXACT DECIMAL, then cast
    to double. Rounding the double instead is engine-dependent at half
    boundaries: Spark's round() converts the double via its SHORTEST
    decimal rendering (so a sum whose nearest double prints as
    x.x75 rounds HALF_UP to .08) while DuckDB rounds the BINARY value
    (the same double is fractionally below .075 -> .07). Found at the
    sf1 probe on q9 (one group's exact decimal sum hit a half-cent);
    round-on-decimal is HALF_UP in both engines — deterministic."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DecimalType(18, scale))), out).cast("double")


def davg(col: Column | str, scale: int = 4) -> Column:
    """Order-independent AVG: exact decimal sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)


def osum(expr: str, scale: int = 4) -> str:
    """Oracle-side SQL fragment matching ``dsum``."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def osum_r(expr: str, scale: int = 4, out: int = 2) -> str:
    """Oracle-side SQL fragment matching ``dsum_r`` (round on the
    exact decimal, HALF_UP in both engines, then cast to double)."""
    return (
        f"CAST(round(sum(CAST({expr} AS DECIMAL(18,{scale}))), {out}) "
        "AS DOUBLE)"
    )


def oavg(expr: str, scale: int = 4) -> str:
    """Oracle-side SQL fragment matching ``davg``."""
    return f"({osum(expr, scale)} / count({expr}))"


# NOTE (round 6): the former `ordered_small` presentation-sort helper
# (repartition(1) + sortWithinPartitions) was removed along with every
# call site. Registry queries return results UNSORTED: both the
# driver's value hash and the local oracle compare are
# order-insensitive, so a final sort bought nothing — and a
# single-partition funnel on a table-proportional result is a
# straggler/OOM at scale. If a presentation surface ever needs a total
# order over a genuinely small result, sort it after materializing
# (e.g. in pandas), not in the distributed plan.


# ---------------------------------------------------------------------------
# Exact HALF_UP rounding of averages and ratios (round 8).
#
# round(double, n) is ENGINE-DEPENDENT at half boundaries: Spark rounds
# the double's SHORTEST DECIMAL RENDERING (Java BigDecimal.valueOf)
# HALF_UP, DuckDB rounds the binary value — the sf1 probe caught q9
# flipping a cent. For sums, dsum_r rounds the exact decimal. For
# averages/ratios the quotient itself is not decimal, so we compute
# round_half_away(num/den) in EXACT INTEGER arithmetic:
#
#     r = sign(num) * ((2*|num| + den) intdiv (2*den)),   den > 0
#
# then divide by 10^out in double (identical operands -> identical
# result bits in both engines). Spark lacks int128, so the integer
# work rides in DECIMAL(38,0); the intdiv is (t - t % b) / b, exact
# because decimal %, -, and division-of-an-exact-multiple are exact.


def _dec_units(sum_dec: Column, scale: int) -> Column:
    """Exact integer units (DECIMAL(38,0)) of a decimal-sum column."""
    return (sum_dec * F.lit(10 ** scale)).cast(DecimalType(38, 0))


def _round_away_div(n: Column, d: Column) -> Column:
    """round-half-away-from-zero(n / d) for integer DECIMAL(38,0)
    columns, d > 0 — exact, no doubles anywhere."""
    sign = F.when(n < 0, F.lit(-1)).otherwise(F.lit(1)).cast(DecimalType(38, 0))
    a = F.abs(n)
    t = a * F.lit(2) + d
    b2 = d * F.lit(2)
    q = ((t - t % b2) / b2).cast(DecimalType(38, 0))
    return sign * q


def davg_r(col: Column | str, scale: int = 4, out: int = 2) -> Column:
    """``round(avg(col), out)`` with engine-independent HALF_UP
    semantics (requires out <= scale)."""
    assert out <= scale, "accumulation scale must cover the output scale"
    c = F.col(col) if isinstance(col, str) else col
    n = _dec_units(F.sum(c.cast(DecimalType(18, scale))), scale)
    d = (F.count(c) * F.lit(10 ** (scale - out))).cast(DecimalType(38, 0))
    return _round_away_div(n, d).cast("double") / F.lit(float(10 ** out))


def oavg_r(expr: str, scale: int = 4, out: int = 2) -> str:
    """Oracle-side SQL matching ``davg_r``."""
    assert out <= scale
    n = f"CAST(sum(CAST({expr} AS DECIMAL(18,{scale}))) * {10 ** scale} AS HUGEINT)"
    d = f"(count({expr}) * {10 ** (scale - out)})"
    return (
        f"(CAST((CASE WHEN {n} < 0 THEN -1 ELSE 1 END) * "
        f"((2 * ABS({n}) + {d}) // (2 * {d})) AS DOUBLE) / {float(10 ** out)})"
    )


def dratio_r(
    num_sum: Column,
    den_sum: Column,
    num_scale: int,
    den_scale: int,
    out: int,
) -> Column:
    """``round(num_sum / den_sum, out)`` for two exact decimal sums
    (den > 0), engine-independent HALF_UP."""
    n = _dec_units(num_sum, num_scale) * F.lit(10 ** (den_scale + out))
    d = _dec_units(den_sum, den_scale) * F.lit(10 ** num_scale)
    return _round_away_div(
        n.cast(DecimalType(38, 0)), d.cast(DecimalType(38, 0))
    ).cast("double") / F.lit(float(10 ** out))


def oratio_r(
    num_sql: str, den_sql: str, num_scale: int, den_scale: int, out: int
) -> str:
    """Oracle-side SQL matching ``dratio_r`` — ``num_sql``/``den_sql``
    are decimal-sum expressions of the given scales."""
    n = f"CAST(({num_sql}) * {10 ** num_scale} * {10 ** (den_scale + out)} AS HUGEINT)"
    d = f"CAST(({den_sql}) * {10 ** den_scale} * {10 ** num_scale} AS HUGEINT)"
    return (
        f"(CAST((CASE WHEN {n} < 0 THEN -1 ELSE 1 END) * "
        f"((2 * ABS({n}) + {d}) // (2 * {d})) AS DOUBLE) / {float(10 ** out)})"
    )


def first_vectors(emb: DataFrame, k: int) -> list[tuple[int, list[float]]]:
    """The embeddings with ``vec_id < k`` as sorted ``(vec_id, vector)``
    pairs: the deterministic seed centroids (and query points) the IVF
    and k-means plans share with their oracles."""
    return sorted(
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < k).collect()
    )
