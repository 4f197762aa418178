"""Deterministic numeric aggregation helpers.

Floating-point SUM/AVG are order-dependent; Spark sums partitions in a
nondeterministic order while a single-node engine (the DuckDB oracle)
sums sequentially, so ``sum(double)`` can differ in the last ulp between
engines AND between runs. That breaks value-hash comparison and, at
100 TB, reproducibility of pipeline outputs.

The engine's pattern: route every money/measure sum through an exact
DECIMAL, then present as double. ``cast(double AS decimal(p,s))`` is
deterministic (round-to-nearest of the same IEEE value in both engines),
decimal addition is exact and associative → order-independent, and the
final ``cast(decimal AS double)`` is again deterministic. The same trick
makes AVG deterministic: exact decimal sum / count.

DuckDB-equivalent SQL for ``dsum(c, 18, 4)``:
``CAST(SUM(CAST(c AS DECIMAL(18,4))) AS DOUBLE)``.

``round_half_up`` / ``round_half_up_np`` are the Python twins of
``F.round(x, dp)`` for the in-task numpy paths that must reproduce the
engine's rounding bit for bit.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column, precision: int = 18, scale: int = 4) -> Column:
    """Order-independent SUM of a double expression, presented as double.

    ``scale`` must cover the true decimal scale of the expression (e.g.
    price(2dp) * (1 - discount(2dp)) is exact at 4dp) so the decimal
    round-trip is lossless.
    """
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


def present_doubles(df):
    """Present every DECIMAL column as DOUBLE at a contract boundary.

    Internal plans keep decimals (exact, order-independent sums); the
    driver's hash compares pandas string forms, where a Spark decimal
    arrives as ``Decimal('96262.50')`` but DuckDB's pandas path yields
    float64 ``96262.5`` — value-identical, string-different. Casting to
    double on BOTH sides (oracle: ``CAST(... AS DOUBLE)``) pins one
    representation. ``cast(decimal AS double)`` is deterministic, so
    this never reorders or perturbs the compared values.
    """
    from pyspark.sql.types import DecimalType

    return df.select(
        *[
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, DecimalType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def davg(col: Column, precision: int = 18, scale: int = 4) -> Column:
    """Order-independent AVG: exact decimal sum / non-null count.

    ``try_divide``: an all-NULL group has count 0 — built-in avg()
    returns NULL there, a bare ``/`` raises DIVIDE_BY_ZERO under the
    ambient ANSI mode (r7 sweep); try_divide returns NULL in both ANSI
    modes, which is also what the DuckDB oracle's x/0 yields."""
    return F.try_divide(
        F.sum(col.cast(f"decimal({precision},{scale})")).cast("double"),
        F.count(col),
    )


def round_half_up(x: float, dp: int) -> float:
    """Spark ``F.round(x, dp)`` on one double: HALF_UP (ties away from
    zero) on the SHORTEST decimal repr of ``x`` — Python's built-in
    round() is banker's and would diverge.

    ``Decimal(repr(x))``, NOT ``Decimal(x)``: at fractional scales
    Spark's Round is ``BigDecimal.valueOf(x)`` (= ``Double.toString``,
    the shortest round-trip repr), and Python ``repr`` produces the
    same digits. Witness: x = 0.1234567895 has exact binary
    0.12345678949999…, so exact-binary HALF_UP gives 0.123456789 where
    Spark gives 0.123456790. DuckDB agreed on half-boundary witnesses
    probed at unit scale only; it does not agree everywhere —
    DuckDB ``round(67479.6965756145, 9)`` is 67479.696575614 where
    Spark (and this twin) give 67479.696575615. (The scale-0 integer
    kernels are immune: k + 0.5 is exactly representable below 2⁵²,
    so the binary and shortest-repr half-lines coincide there.)"""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP)
    )


def round_half_up_np(v, dp: int):
    """Vectorized ``round_half_up`` over a float64 array of any shape.

    The fast path scales |v| by 10^dp and splits on the fractional
    part. It is taken only where |v|·10^dp < 2⁴¹ and the fraction lies
    outside the band |frac − 0.5| < 10⁻³: below 2⁴¹ the ×10^dp
    scaling error and the repr-vs-binary gap are each < 2⁻¹², so
    outside the band the half decision is the one the shortest repr
    makes, and k / 10^dp is the correctly rounded double of the
    quantized decimal. NaN, ±inf, large values and the band (~0.2% of
    uniform inputs) go through the scalar form. Sign is handled by
    symmetry: HALF_UP rounds ties away from zero and repr is
    sign-symmetric. Pinned against the scalar form and Spark
    ``F.round`` by test_round_half_up_vectorized_matches_scalar."""
    import numpy as np

    v = np.asarray(v, dtype=np.float64)
    flat = v.ravel()
    scale = float(10**dp)
    scaled = np.abs(flat) * scale
    f = np.floor(scaled)
    frac = scaled - f
    slow = ~(scaled < 2.0**41) | (np.abs(frac - 0.5) < 1e-3)
    out = np.copysign((f + (frac >= 0.5)) / scale, flat)
    for i in np.nonzero(slow)[0]:
        out[i] = round_half_up(float(flat[i]), dp)
    return out.reshape(v.shape)
