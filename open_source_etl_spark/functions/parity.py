"""Cross-engine numeric parity helpers.

The driver compares Spark results to DuckDB with an order-insensitive
value hash (``/root/repo/__spark_entry__.py:1-39``).  Floating-point sums
are order-dependent, and Spark/DuckDB will generally sum partitions in
different orders, so ``SUM(double)`` is NOT reproducible bit-for-bit.

The fix: sum in fixed-point.  ``CAST(x AS DECIMAL(18,4))`` is a
deterministic per-value rounding; decimal addition is exact and
associative, so the total is order-independent; casting the exact total
back to double is deterministic.  Both engines implement the same IEEE
semantics for the final cast, so results hash-match.  Averages divide two
exactly-agreed numbers (decimal-sum cast to double, and a count), then
round — again deterministic on both sides.

These helpers exist so every aggregate query states its parity contract
in one place; the oracle SQL twin uses the textually equivalent
``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`` pattern.

Rounding rule (learned the hard way): Spark's ``round(double, n)`` goes
through the double's *shortest decimal representation* and HALF_UPs it;
DuckDB rounds the *true binary value*.  They disagree exactly when the
data has mass on ``.…5`` at scale n.  So only round at a scale ≥ the
exact decimal content of the value (price(2dp) × discount(2dp) → round
at ≥4 is a no-op and safe; rounding it at 2 is a parity bug), and never
round an exact-decimal-interior sum below its natural scale.  Rounding
genuinely irrational values (sqrt, division results) at any scale is
fine — no halfway mass.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,4)"
DEC_WIDE = "decimal(28,6)"


def dsum(col: Column | str, scale_type: str = DEC) -> Column:
    """Order-independent sum of a double column (exact decimal interior)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale_type)).cast("double")


def davg(col: Column | str, scale_type: str = DEC) -> Column:
    """Order-independent mean: exact decimal sum / count, both doubles."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale_type)).cast("double") / F.count(c)


def sql_dsum(expr: str, scale_type: str = "DECIMAL(18,4)") -> str:
    """DuckDB-side twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS {scale_type})) AS DOUBLE)"


def sql_davg(expr: str, scale_type: str = "DECIMAL(18,4)") -> str:
    """DuckDB-side twin of :func:`davg`."""
    return f"CAST(SUM(CAST({expr} AS {scale_type})) AS DOUBLE) / COUNT({expr})"
