"""Cross-engine deterministic numeric aggregation.

Floating-point ``SUM(double)`` is order-dependent: Spark's partial/final
hash aggregation adds in partition order while a single-node engine adds
in scan order, so the last few bits of a plain double sum differ between
engines (and between runs, once AQE re-plans). That breaks differential
testing against the DuckDB oracle *and* breaks run-to-run reproducibility
at 100 TB where partition counts change with AQE.

Fix: aggregate money-like doubles through ``DECIMAL``. The test-data money
columns carry <= 2 fractional digits, so ``CAST(x AS DECIMAL(18,4))`` is
lossless; decimal addition is exact and associative, hence
order-independent; the final cast back to double is a single well-defined
conversion both engines perform identically. Decimal aggregation is still
JVM-side whole-stage-codegen work — no UDF, no Python.

The oracle-side twin of ``dsum(c)`` is
``CAST(SUM(CAST(c AS DECIMAL(18,4))) AS DOUBLE)``.

For *computed* doubles of full precision (norms, cosines) no lossless
decimal exists; there we round to a fixed number of digits first
(``roundsum``) which both engines do identically up to a ~1e-15 boundary
window — see llm/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,4)"


def dmoney(col: Column | str) -> Column:
    """Lossless decimal view of a money-like double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent SUM over a money-like double column.

    Exact decimal addition, surfaced as double so the result schema matches
    the oracle's ``CAST(SUM(CAST(..)) AS DOUBLE)``.
    """
    out = F.sum(dmoney(col)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided as double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(dmoney(c)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def roundsum(col: Column | str, digits: int, alias: str | None = None) -> Column:
    """Order-independent SUM of a computed double: round -> exact decimal sum.

    ``round(x, digits)`` yields the double nearest a ``digits``-decimal
    value; casting that to DECIMAL recovers the decimal exactly, making the
    subsequent sum order-independent. Use for derived metrics (norms,
    scores) that have no natural lossless decimal representation.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(F.round(c, digits).cast("decimal(28,8)")).cast("double")
    return out.alias(alias) if alias else out
