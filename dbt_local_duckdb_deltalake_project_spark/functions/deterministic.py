"""Deterministic (order-insensitive, engine-portable) float aggregation.

Problem: every fixture measure is a ``double``; float sums depend on
accumulation order, which differs between Spark partitions and DuckDB —
a naive SUM hash-mismatches the oracle run-to-run.

Solution: route every multi-row accumulation through EXACT integer
arithmetic, identically on both sides. All aggregated measures in the
fixtures are money-like — quantized to ≤6 decimal places (2-dp columns
and products of up to three 2-dp factors) — so each row becomes an
exact integer count of micros, and this module is the only code that
spells that encoding and its two relatives:

    micros(x)    = FLOOR(x * 10^6 + 0.5)  ≤6-dp measures   (:func:`micros`,
                                                           :func:`sql_micros`)
    cents(x)     = FLOOR(x * 10^2 + 0.5)  2-dp measures only (:func:`cents`,
                                                           :func:`sql_cents`)
    ln_micros(x) = micros(ROUND(ln(x), 9))                 (:func:`ln_micros`,
                                                           :func:`sql_ln_micros`)

Each ``sql_`` form is the one SQL text both engines run; the Spark
forms evaluate the same IEEE operations. Both scales share one body,
:func:`_scaled` / :func:`_sql_scaled`.

Why FLOOR and not ROUND: x·10^k lies within ~1e-4 of an integer for a
≤k-dp value, where FLOOR(·+0.5) and ROUND return the same integer. But
both engines evaluate FLOOR(x*10^k+0.5) as the same two IEEE operations
and a floor, so they agree by construction, and Spark's FLOOR of a
double is a primitive ``Math.floor``. Spark's ROUND on a double instead
builds a ``java.math.BigDecimal`` per row (HALF_UP on the shortest
decimal string, while DuckDB rounds the binary value): a JFR profile
of the analyst ops put a quarter of executor samples in BigDecimal
frames, and at an exact half it is the Final-ROUND tie hazard. The
two encodings differ only at a negative exact half (-k.5 → -k here,
-(k+1) under ROUND), which a ≤k-dp value never produces at scale 10^k.

Cents are for 2-dp measures (``value``, ``o_totalprice``, ``c_acctbal``,
the ``l_*`` money and quantity columns): x·100 of such a value is
within 10^-3 of its integer while |x| ≤ 10^10, the per-row bound
tests/test_money_encoding.py checks for both signs. A product of
2-dp factors is not 2-dp; it takes :func:`micros`.

Log-micros quantize a natural log, which no scale makes near-integer:
the inner 9-dp ROUND erases one-ulp libm differences between the
engines and stays a ROUND (a FLOOR at 9 dp is not bit-safe, because
ln(x)·10^9 is not near an integer); the outer micros step is then the
same IEEE floor in both engines. Exception: the three nano-scale logs,
``CAST(ROUND(ROUND(ln(x), 9) * 1000000000) AS BIGINT)`` in the oracles
of ``agg_psi_drift``, ``agg_survival_km`` and ``llm_weighted_sample``,
are spelled in place and get no public name.

Why each summed result is bit-identical:
- per-row double chains (x*y, 1-d, …) are IEEE-deterministic → the same
  double bits in both engines;
- integer SUM is exact and order-insensitive (DuckDB widens to HUGEINT;
  Spark errors loudly on long overflow under ANSI — see bound below);
- int→double and the final /10^6 are IEEE-rounded identically.

Bounds: per row, x·10^6 stays within ~0.1 of its integer while
|x| ≤ 10^8, for products of up to three 2-dp factors
(tests/test_money_encoding.py checks it in DuckDB and in the Spark
float chain). Per sum, exactness holds while |Σ x·10^6| < 2^63, i.e.
group sums below ~9.2e12 in measure units, with ~5 orders of magnitude
of headroom per group at this project's scales. A deployment beyond it
changes the body of :func:`dsum`/:func:`sql_dsum` (e.g. to a
DECIMAL(38,6) accumulator) and nothing else.

Accumulators that can pass 2^63 micros stay wide and do not use this
encoding:
- power sums of measures: Σx², Σy², Σxy in ``agg_stats`` and
  ``agg_corr_covar`` (``SUM(CAST(x * y AS DECIMAL(38,6)))``, the
  :data:`DEC` type), Σv²..Σv⁴ of cents in ``agg_higher_moments``;
- cross products and scaled numerators of exact integer sums
  (n·Σxy − Σx·Σy, num²·10^6) in the regression, correlation and ratio
  ops of ``aggregates``, ``graph_ops``, ``llm_ops`` and ``windows``:
  ``DECIMAL(38,0)`` in Spark, HUGEINT in DuckDB;
- ``llm_ops``' embedding dot products and norms: ``DEC12``,
  ``DECIMAL(38,12)``.

Deliberately NO final ROUND of a sum: the two engines round doubles
differently at representation boundaries, and an unrounded double that
is bit-identical on both sides always hashes identically. A final
per-group ``ROUND(v, k)`` of an output column is not this encoding.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,6)"
_S = 1_000_000  # 10^6 scale: exact for ≤6-dp-quantized measures
_C = 100  # 10^2 scale: exact for 2-dp measures


def _scaled(col: Column, scale: int) -> Column:
    """``col`` as the nearest integer count of 1/``scale`` units (BIGINT)."""
    return F.floor(col * float(scale) + 0.5)


def _sql_scaled(expr: str, scale: int) -> str:
    """SQL twin of :func:`_scaled`: the same text runs in Spark and DuckDB
    (DuckDB's FLOOR returns DOUBLE, hence the cast)."""
    return f"CAST(FLOOR(({expr}) * {scale} + 0.5) AS BIGINT)"


def micros(col: Column) -> Column:
    """A ≤6-dp double as exact integer micros (BIGINT)."""
    return _scaled(col, _S)


def sql_micros(expr: str) -> str:
    """SQL twin of :func:`micros`."""
    return _sql_scaled(expr, _S)


def cents(col: Column) -> Column:
    """A 2-dp double as exact integer cents (BIGINT)."""
    return _scaled(col, _C)


def sql_cents(expr: str) -> str:
    """SQL twin of :func:`cents`."""
    return _sql_scaled(expr, _C)


def ln_micros(col: Column) -> Column:
    """ln(``col``) rounded to 9 dp, as integer micros (BIGINT)."""
    return micros(F.round(F.log(col.cast("double")), 9))


def sql_ln_micros(expr: str) -> str:
    """SQL twin of :func:`ln_micros`."""
    return sql_micros(f"ROUND(ln({expr}), 9)")


def dsum(col: Column, alias: str) -> Column:
    """Order-insensitive SUM of a ≤6-dp-quantized double → double (exact)."""
    return (F.sum(micros(col)).cast("double") / F.lit(float(_S))).alias(alias)


def davg(col: Column, alias: str) -> Column:
    """Order-insensitive AVG: exact scaled-integer sum / count, as double.

    The division divides bit-identical operands on both engines → the
    quotient is bit-identical; no rounding.
    """
    return (
        F.sum(micros(col)).cast("double") / (F.lit(float(_S)) * F.count(col))
    ).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """SQL twin of :func:`dsum` (the same text runs in Spark and DuckDB)."""
    return f"CAST(SUM({sql_micros(expr)}) AS DOUBLE) / {_S} AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM({sql_micros(expr)}) AS DOUBLE)"
        f" / ({_S} * COUNT({expr})) AS {alias}"
    )
