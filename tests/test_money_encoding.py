"""The exact-money encodings of functions/deterministic.py, JVM-free.

``sql_micros`` / ``sql_cents`` (run by DuckDB here) and float mirrors
of ``micros``' and ``cents``' Spark expressions must return the exact
micros (cents) of every ≤6-dp (2-dp) money value within the documented
per-row bound, and no operator module may spell an encoding itself.
"""

from __future__ import annotations

import math
import re
from decimal import Decimal
from pathlib import Path

import duckdb
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from dbt_local_duckdb_deltalake_project_spark.functions.deterministic import (
    sql_cents,
    sql_micros,
)

_OPS = Path(__file__).resolve().parents[1] / (
    "dbt_local_duckdb_deltalake_project_spark/operators"
)

# one to three 2-dp factors of either sign, in cents, each bounded so
# the product stays within the per-row bound |x| <= 10^8 that
# deterministic.py documents
_CENTS = {1: 10**10, 2: 10**6, 3: 46_415}
_FACTORS = st.integers(min_value=1, max_value=3).flatmap(
    lambda k: st.lists(
        st.integers(min_value=-_CENTS[k], max_value=_CENTS[k]),
        min_size=k,
        max_size=k,
    )
).map(lambda cs: [Decimal(c).scaleb(-2) for c in cs])

_CON = duckdb.connect()
_SQL = f"SELECT {sql_micros('a * b * c')} FROM (SELECT ?::DOUBLE a, ?::DOUBLE b, ?::DOUBLE c)"


@settings(max_examples=400, deadline=None, derandomize=True)
@given(_FACTORS)
def test_micros_are_exact_in_duckdb_and_the_spark_float_chain(factors):
    exact = math.prod(factors, start=Decimal(1))
    assume(abs(exact) <= 10**8)
    want = int(exact.scaleb(6))
    a, b, c = [float(f) for f in factors] + [1.0] * (3 - len(factors))
    # Spark: floor(a * b * c * 1e6 + 0.5), IEEE double left to right
    assert math.floor(a * b * c * 1e6 + 0.5) == want
    assert _CON.execute(_SQL, [a, b, c]).fetchone()[0] == want


# one 2-dp value of either sign, in cents, within the per-row bound
# |x| <= 10^10 that deterministic.py documents for cents
_CENTS_SQL = f"SELECT {sql_cents('x')} FROM (SELECT ?::DOUBLE x)"


@settings(max_examples=400, deadline=None, derandomize=True)
@given(st.integers(min_value=-10**12, max_value=10**12))
def test_cents_are_exact_in_duckdb_and_the_spark_float_chain(c):
    x = float(Decimal(c).scaleb(-2))
    # Spark: floor(x * 100.0 + 0.5)
    assert math.floor(x * 100.0 + 0.5) == c
    assert _CON.execute(_CENTS_SQL, [x]).fetchone()[0] == c


def _calls(text: str, opener: str):
    """(start offset, argument text) of each ``opener(`` call."""
    for m in re.finditer(opener + r"\(", text):
        depth, i = 0, m.end() - 1
        for j in range(i, len(text)):
            depth += {"(": 1, ")": -1}.get(text[j], 0)
            if depth == 0:
                yield m.start(), text[i + 1:j]
                break


def test_no_operator_spells_the_money_encoding():
    forms = []
    for path in sorted(_OPS.glob("*.py")):
        text = path.read_text()
        line = lambda pos: f"{path.name}:{text.count(chr(10), 0, pos) + 1}"  # noqa: E731
        # ROUND(x * 100 | 1000000) in SQL, F.round(x * 100 | 1e6) in Spark
        for pos, arg in _calls(text, r"(?i)\bround"):
            if re.search(r"\*\s*(100|1000000|1_000_000|1e6)(\.0)?\s*$", arg):
                forms.append(line(pos))
        # micros of a hand-rounded log, in Spark and in SQL
        for pos, arg in _calls(text, r"\bmicros"):
            if re.match(r"\s*F\.round\(\s*F\.log\(", arg):
                forms.append(line(pos))
        for pos, arg in _calls(text, r"\bsql_micros"):
            if re.match(r"""(?i)\s*f?["']\s*ROUND\(\s*ln\(""", arg):
                forms.append(line(pos))
        # the TPC-H DECIMAL(18,6) micros constants
        forms += [line(m.start()) for m in re.finditer(r"(?i)decimal\(18,\s*6\)", text)]
        # a plain money sum through a per-row decimal cast
        for plain in (
            r"(?i)SUM\(\s*CAST\(\s*[\w.]+\s+AS\s+DECIMAL\(38,\s*6\)\s*\)\s*\)",
            r'F\.sum\(\s*(F\.col\([^()]*\)|\w+)\.cast\((DEC|"decimal\(38,\s*6\)")\)\s*\)',
        ):
            forms += [line(m.start()) for m in re.finditer(plain, text)]
    assert forms == [], f"spelled outside functions/deterministic.py: {forms}"
