"""Vector math over ``array<float>`` embedding columns (SURVEY.md §2.11 X3).

Two precision modes:

- ``dot_sql``/``cosine_sql`` — plain double math via ``zip_with`` +
  ``aggregate``: fastest, what production similarity search uses.
- exact — elements are first rounded to decimal(12,6) (float → double →
  decimal, the only cast chain that is bit-identical across engines), then
  the dot product is an *exact* sum, order-independent and therefore
  hash-stable against the DuckDB oracle.  Used by the declared correctness
  queries.  ``dot_exact``/``cosine_exact`` are the decimal reference; the
  operators use the bit-identical, faster ``units_arr_sql``/``dot_units_sql``.

The ``*_sql`` renderers return SQL text for ONE ``F.expr`` parse.  All of
these are built-in higher-order functions — JVM-side, no Python UDF, no
data movement to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(12,6)"
ACC = "decimal(38,12)"

# Micro-units of the decimal(12,6) quantization: every element value is an
# exact integer multiple of 1e-6 after _el(), so it carries losslessly as
# ``value * 10^6`` in a BIGINT — the fixedpoint.py money discipline applied
# to vectors (round 11; see the renderer block below for the
# equivalence argument).
UNIT_SCALE = 10**6


def _el(c: Column) -> Column:
    # float → double → decimal: deterministic, engine-portable rounding
    return c.cast("double").cast(DEC)


def dot_exact(a: Column, b: Column) -> Column:
    """Exact decimal dot product (order-independent, oracle-stable)."""
    # The explicit cast inside the merge lambda keeps the accumulator type
    # fixed at decimal(38,12) under either decimal-promotion mode; the cast
    # is exact because catalog.ensure_session_confs pins
    # allowPrecisionLoss=false so the add never drops below scale 12.
    prods = F.zip_with(a, b, lambda x, y: _el(x) * _el(y))
    return F.aggregate(
        prods, F.lit(0).cast(ACC), lambda acc, v: (acc + v).cast(ACC)
    )


def norm2_exact(a: Column) -> Column:
    """Exact decimal sum of squares."""
    return dot_exact(a, a)


def cosine_exact(a: Column, b: Column) -> Column:
    """Cosine from exact decimal dots, finished in double (deterministic:
    the decimal → double conversions and the final double ops are IEEE-fixed
    given identical inputs).  A zero vector has no direction: cosine is
    NULL, not a divide-by-zero (hard error under Spark 4 default ANSI) or
    NaN — NULL sorts last under the desc top-k orderings downstream."""
    den = F.sqrt(norm2_exact(a).cast("double") * norm2_exact(b).cast("double"))
    return F.when(den > 0, dot_exact(a, b).cast("double") / den)


# ---------------------------------------------------------------------------
# SQL-string renderers: the definitions of the vector expressions the
# operators build.  Each returns ONE parseable SQL fragment, so an operator
# that knows its input column names builds a whole vector expression with a
# single F.expr py4j round-trip instead of hundreds of Column-API calls
# (measured: declared-query DataFrame *construction* was 0.4–2.3 s per
# bench rep at ~0.85 ms per py4j round-trip — 30–60 % of several
# sub-second benched rows).  ``a``/``b`` are SQL fragments (a quoted column
# name from functions.ident_sql, or a nested renderer call), NOT Column
# objects.
#
# Integer-units formulation of the exact path.  dot_exact() above is the
# decimal REFERENCE: per pair it multiplies decimal(12,6) elements
# (BigDecimal allocation each) and folds a decimal(38,12) accumulator
# through an interpreted higher-order aggregate — measured as the dominant
# cost of every exact-decimal pair stage (x17's in-cluster join, x3's scan,
# x4's verify).  The units renderers compute the SAME rational number in
# plain BIGINT arithmetic and convert ONCE at the end:
#
#   units(x)   = _el(x) * 10^6            (exact: _el(x) is a 6-dp decimal)
#   dot units  = Σ units(a_i)·units(b_i)  (exact integer, scale 10^12)
#   result     = decimal(25,0)(Σ) × 0.000000000001::decimal(12,12)
#              → decimal(38,12), the IDENTICAL type AND value dot_exact's
#                accumulator holds, so every downstream cast("double") /
#                comparison / ROUND is bit-for-bit unchanged.
#
# Equivalence: integer addition is associative and exact, so the long sum
# equals the decimal sum's unscaled value by construction; NULL semantics
# match (NULL element → NULL product → NULL sum, zip_with length padding →
# NULL, empty array → 0).  Measured at sf0.1 (250k in-cluster pairs, dim
# 64): 7.6 s → 2.5 s on the declared x17 query, outputs identical;
# tests/test_vector_units.py pins the equivalence on adversarial inputs.
#
# Overflow bound (the loud-failure contract): |units| < 10^6·|x|, so a
# dim-64 dot stays under the BIGINT ceiling while |x| ≤ ~379; unit-norm
# embeddings (every corpus here) sit 2-6 orders below.  Overflow raises
# under ANSI mode (session default) instead of corrupting — callers with
# unbounded magnitudes should keep dot_exact.
# ---------------------------------------------------------------------------


def el_sql(x: str) -> str:
    """_el() as SQL: float → double → decimal(12,6)."""
    return f"CAST(CAST({x} AS DOUBLE) AS {DEC})"


def units_el_sql(x: str) -> str:
    """One element → exact micro-units (BIGINT) of its _el() quantization."""
    return f"CAST({el_sql(x)} * {UNIT_SCALE} AS BIGINT)"


def units_arr_sql(col: str) -> str:
    """array<float/double> → array<long> of exact micro-units (one decimal
    cast per element per ROW — hoist this to a column so O(pairs) dots
    reuse it; the transform is interpreted but linear)."""
    return f"transform({col}, _ux -> {units_el_sql('_ux')})"


def units_lit_sql(values) -> str:
    """Foldable literal unit array for a Python float vector (frozen
    centroids / planes).  Each element rides the exact chain units_el_sql
    applies to data ('repr' string → double parse is exact), so literal and
    data-side quantization cannot drift."""
    els = ",".join(
        units_el_sql(f"CAST('{float(x)!r}' AS DOUBLE)") for x in values
    )
    return f"array({els})"


def lit_vec_sql(values) -> str:
    """Foldable literal array<double> (CAST from the repr string is exact,
    and the cast constant-folds to the same double as ``F.lit(float(x))``)."""
    els = ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in values)
    return f"array({els})"


def dot_units_sql(ua: str, ub: str) -> str:
    """Exact decimal dot product from two unit arrays: BIGINT fold + ONE
    terminal decimal(38,12) conversion (fixedpoint.decimal_of_units(s, 12)
    inlined: CAST to decimal(25,0) times the 1e-12 decimal(12,12) literal —
    no division).  Bit-identical to ``dot_exact`` on the vectors the unit
    arrays came from."""
    s = (
        f"aggregate(zip_with({ua}, {ub}, (_dx, _dy) -> _dx * _dy), "
        f"CAST(0 AS BIGINT), (_da, _dv) -> _da + _dv)"
    )
    return f"(CAST({s} AS DECIMAL(25,0)) * CAST('0.000000000001' AS DECIMAL(12,12)))"


def norm2_units_sql(ua: str) -> str:
    """Exact decimal sum of squares from a unit array (see dot_units_sql)."""
    return dot_units_sql(ua, ua)


def dot_sql(a: str, b: str) -> str:
    """Double-precision dot product (production fast path)."""
    return (
        f"aggregate(zip_with({a}, {b}, (_dx, _dy) -> "
        f"CAST(_dx AS DOUBLE) * CAST(_dy AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (_da, _dv) -> _da + _dv)"
    )


def norm_sql(a: str) -> str:
    """Double-precision Euclidean norm."""
    return f"SQRT({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    """Double-precision cosine: NULL (not error/NaN) for zero vectors — see
    cosine_exact."""
    den = f"({norm_sql(a)} * {norm_sql(b)})"
    return f"CASE WHEN {den} > 0 THEN ({dot_sql(a, b)} / {den}) END"
