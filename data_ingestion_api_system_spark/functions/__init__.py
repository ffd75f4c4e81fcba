"""Shared column-expression helpers.

Oracle-parity design: the driver compares Spark results against DuckDB by
order-insensitive value hash, so floating-point aggregates must be
*bit-identical* across engines. Double summation is order-dependent (Spark
sums per-partition then merges; DuckDB sums in scan order), so any double
SUM over enough rows can differ in the last ulps. The fix used throughout
this engine: cast the (deterministic, IEEE-identical) double expression to
DECIMAL before aggregating — decimal addition is exact and associative, so
every partitioning/ordering yields the same result — then round and cast
back to DOUBLE. The DuckDB oracle does the exact same cast dance, and both
engines produce identical doubles.

Means of exact sums follow one rule on both engines
(:func:`exact_avg_halfup` / :func:`sql_exact_avg_halfup`): the mean of N
values whose DECIMAL sum S has ``scale`` fractional digits (0–8), rounded
half away from zero to ``d`` digits, is

    sign(S) · ((2·|S·10^m| + N·10^(m−d)) div (2·N·10^(m−d))) / 10^d,
    m = max(scale, d)

— integer arithmetic throughout, so no double is ever rounded and a mean
exactly on a …5 boundary rounds the same way on both engines. The integer
type is DECIMAL(38,0) with ``div`` in Spark and HUGEINT with ``//`` in
DuckDB (whose ``//`` on DECIMAL operands divides exactly instead). The
abs() is load-bearing: Spark's ``div`` truncates toward zero while
DuckDB's ``//`` floors, and on nonnegative operands the two agree.

Vector cosines follow one rule on both engines (:func:`vec_norm`,
:func:`cosine` / :func:`sql_norm`, :func:`sql_dot`): dot products and
norms are sequential left-to-right folds over the same element order
(``aggregate`` over ``zip_with``/``transform`` in Spark,
``list_sum(list_transform(range(...)))`` in DuckDB), so the unrounded
cosine is bit-identical across engines and each site rounds it its own
way. Each vector's norm is computed once, in the projection that owns the
vector (or the centroid struct that carries it), and pair projections
only fold the dot product.

This also matters at scale: decimal aggregation is still JVM-side,
codegen-friendly, and map-side-combinable; it costs a few cycles per row
but keeps results stable under AQE re-partitioning — a real reproducibility
property for a 100 TB pipeline, not just a test trick.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def round_half(c: Column | str, k: int) -> Column:
    """A DOUBLE rounded to ``k`` decimals by DuckDB's ``round(x, k)`` rule:
    scale by 10^k, round the product half away from zero, divide back.

    Spark's ``round(x, k)`` on a double rounds the double's shortest
    decimal string half-up instead, so where that string ends in 5 but the
    double sits just below the half (e.g. 1.0121375 from 297·14722 /
    (2000·2160)) the two engines differ in the last digit. Rounding to 0
    decimals agrees on both engines, so the product form matches DuckDB.
    """
    return F.round(_col(c) * 10.0**k) / 10.0**k


def exact_sum(col: Column | str) -> Column:
    """Order-independent SUM of a double expression → DOUBLE.

    Spark:  round(sum(cast(x as decimal(25,4))), 2)::double
    DuckDB: CAST(ROUND(SUM(CAST(x AS DECIMAL(25,4))), 2) AS DOUBLE)
    """
    return F.round(F.sum(_col(col).cast("decimal(25,4)")), 2).cast("double")


def _halfup_mean(s: str, n: str, scale: int, digits: int, div: str, int_t: str) -> str:
    """The one rounded-mean rule, as SQL text for either engine (see the
    module docstring): ``s`` is an exact DECIMAL sum with ``scale``
    fractional digits, ``n`` its count, ``div``/``int_t`` the engine's
    integer division and integer type."""
    if not 0 <= scale <= 8:
        # the range the boundary tests pin on both engines; past it the
        # ×10^m product meets Spark's decimal precision-loss rule unchecked
        raise ValueError(f"exact mean requires 0 <= scale <= 8, got {scale}")
    m = max(scale, digits)
    a = f"CAST(abs({s}) * {10**m} AS {int_t})"
    nn = f"CAST({n} * {10 ** (m - digits)} AS {int_t})"
    return (
        f"(sign({s}) * CAST((2 * {a} + {nn}) {div} (2 * {nn}) AS DOUBLE)"
        f" / {10**digits}.0)"
    )


def exact_avg_halfup(col_name: str, scale: int = 4, digits: int = 6) -> Column:
    """Order-independent AVG of ``col_name`` (SQL text) cast to
    DECIMAL(25,scale), rounded half away from zero to ``digits`` decimals
    in exact integer arithmetic. DuckDB twin: :func:`sql_exact_avg_halfup`."""
    s = f"sum(CAST({col_name} AS DECIMAL(25,{scale})))"
    return F.expr(
        _halfup_mean(s, f"count({col_name})", scale, digits, "div", "DECIMAL(38,0)")
    )


def sql_exact_avg_halfup(expr: str, scale: int = 4, digits: int = 6) -> str:
    """DuckDB twin of :func:`exact_avg_halfup`."""
    s = f"SUM(CAST(({expr}) AS DECIMAL(25,{scale})))"
    return _halfup_mean(s, f"COUNT({expr})", scale, digits, "//", "HUGEINT")


def sql_exact_sum(expr: str) -> str:
    """DuckDB-side twin of :func:`exact_sum`."""
    return f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(25,4))), 2) AS DOUBLE)"


def decimal_col(col: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Cast a raw parquet double column to DECIMAL. Safe because the
    source columns are generated with 2-decimal precision: their doubles
    are nowhere near a scale-2/scale-4 rounding boundary, so both engines
    produce the identical decimal."""
    return _col(col).cast(f"decimal({precision},{scale})")


def exact_sum_dec(expr: Column) -> Column:
    """SUM of an already-exact DECIMAL expression → DOUBLE rounded to 2
    decimals.

    Use for PRODUCTS of columns: ``price*(1-disc)`` computed in doubles has
    a long binary expansion whose double→decimal cast can round differently
    across engines (Java casts via the shortest string repr; DuckDB via the
    full binary expansion). Multiplying decimal-cast *factors* keeps every
    intermediate exact, so there is no boundary to disagree on. Keep factor
    precisions small enough that Spark never hits the 38-digit cap (which
    would trigger silent scale reduction: decimalOperations.allowPrecisionLoss).
    """
    return F.round(F.sum(expr), 2).cast("double")


def sql_exact_sum_dec(expr: str) -> str:
    """DuckDB twin of :func:`exact_sum_dec`."""
    return f"CAST(ROUND(SUM({expr}), 2) AS DOUBLE)"


# The canonical TPC-H revenue/charge expressions as exact decimals, Spark and
# DuckDB sides. Factor precisions: price < 10^10 → DECIMAL(12,2);
# discount/tax in [0,1) → DECIMAL(4,2).
def revenue_dec() -> Column:
    return decimal_col("l_extendedprice", 12, 2) * (
        F.lit(1) - decimal_col("l_discount", 4, 2)
    )


SQL_REVENUE_DEC = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)


def charge_dec() -> Column:
    return revenue_dec() * (F.lit(1) + decimal_col("l_tax", 4, 2))


SQL_CHARGE_DEC = f"{SQL_REVENUE_DEC} * (1 + CAST(l_tax AS DECIMAL(4,2)))"


DIMS = 64  # embedding width (TESTDATA.md)


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def vec_norm(v: Column | str) -> Column:
    """L2 norm of a double array, the squares folded left to right.
    A Column, so it also works on a lambda variable. DuckDB twin:
    :func:`sql_norm`."""
    return F.sqrt(_fold_sum(F.transform(_col(v), lambda x: x * x)))


def cosine(a: Column | str, b: Column | str, na: Column | str, nb: Column | str) -> Column:
    """Unrounded cosine of double arrays ``a`` and ``b`` whose norms
    (:func:`vec_norm`) are ``na`` and ``nb``: the products folded left to
    right, divided by ``na * nb``. DuckDB twin: ``sql_dot(a, b) /
    (sql_norm(a) * sql_norm(b))``."""
    dot = _fold_sum(F.zip_with(_col(a), _col(b), lambda x, y: x * y))
    return dot / (_col(na) * _col(nb))


def sql_dot(a: str, b: str, n: int = DIMS) -> str:
    """DuckDB dot product of the first ``n`` elements of lists ``a`` and
    ``b`` (1-based), folded in element order."""
    return (
        f"list_sum(list_transform(range(1, {n + 1}),"
        f" i -> {a}[CAST(i AS INT)] * {b}[CAST(i AS INT)]))"
    )


def sql_norm(col: str, n: int = DIMS) -> str:
    """DuckDB twin of :func:`vec_norm` over the first ``n`` elements."""
    return f"sqrt({sql_dot(col, col, n)})"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of a text column → array<string>, dropping
    empty tokens (JVM-side split; matches DuckDB
    ``list_filter(string_split_regex(text,'\\s+'), x -> len(x)>0)``)."""
    return F.filter(F.split(_col(col), r"\s+"), lambda t: F.length(t) > 0)


def word_ngrams(toks, n: int) -> Column:
    """Word n-grams of an array<string> column: positions 1..size-n+1, each
    joined with a single space. Spark's ``sequence(1, 0)`` DESCENDS (never
    empty), so sub-n docs need the explicit empty-array guard — same edge
    the dedup shingle expr documents. DuckDB twin: :func:`sql_word_ngrams`."""
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def sql_word_ngrams(t: str, n: int) -> str:
    """DuckDB twin of :func:`word_ngrams` (range end is exclusive;
    list_slice bounds are inclusive; the greatest() keeps sub-n inputs at
    an empty range instead of a descending one)."""
    return (
        f"list_transform(range(1, greatest(len({t}) - {n - 2}, 1)),"
        f" i -> array_to_string(list_slice({t}, CAST(i AS INT), CAST(i AS INT) + {n - 1}), ' '))"
    )
