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


def exact_sum(col: Column | str, scale: int = 4, round_to: int = 2) -> Column:
    """Order-independent SUM of a double expression → DOUBLE.

    Spark:  round(sum(cast(x as decimal(25,scale))), round_to)::double
    DuckDB: CAST(ROUND(SUM(CAST(x AS DECIMAL(25,scale))), round_to) AS DOUBLE)
    """
    return F.round(F.sum(_col(col).cast(f"decimal(25,{scale})")), round_to).cast("double")


def exact_avg(col: Column | str, scale: int = 4, round_to: int = 6) -> Column:
    """Order-independent AVG of a double expression → DOUBLE.

    Computed as exact decimal SUM cast to double, divided by COUNT (both
    engine-identical), then rounded. Matching DuckDB SQL::

        ROUND(CAST(SUM(CAST(x AS DECIMAL(25,4))) AS DOUBLE) / COUNT(x), 6)

    Caveat (measured, round-10 sf0.1 gate): when the exact quotient lands
    ON a .5e-6 half boundary the two engines' round-of-double can diverge
    by one last-digit unit — prefer :func:`exact_avg_halfup` for scale ≤ 6
    inputs (it rounds in exact integer arithmetic and has no boundary);
    this double-division form remains for scale-8 inputs (k-means
    centroids) where sum·10^6 is not integral.
    """
    c = _col(col)
    return F.round(
        F.sum(c.cast(f"decimal(25,{scale})")).cast("double") / F.count(c), round_to
    )


def exact_avg_halfup(col_name: str, scale: int = 4) -> Column:
    """AVG rounded to 6 decimals with the rounding performed in EXACT
    integer arithmetic — immune to the double round-boundary divergence
    :func:`exact_avg` can hit when the true quotient lands on a
    ``...xxx5`` boundary (Spark's round sees the shortest decimal repr of
    the double, DuckDB rounds its full binary expansion; at a half
    boundary they disagree by 1 ulp of the rounded digit).

    Construction (sign-safe): with A = sum·10^6 exact (the decimal sum has
    ``scale`` ≤ 6 fractional digits, so A is integral) and N = count,
    ``half_away_from_zero(A/N) = sign(A) · ((2|A| + N) div (2N))`` — the
    abs() is load-bearing because Spark's ``div`` truncates toward zero
    while DuckDB's ``//`` floors, so NEGATIVE operands would diverge by one
    unit; on nonnegative operands the two agree and the identical integer
    then divides by 10^6 in both engines (same construction as prep's
    ``_halfup_mean_div``). Takes a column NAME (the expression is assembled
    in SQL text). DuckDB twin: :func:`sql_exact_avg_halfup`.
    """
    if scale > 6:
        # the ×10^6 multiplier only yields an integral A when the decimal
        # sum carries ≤ 6 fractional digits; beyond that the DECIMAL(38,0)
        # cast would silently round and the "exact" guarantee is gone
        raise ValueError(f"exact_avg_halfup requires scale <= 6, got {scale}")
    s = f"sum(CAST({col_name} AS DECIMAL(25,{scale})))"
    a = f"CAST(abs({s}) * 1000000 AS DECIMAL(38,0))"
    n = f"CAST(count({col_name}) AS DECIMAL(38,0))"
    return F.expr(
        f"(CASE WHEN {s} < 0 THEN -1 ELSE 1 END"
        f" * CAST((2 * {a} + {n}) div (2 * {n}) AS DOUBLE) / 1000000.0)"
    )


def sql_exact_avg_halfup(expr: str, scale: int = 4) -> str:
    """DuckDB twin of :func:`exact_avg_halfup` (same sign-safe abs()+sign
    construction; HUGEINT because DuckDB's ``//`` on DECIMAL operands is
    plain division, not integer division)."""
    if scale > 6:
        raise ValueError(f"sql_exact_avg_halfup requires scale <= 6, got {scale}")
    s = f"SUM(CAST(({expr}) AS DECIMAL(25,{scale})))"
    a = f"CAST(ABS({s}) * 1000000 AS HUGEINT)"
    return (
        f"((CASE WHEN {s} < 0 THEN -1 ELSE 1 END)"
        f" * CAST((2 * {a} + COUNT({expr})) // (2 * COUNT({expr})) AS DOUBLE)"
        f" / 1000000.0)"
    )


def sql_exact_sum(expr: str, scale: int = 4, round_to: int = 2) -> str:
    """DuckDB-side twin of :func:`exact_sum`."""
    return f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(25,{scale}))), {round_to}) AS DOUBLE)"


def sql_exact_avg(expr: str, scale: int = 4, round_to: int = 6) -> str:
    """DuckDB-side twin of :func:`exact_avg`."""
    return (
        f"ROUND(CAST(SUM(CAST(({expr}) AS DECIMAL(25,{scale}))) AS DOUBLE)"
        f" / COUNT({expr}), {round_to})"
    )


def decimal_col(col: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Cast a raw parquet double column to DECIMAL. Safe because the
    source columns are generated with 2-decimal precision: their doubles
    are nowhere near a scale-2/scale-4 rounding boundary, so both engines
    produce the identical decimal."""
    return _col(col).cast(f"decimal({precision},{scale})")


def exact_sum_dec(expr: Column, round_to: int = 2) -> Column:
    """SUM of an already-exact DECIMAL expression → rounded DOUBLE.

    Use for PRODUCTS of columns: ``price*(1-disc)`` computed in doubles has
    a long binary expansion whose double→decimal cast can round differently
    across engines (Java casts via the shortest string repr; DuckDB via the
    full binary expansion). Multiplying decimal-cast *factors* keeps every
    intermediate exact, so there is no boundary to disagree on. Keep factor
    precisions small enough that Spark never hits the 38-digit cap (which
    would trigger silent scale reduction: decimalOperations.allowPrecisionLoss).
    """
    return F.round(F.sum(expr), round_to).cast("double")


def sql_exact_sum_dec(expr: str, round_to: int = 2) -> str:
    """DuckDB twin of :func:`exact_sum_dec`."""
    return f"CAST(ROUND(SUM({expr}), {round_to}) AS DOUBLE)"


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
