"""Property tests for the shared column-expression helpers — the pieces
several operator families now build on (n-grams feed decontamination,
repetition, cross-doc spans, DSIR; the byte-size parser feeds the narrow-scan
probe every query's spread() runs through).

One Spark round-trip per hypothesis example is the cost ceiling, so the
example counts stay modest (the helpers are pure expressions; the properties
are structural, not statistical).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

words = st.lists(
    st.text(alphabet="abcxyz", min_size=1, max_size=5), min_size=0, max_size=14
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(toks=words, n=st.integers(min_value=1, max_value=6))
def test_word_ngrams_count_and_arity(spark, toks, n):
    """len(ngrams) == max(0, len(toks)-n+1); every gram joins exactly n
    tokens; grams reconstruct the original token windows in order."""
    from data_ingestion_api_system_spark.functions import word_ngrams

    df = spark.createDataFrame([(toks,)], "t array<string>")
    [row] = df.select(word_ngrams(F.col("t"), n).alias("g")).collect()
    grams = row.g
    expect = max(0, len(toks) - n + 1)
    assert len(grams) == expect
    for i, g in enumerate(grams):
        assert g == " ".join(toks[i : i + n])


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(toks=words, n=st.integers(min_value=1, max_value=6))
def test_word_ngrams_spark_matches_duckdb(spark, toks, n):
    """The Spark expression and its DuckDB twin produce identical gram
    lists for arbitrary token arrays — the cross-engine contract every
    n-gram operator's oracle rests on."""
    import duckdb

    from data_ingestion_api_system_spark.functions import (
        sql_word_ngrams,
        word_ngrams,
    )

    df = spark.createDataFrame([(toks,)], "t array<string>")
    [row] = df.select(word_ngrams(F.col("t"), n).alias("g")).collect()
    con = duckdb.connect()
    [want] = con.execute(
        f"SELECT {sql_word_ngrams('$tok$', n)}".replace(
            "$tok$", "[" + ", ".join("'" + t + "'" for t in toks) + "]::VARCHAR[]"
        )
    ).fetchone()
    con.close()
    assert row.g == want


def test_size_bytes_parser_units():
    from data_ingestion_api_system_spark.operators import _size_bytes

    assert _size_bytes("134217728") == 128 * 2**20
    assert _size_bytes("134217728b") == 128 * 2**20
    assert _size_bytes("128m") == 128 * 2**20
    assert _size_bytes("1g") == 2**30
    assert _size_bytes("64k") == 64 * 2**10
    assert _size_bytes("garbage", default=7) == 7


@given(
    history=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.integers(min_value=1, max_value=9),
    )
)
@settings(max_examples=50, deadline=None)
def test_staleness_fill_orders_by_history(history):
    """Never-certified entries always sort before any certified entry, and
    certified entries sort by ascending last-green round; ties keep input
    order (sort stability) so the fill is deterministic."""
    from data_ingestion_api_system_spark.operators import staleness_fill

    tail = ["a", "b", "c", "d", "e"]
    out = staleness_fill(tail, history=history)
    assert out == sorted(tail, key=lambda n: history.get(n, -1))


def test_round_half_matches_duckdb_round(spark):
    """``round_half(v, 6)`` equals DuckDB's ``round(v, 6)`` on exact decimal
    half boundaries (2m+1)/(2·10^6) of both signs and on integer ratios
    a/b; plain ``F.round`` differs from DuckDB on some of them."""
    import duckdb
    import pyarrow as pa

    from data_ingestion_api_system_spark.functions import round_half

    values = [s * (2 * m + 1) / 2e6 for m in range(5000) for s in (1, -1)]
    values += [a / b for a in range(300) for b in range(1, 80)]
    values.append(297 * 14722 / (2000 * 2160))  # a basket_brand_pairs lift
    con = duckdb.connect()
    vals = pa.table({"i": range(len(values)), "v": values})
    want = [r[0] for r in con.execute("SELECT round(v, 6) FROM vals ORDER BY i").fetchall()]
    con.close()
    df = spark.createDataFrame(list(enumerate(values)), "i long, v double")
    rows = df.orderBy("i").select(
        round_half("v", 6).alias("half"), F.round("v", 6).alias("plain")
    ).collect()
    assert [r.half for r in rows] == want
    assert sum(r.plain != w for r, w in zip(rows, want)) > 0


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    mags=st.lists(
        st.floats(min_value=1e-9, max_value=1e12), min_size=1, max_size=60
    ),
    signs=st.lists(st.sampled_from([1.0, -1.0]), min_size=60, max_size=60),
    k=st.integers(min_value=0, max_value=8),
)
def test_round_half_matches_duckdb_round_property(spark, mags, signs, k):
    """``round_half(v, k)`` equals DuckDB's ``round(v, k)`` for finite
    doubles of both signs from 1e-9 to 1e12 and every k in 0…8."""
    import duckdb
    import pyarrow as pa

    from data_ingestion_api_system_spark.functions import round_half

    values = [s * m for s, m in zip(signs, mags)]
    con = duckdb.connect()
    vals = pa.table({"i": range(len(values)), "v": values})
    want = [
        r[0]
        for r in con.execute(f"SELECT round(v, {k}) FROM vals ORDER BY i").fetchall()
    ]
    con.close()
    df = spark.createDataFrame(list(enumerate(values)), "i long, v double")
    got = [r.h for r in df.orderBy("i").select(round_half("v", k).alias("h")).collect()]
    assert got == want, [(v, g, w) for v, g, w in zip(values, got, want) if g != w]


_coord = st.builds(
    lambda m, s: s * m,
    st.floats(min_value=1e-3, max_value=1e3),
    st.sampled_from([1.0, -1.0]),
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data(), n=st.sampled_from(["dims", "prefix"]))
def test_cosine_matches_duckdb_bit_for_bit(spark, data, n):
    """Spark's ``vec_norm`` and ``cosine`` equal DuckDB's ``sql_norm`` and
    ``sql_dot / (sql_norm * sql_norm)`` bit for bit on finite, non-zero
    double vectors of the embedding width and of the Matryoshka prefix
    width: the one fold rule every similarity oracle rests on."""
    import duckdb
    import pyarrow as pa

    from data_ingestion_api_system_spark.functions import (
        DIMS,
        cosine,
        sql_dot,
        sql_norm,
        vec_norm,
    )
    from data_ingestion_api_system_spark.operators.similarity import MATRYOSHKA_PREFIX

    width = DIMS if n == "dims" else MATRYOSHKA_PREFIX
    vec = st.lists(_coord, min_size=width, max_size=width)
    pairs = data.draw(st.lists(st.tuples(vec, vec), min_size=1, max_size=8))
    vals = pa.table(
        {
            "i": range(len(pairs)),
            "a": [a for a, _ in pairs],
            "b": [b for _, b in pairs],
        }
    )
    con = duckdb.connect()
    want = con.execute(
        f"SELECT {sql_norm('a', width)}, {sql_norm('b', width)},"
        f" {sql_dot('a', 'b', width)} / ({sql_norm('a', width)} * {sql_norm('b', width)})"
        " FROM vals ORDER BY i"
    ).fetchall()
    con.close()
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i long, a array<double>, b array<double>",
    )
    got = (
        df.select("i", "a", "b", vec_norm("a").alias("na"), vec_norm("b").alias("nb"))
        .select("i", "na", "nb", cosine("a", "b", "na", "nb").alias("cos"))
        .orderBy("i")
        .collect()
    )
    assert [(r.na, r.nb, r.cos) for r in got] == [tuple(w) for w in want]
