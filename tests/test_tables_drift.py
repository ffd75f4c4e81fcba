"""Testdata-drift guards for ``documents`` and ``embeddings`` (VERDICT r5
'Next round' #3): round 4 lost 19 queries to a silent regeneration of the
events table's ts encoding; the same class of drift for the other two
synthetic tables would hit the text/dedup/similarity families. Pin that
every plausible Arrow re-encoding (string vs large_string, list vs
large_list, float32 vs float64) loads to the same values and keeps the
Spark queries in exact agreement with the DuckDB oracle reading the very
same files."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from data_ingestion_api_system_spark.tables import load_table

N_DOCS = 12
DIMS = 64  # similarity operators assume 64-dim embeddings (TESTDATA.md)
N_VECS = 10

_TEXTS = [
    f"doc {i} the quick brown fox jumps over the lazy dog " + ("repeat " * (i % 4))
    for i in range(N_DOCS)
]


def _write_documents(path, text_type):
    tbl = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(_TEXTS, text_type),
            "lang": pa.array(["en", "de", "fr"][i % 3] for i in range(N_DOCS)),
            "source": pa.array(["web", "book"][i % 2] for i in range(N_DOCS)),
            "n_chars": pa.array([len(t) for t in _TEXTS], pa.int64()),
        }
    )
    pq.write_table(tbl, path)


def _vec(i):
    # multiples of 1/16: exactly representable in float32, so the float64
    # encoding holds bit-identical values and results can be compared ==
    return [((i * 7 + j * 3) % 16) / 16.0 for j in range(DIMS)]


def _write_embeddings(path, list_cls, elem_type):
    tbl = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array([_vec(i) for i in range(N_VECS)], list_cls(elem_type)),
            "label": pa.array([i % 4 for i in range(N_VECS)], pa.int32()),
        }
    )
    pq.write_table(tbl, path)


@pytest.fixture(scope="module")
def doc_dirs(tmp_path_factory):
    out = {}
    for label, t in (("string", pa.string()), ("large_string", pa.large_string())):
        d = tmp_path_factory.mktemp(f"docs_{label}")
        _write_documents(d / "documents.parquet", t)
        out[label] = str(d)
    return out


@pytest.fixture(scope="module")
def emb_dirs(tmp_path_factory):
    out = {}
    cases = (
        ("list_f32", pa.list_, pa.float32()),
        ("large_list_f32", pa.large_list, pa.float32()),
        ("list_f64", pa.list_, pa.float64()),
    )
    for label, cls, elem in cases:
        d = tmp_path_factory.mktemp(f"emb_{label}")
        _write_embeddings(d / "embeddings.parquet", cls, elem)
        out[label] = str(d)
    return out


def test_documents_encodings_load_identically(spark, doc_dirs):
    got = {}
    for label, d in doc_dirs.items():
        df = load_table(spark, d, "documents")
        assert df.schema["text"].dataType.typeName() == "string", label
        got[label] = sorted(map(tuple, df.collect()))
    assert got["string"] == got["large_string"]


def test_documents_query_matches_oracle_on_both_encodings(spark, doc_dirs):
    """Run a real registry text query on each encoding and compare with the
    DuckDB oracle reading the same file — end-to-end drift guard."""
    qfn = entrymod.queries()["text_token_stats"]
    sql = entrymod.oracle_sql()["text_token_stats"]
    results = {}
    for label, d in doc_dirs.items():
        spark_rows = sorted(map(tuple, qfn(spark, d).collect()))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
        )
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        con.close()
        assert spark_rows == want, f"{label}: Spark != DuckDB"
        results[label] = spark_rows
    assert results["string"] == results["large_string"]


def test_embeddings_encodings_agree_and_match_oracle(spark, emb_dirs):
    """Cosine top-k must return identical rows for every embedding
    encoding (values are exactly float32-representable) and match the
    DuckDB oracle on the same fixture file."""
    qfn = entrymod.queries()["sim_cosine_topk"]
    sql = entrymod.oracle_sql()["sim_cosine_topk"]
    results = {}
    for label, d in emb_dirs.items():
        df = qfn(spark, d)
        spark_rows = sorted(map(tuple, df.collect()))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet')"
        )
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        con.close()
        assert spark_rows == want, f"{label}: Spark != DuckDB"
        results[label] = spark_rows
    assert results["list_f32"] == results["large_list_f32"] == results["list_f64"]


def test_current_testdata_shapes(spark):
    """Whatever the live testdata encodes, the loaders must see the shapes
    the operators assume: string text, 64-dim numeric embeddings."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert docs.schema["text"].dataType.typeName() == "string"
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    el = emb.schema["embedding"].dataType.elementType.typeName()
    assert el in ("float", "double"), el


# --- orders / lineitem date-column drift (the round-4 failure class) -------

N_ORDERS = 14


def _write_orders(path, ts_type, parts=False):
    import datetime as dt

    base = dt.datetime(1995, 3, 1)
    days = [base + dt.timedelta(days=i * 37) for i in range(N_ORDERS)]
    if ts_type == "date32":
        col = pa.array([d.date() for d in days], pa.date32())
    else:
        col = pa.array(days, ts_type)
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(1, N_ORDERS + 1), pa.int64()),
            "o_custkey": pa.array([i % 5 for i in range(N_ORDERS)], pa.int64()),
            "o_orderstatus": pa.array(["O", "F"][i % 2] for i in range(N_ORDERS)),
            "o_totalprice": pa.array(
                [1000.0 + 17.25 * i for i in range(N_ORDERS)], pa.float64()
            ),
            "o_orderdate": col,
            "o_orderpriority": pa.array(
                ["1-URGENT", "3-MEDIUM", "5-LOW"][i % 3] for i in range(N_ORDERS)
            ),
        }
    )
    if parts:
        # a directory of part files, as a Spark or Hive writer lays it out
        path.mkdir()
        half = N_ORDERS // 2
        pq.write_table(tbl.slice(0, half), path / "part-00000.parquet")
        pq.write_table(tbl.slice(half), path / "part-00001.parquet")
    else:
        pq.write_table(tbl, path)


@pytest.fixture(scope="module")
def orders_dirs(tmp_path_factory):
    out = {}
    cases = (
        ("us", pa.timestamp("us"), False),
        ("us_utc", pa.timestamp("us", tz="UTC"), False),
        ("ms", pa.timestamp("ms"), False),
        ("ns", pa.timestamp("ns"), False),
        ("date32", "date32", False),
        ("parts", pa.timestamp("us"), True),
    )
    for label, t, parts in cases:
        d = tmp_path_factory.mktemp(f"orders_{label}")
        _write_orders(d / "orders.parquet", t, parts)
        out[label] = str(d)
    return out


def _duckdb_source(sf_dir, table):
    path = os.path.join(sf_dir, f"{table}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def test_orders_date_encodings_normalize_to_timestamp(spark, orders_dirs):
    """Every plausible o_orderdate re-encoding (naive or UTC micros, millis,
    NANOS, date32, a directory of parts) must load as the same
    TimestampType instants — the exact drift that broke events.ts in
    round 4, pinned for the other date-carrying tables."""
    got = {}
    for label, d in orders_dirs.items():
        df = load_table(spark, d, "orders")
        assert df.schema["o_orderdate"].dataType.typeName() == "timestamp", label
        got[label] = sorted(map(tuple, df.select("o_orderkey", "o_orderdate").collect()))
    assert all(v == got["us"] for v in got.values()), got


def test_orders_query_matches_oracle_on_all_encodings(spark, orders_dirs):
    """Run a date-grouping registry query against each encoding and compare
    with the DuckDB oracle reading the very same file (DuckDB normalizes its
    own view of ns/date32, so agreement proves both engines still see the
    same dates end-to-end)."""
    qfn = entrymod.queries()["window_moving_avg"]
    sql = entrymod.oracle_sql()["window_moving_avg"]
    results = {}
    for label, d in orders_dirs.items():
        spark_rows = sorted(map(tuple, qfn(spark, d).collect()))
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")  # the UTC-adjusted encoding
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{_duckdb_source(d, 'orders')}')"
        )
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        con.close()
        assert spark_rows == want, f"{label}: Spark != DuckDB"
        results[label] = spark_rows
    assert all(v == results["us"] for v in results.values())
