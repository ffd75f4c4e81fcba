from __future__ import annotations

import re
import sys
from datetime import datetime, timezone
from pathlib import Path

import duckdb
import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from data_ingestion_api_system_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


# Helpers several test files share (they import them from here).


def _docs():
    return duckdb.sql(
        f"SELECT doc_id, text, lang, source, n_chars "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _toks(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text) if t]


def _ts(minute: int, second: int = 0):
    return datetime(2024, 1, 1, 0, minute, second, tzinfo=timezone.utc)


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "stream"
    d.mkdir()
    return str(d)


@pytest.fixture(scope="session")
def spark():
    # tiny state tables: minimal shuffle width keeps per-job overhead low
    spark = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "2"})
    yield spark
    from data_ingestion_api_system_spark.operators import release_pins

    release_pins()
    spark.stop()
