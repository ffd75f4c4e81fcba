"""LSH front-half reuse: a second ``lsh_front`` build over the same input
plans identically to the first, so Spark's cache manager serves it from
the first build's cached shingle and band tables — no memo needed."""

from __future__ import annotations

import os
import shutil

from data_ingestion_api_system_spark.operators.dedup import lsh_front
from data_ingestion_api_system_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_second_build_reuses_cached_front_half(spark, tmp_path):
    # a private copy of the table: no earlier test can have cached this
    # plan, so the first build's count is exact
    shutil.copy(os.path.join(SF_DIR, "documents.parquet"), tmp_path / "documents.parquet")
    persisted = spark.sparkContext._jsc.getPersistentRDDs

    before = persisted().size()
    sh, banded, cand = lsh_front(load_table(spark, str(tmp_path), "documents"))
    try:
        n_cand = cand.count()
        after_first = persisted().size()
        _sh2, _banded2, cand2 = lsh_front(load_table(spark, str(tmp_path), "documents"))
        assert cand2.count() == n_cand
        after_second = persisted().size()
        assert after_first - before == 2  # shingle table + band table
        assert after_second - after_first == 0  # served from the first build
    finally:
        sh.unpersist(blocking=True)
        banded.unpersist(blocking=True)
    assert persisted().size() == before
