from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from kgfarm_spark.session import get_spark

    # one session for the whole suite — startup is ~35 s in this container
    s = get_spark(app_name="kgfarm_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _empty_sketch_memo(monkeypatch):
    """Start every test with an empty auto hot-guard memo, so no test's
    'auto' call is settled by a verdict an earlier test memoized."""
    import weakref

    from kgfarm_spark.operators import backfill

    monkeypatch.setattr(backfill, "_SKETCH_MEMO", weakref.WeakKeyDictionary())


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    return con
