from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """@pytest.mark.scaling tests spawn their own JVMs and take
    minutes; they run only when explicitly selected (`pytest -m
    scaling` in the round close-out) or RUN_SCALING=1 — the default
    suite stays fast."""
    if "scaling" in (config.option.markexpr or "") \
            or os.environ.get("RUN_SCALING"):
        return
    skip = pytest.mark.skip(
        reason="close-out tripwire: run `pytest -m scaling`")
    for item in items:
        if "scaling" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from nebula_storage_spark.session import get_spark
    s = get_spark("nebula-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(autouse=True)
def _release_pinned():
    """Drain the package persist registry after every test: the whole
    suite shares one driver JVM, and frames the builders pinned in one
    test would otherwise stay cached through every later one."""
    yield
    from nebula_storage_spark.cache import release_all
    release_all()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb
    con = duckdb.connect()
    # pin UTC: match Spark's spark.sql.session.timeZone on any host
    con.execute("SET TimeZone='UTC'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()
