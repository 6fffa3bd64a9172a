from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blockchain_etl_spark.session import get_spark  # noqa: E402
from blockchain_etl_spark.sources.testdata import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("blockchain-etl-spark-tests")
    # Test-session shuffle width: the suite runs byte-tiny frames on
    # local[8]; the production default (32) schedules 4 waves of empty
    # tasks per exchange, which is pure wall-clock on a ~1000-test
    # suite (measured round 14: test_cdc_view.py 199s -> 166s). Tests
    # that assert a plan/layout pin their own confs (plan_snapshot) or
    # partition-by-key layouts that don't depend on the width.
    # SPARK_GRAFT_TEST_SHUFFLE=32 restores the production width.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8"),
    )
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def spark_result(spark):
    """Spark output of a registered query at SF_DIR as pandas, computed
    once per session. test_oracle (values) and test_oracle_dtypes (dtype
    classes) check the same ~200 outputs, and the second run of every
    query cost about 175 s of the suite on 4 cores. Each call returns a
    fresh copy."""
    from blockchain_etl_spark.plans.registry import QUERIES, get_queries

    get_queries()
    memo = {}

    def get(name):
        if name not in memo:
            memo[name] = QUERIES[name].fn(spark, SF_DIR).toPandas()
        return memo[name].copy()

    return get
