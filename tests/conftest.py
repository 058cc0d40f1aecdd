from __future__ import annotations

import itertools

import duckdb
import pytest

from nba_spurs_etl_spark.session import get_spark
from nba_spurs_etl_spark.sources.catalog import TESTDATA_TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    yield get_spark("nba-spurs-etl-spark-tests", shuffle_partitions=8)


def duck_with_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh DuckDB connection with the testdata tables as views —
    mirrors the driver's pre-registered-views environment."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


_JOB_GROUPS = itertools.count()


def jobs_during(spark, fn):
    """(fn(), the number of Spark jobs fn launched), counted in a fresh
    job group per call, so counts never accumulate."""
    sc = spark.sparkContext
    group = f"test-jobs-{next(_JOB_GROUPS)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def jobs_of_build_and_drain(spark, name, sf_dir=SF_SMOKE):
    """Spark jobs one build + noop drain of a catalog entry launches."""
    from nba_spurs_etl_spark.plans.catalog import queries

    def run():
        queries()[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    return jobs_during(spark, run)[1]
