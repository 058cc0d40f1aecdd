"""End-to-end pipeline driver: bronze -> silver -> gold -> quality.

Replaces the reference's Airflow DAG + dbt run (SURVEY §3): each task
group becomes one stage, and the stages are barriers, run in order —
bronze writes, silver loads and PK checks, silver writes, gold writes,
quality. The tables inside a stage are independent, so their actions
run concurrently (``session.run_each``, one driver thread per table,
where dbt ran one model at a time with ``threads: 1``). Model
dependencies inside gold are Spark's lazy plans over the persisted
silver, built in ``plans.gold.build_all``. dbt's test step needs no
scan of its own when gold is materialized: the quality checks are
observed aggregates on the gold writes (``quality.observe``).

Each layer hands the next the schema of what it wrote, so no layer
scans data only to learn a schema: bronze returns its entities' JSON
schemas, silver reads the JSON with them (no inference pass) and checks
all primary keys in one action, and gold reads the persisted silver
with the schema silver wrote (no Parquet footer read per table).

Typical use::

    spark = get_spark()
    gold = run_pipeline(spark, work_dir="/tmp/nba_wh")

At scale, point ``work_dir`` at an object store (s3a://...) — every
stage is distributed reads/writes; nothing passes through the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import quality
from .plans import gold
from .session import run_each
from .sources import bronze, silver


def run_pipeline(
    spark: SparkSession,
    work_dir: str,
    materialize_gold: bool = False,
    run_quality: bool = True,
) -> dict[str, DataFrame]:
    """bronze JSON -> silver (all-string, PK-checked) -> 6 gold models.

    Returns the gold DataFrames; with ``materialize_gold`` they are
    also written as Parquet under <work_dir>/gold (the dbt
    CREATE TABLE AS materialization, S15).

    With ``run_quality`` the 12 gold checks must pass before this
    returns (``quality.QualityError`` otherwise). On materialized gold
    they are observed on the Parquet writes and add no Spark job; on
    lazy gold they cost one aggregate per checked table."""
    bronze_dir = os.path.join(work_dir, "bronze")
    schemas = bronze.write_all(spark, bronze_dir)

    silver_tables = silver.load_all(spark, bronze_dir, schemas)
    paths = silver.save_warehouse(silver_tables, os.path.join(work_dir, "silver"))

    # gold reads the persisted silver (column-pruned parquet scans),
    # not the in-memory lineage — mirrors the reference's layer boundary.
    # The schema is the one silver wrote (a partition column reads back
    # last, as it does when inferred), so no footer is read for it.
    persisted = {
        name: spark.read.schema(silver_tables[name].schema).parquet(path)
        for name, path in paths.items()
    }
    gold_tables = gold.build_all(persisted)

    # materialized gold carries its checks into the writes, which
    # already scan every row; lazy gold is checked by one aggregate
    # per table in run_checks
    checked: dict = gold_tables
    if materialize_gold:
        to_write = gold_tables
        if run_quality:
            to_write, checked = quality.observe(gold_tables)

        def write(name: str) -> None:
            path = os.path.join(work_dir, "gold", name)
            to_write[name].write.mode("overwrite").parquet(path)

        run_each(spark, write, to_write)

    if run_quality:
        quality.run_checks(checked)
    return gold_tables
