"""Silver layer: JSON -> all-string tables with PK validation.

Reproduces ``insert_json_to_postgres`` (reference dags:345-423):
S3/JSON scan -> key normalization -> all-VARCHAR storage -> optional
primary key. Spark specifics:

- ``primitivesAsString`` gives the all-VARCHAR silver type system
  (SURVEY §1.2) without per-column casts;
- PK uniqueness cannot be *enforced* by Spark (no constraints) — it is
  checked (``validate_pk``, or ``check_pks`` for all tables in one
  action) and raises like the reference's INSERT would on duplicates;
- storage is Parquet (columnar upgrade; semantics preserved because
  gold always re-casts from string).

The load map (table -> PK) is the reference's dict at dags:427-435.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..normalize import normalize_columns
from ..session import run_each

# table -> primary key columns (None = no PK), per reference dags:427-435
LOAD_MAP: dict[str, tuple[str, ...] | None] = {
    "games": None,
    "teams": ("id",),
    "players": ("player_id", "season"),
    "player_stats": None,
    "salaries": ("player_id", "season"),
    "free_agents": ("player_id",),
    "injuries": None,
}


class PrimaryKeyViolation(ValueError):
    pass


def read_json_entity(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """All-string JSON scan + key normalization (S9 + S10)."""
    return read_entity(spark, path, fmt="json", schema=schema)


def read_entity(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    mode: str = "PERMISSIVE",
    schema: StructType | None = None,
) -> DataFrame:
    """All-string entity scan in any supported format (S9 generalized).

    Every format lands on the same all-VARCHAR silver contract
    (SURVEY §1.2): JSON via ``primitivesAsString``, CSV via
    header-no-inference (Spark's CSV default type IS string), Parquet
    and ORC via an explicit cast-to-string projection. Downstream
    never knows
    which wire format fed it — gold re-casts from string either way.

    ``mode`` (JSON/CSV only) is the malformed-record policy. The
    reference's ``json.loads`` aborts the whole load on one bad byte
    (dags/spurs_historic_games.py:357) — that is ``FAILFAST``. The
    default here is Spark's ``PERMISSIVE`` (bad records become
    all-NULL rows) because at 100 TB a single corrupt record must not
    kill a load; pass ``DROPMALFORMED`` to silently skip them.

    ``schema`` (JSON only) is the files' all-string schema when the
    writer knows it (``bronze.json_schema``): the read then skips
    inference, a full pass over the data. Two differences from
    inference, both pinned in tests: a ``PERMISSIVE`` corrupt record is
    an all-NULL row with no ``_corrupt_record`` column, and a field NULL
    in every record stays an all-NULL column (inference drops it; the
    reference kept the key).
    """
    if schema is not None and fmt != "json":
        raise ValueError(f"an explicit schema is for JSON, not {fmt!r}")
    if fmt == "json":
        reader = spark.read.option("primitivesAsString", "true").option("mode", mode)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.json(path)
    elif fmt == "csv":
        df = spark.read.option("header", "true").option("mode", mode).csv(path)
    elif fmt in ("parquet", "orc"):
        raw = getattr(spark.read, fmt)(path)
        df = raw.select([F.col(c).cast("string").alias(c) for c in raw.columns])
    else:
        raise ValueError(f"unsupported silver format {fmt!r}")
    return normalize_columns(df)


def validate_pk(df: DataFrame, pk: tuple[str, ...]) -> int:
    """Number of duplicated PK tuples (0 = valid)."""
    return (
        df.groupBy(*pk)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )


def load_silver_table(
    spark: SparkSession, bronze_dir: str, name: str, check_pk: bool = True
) -> DataFrame:
    """One silver table from its bronze JSON dir, PK-checked."""
    if name not in LOAD_MAP:
        raise KeyError(f"unknown silver table {name!r}")
    df = read_json_entity(spark, os.path.join(bronze_dir, name))
    if check_pk:
        check_pks({name: df})
    return df


def check_pks(tables: dict[str, DataFrame]) -> None:
    """``validate_pk`` for every keyed table of ``tables`` in ONE Spark
    action: the tables' PK tuples (as string arrays, one shape for all
    keys) are unioned and counted per (table, tuple) in one plan, so the
    checks cost a fixed few jobs, not a few per table. Raises the
    violation of the first failing table in LOAD_MAP order."""
    keyed = [
        tables[name].select(F.lit(name).alias("t"), F.array(*pk).alias("k"))
        for name, pk in LOAD_MAP.items()
        if pk is not None and name in tables
    ]
    if not keyed:
        return
    dups = dict(
        reduce(DataFrame.unionAll, keyed)
        .groupBy("t", "k")
        .count()
        .where("count > 1")
        .groupBy("t")
        .count()
        .collect()
    )
    for name, pk in LOAD_MAP.items():
        if dups.get(name):
            raise PrimaryKeyViolation(
                f"silver.{name}: {dups[name]} duplicated PK tuple(s) on {pk} "
                "(the reference's INSERT would abort here, dags:411-413)"
            )


def load_all(
    spark: SparkSession,
    bronze_dir: str,
    schemas: dict[str, StructType] | None = None,
) -> dict[str, DataFrame]:
    """The reference's insert_all_files (drop+reload of all 7 tables).

    ``schemas`` is what ``bronze.write_all`` returned: each table's JSON
    is then read with its schema instead of inferring it, which skips
    one full pass over the data per table; a table with no schema given
    (live or foreign bronze) keeps inference. The reads run
    concurrently; the PK checks are then one action (``check_pks``). On
    duplicates the violation raised is that of the first failing table
    in LOAD_MAP order."""
    schemas = schemas or {}
    tables = run_each(
        spark,
        lambda name: read_json_entity(
            spark, os.path.join(bronze_dir, name), schemas.get(name)
        ),
        LOAD_MAP,
    )
    check_pks(tables)
    return tables


def save_warehouse(
    silver: dict[str, DataFrame], warehouse_dir: str
) -> dict[str, str]:
    """Persist silver as Parquet (full-refresh overwrite, S13/S15), the
    tables written concurrently.

    games is the only table that grows at scale — partition it by
    season so gold's season-grouped scans prune partitions."""

    def save(name: str) -> str:
        path = os.path.join(warehouse_dir, name)
        writer = silver[name].write.mode("overwrite")
        if name == "games":
            writer = writer.partitionBy("season")
        writer.parquet(path)
        return path

    if not silver:
        return {}
    spark = next(iter(silver.values())).sparkSession
    return run_each(spark, save, silver)
