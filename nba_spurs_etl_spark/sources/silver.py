"""Silver layer: JSON -> all-string tables with PK validation.

Reproduces ``insert_json_to_postgres`` (reference dags:345-423):
S3/JSON scan -> key normalization -> all-VARCHAR storage -> optional
primary key. Spark specifics:

- ``primitivesAsString`` gives the all-VARCHAR silver type system
  (SURVEY §1.2) without per-column casts;
- PK uniqueness cannot be *enforced* by Spark (no constraints) — it is
  checked (``validate_pk``) and raises like the reference's INSERT
  would on duplicates;
- storage is Parquet (columnar upgrade; semantics preserved because
  gold always re-casts from string).

The load map (table -> PK) is the reference's dict at dags:427-435.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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


def read_json_entity(spark: SparkSession, path: str) -> DataFrame:
    """All-string JSON scan + key normalization (S9 + S10)."""
    return read_entity(spark, path, fmt="json")


def read_entity(
    spark: SparkSession, path: str, fmt: str = "json", mode: str = "PERMISSIVE"
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
    """
    if fmt == "json":
        df = (
            spark.read.option("primitivesAsString", "true")
            .option("mode", mode)
            .json(path)
        )
    elif fmt == "csv":
        df = spark.read.option("header", "true").option("mode", mode).csv(path)
    elif fmt in ("parquet", "orc"):
        from pyspark.sql import functions as F

        raw = getattr(spark.read, fmt)(path)
        df = raw.select([F.col(c).cast("string").alias(c) for c in raw.columns])
    else:
        raise ValueError(f"unsupported silver format {fmt!r}")
    return normalize_columns(df)


def validate_pk(df: DataFrame, pk: tuple[str, ...]) -> int:
    """Number of duplicated PK tuples (0 = valid)."""
    from pyspark.sql import functions as F

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
    pk = LOAD_MAP[name]
    if check_pk and pk is not None:
        dups = validate_pk(df, pk)
        if dups:
            raise PrimaryKeyViolation(
                f"silver.{name}: {dups} duplicated PK tuple(s) on {pk} "
                "(the reference's INSERT would abort here, dags:411-413)"
            )
    return df


def load_all(spark: SparkSession, bronze_dir: str) -> dict[str, DataFrame]:
    """The reference's insert_all_files (drop+reload of all 7 tables),
    the tables loaded and PK-checked concurrently. On duplicates the
    violation raised is that of the first failing table in LOAD_MAP
    order."""
    return run_each(
        spark, lambda name: load_silver_table(spark, bronze_dir, name), LOAD_MAP
    )


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
