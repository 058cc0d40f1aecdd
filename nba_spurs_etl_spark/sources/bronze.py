"""Bronze layer: entity fetchers -> JSON files.

The reference's bronze is 8 Airflow tasks pulling from the public
nba_api (or synthesizing fake data) into local JSON then MinIO
(``/root/reference/dags/spurs_historic_games.py:50-319``). Here each
fetcher is a DataFrame producer + a distributed JSON write:

- live API ingestion is driver-side by nature (HTTP) — stubbed behind
  ``fetch_live_*`` raising NotImplementedError (no network in this
  environment; the retry/backoff of the reference, dags:138-153, is a
  driver-side concern Spark task retries subsume);
- the synthetic generators (salaries/free agents/injuries,
  dags:185-285) are the seeded hash-deterministic versions in synth.py;
- the "upload to object store" step (dags:292-319) is just the write
  path prefix: pass ``s3a://bucket/spurs`` and the same code ships to
  S3/MinIO — no separate upload pass, no local staging dir coupling
  (the reference's /tmp handoff between tasks is a hidden same-host
  assumption; SURVEY §3).

``write_all`` also returns what silver needs to read the JSON back
without a schema-inference pass: each entity's schema as JSON inference
would report it (``json_schema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from .. import synth
from ..session import run_each

ENTITY_BUILDERS = {
    "teams": synth.build_teams,
    "players": synth.build_players,
    "games": synth.build_games,
    "player_stats": synth.build_player_stats,
    "salaries": synth.build_salaries,
    "free_agents": synth.build_free_agents,
    "injuries": synth.build_injuries,
}


def fetch_live_teams() -> None:
    """Live nba_api ingestion needs network access (reference dags:50-76).

    The wired live path is ``sources.pyds.NbaApiDataSource`` (register
    it and ``spark.read.format("nba_api")``): partition-per-team fetch
    with the reference's retry/backoff, transport-injectable for tests.
    This driver-side hook stays gated because the container has neither
    network nor the ``nba_api`` package."""
    raise NotImplementedError(
        "live NBA API ingestion is environment-gated; use the synth "
        "builders (deterministic fixtures) or register "
        "sources.pyds.NbaApiDataSource for the live partition-per-team "
        "scan."
    )


def json_schema(df: DataFrame) -> StructType:
    """The schema Spark's all-string JSON inference (``primitivesAsString``)
    reports for the files a flat ``df`` wrote: every field a nullable
    string, the fields sorted by name. Reading with it skips that
    inference pass and leaves the frame, and so every query over it,
    as inference would."""
    names = sorted(f.name for f in df.schema)
    return StructType([StructField(n, StringType()) for n in names])


def _save(df: DataFrame, path: str, fmt: str) -> None:
    w = df.write.mode("overwrite")
    if fmt == "json":
        w.json(path)
    elif fmt == "csv":
        w.option("header", "true").csv(path)
    elif fmt == "parquet":
        w.parquet(path)
    elif fmt == "orc":
        w.orc(path)
    else:
        raise ValueError(f"unsupported bronze format {fmt!r}")


def write_entity(
    spark: SparkSession, name: str, out_dir: str, fmt: str = "json"
) -> str:
    """Materialize one bronze entity under out_dir/name (json default;
    csv/parquet/orc supported — same formats silver.read_entity accepts).

    Distributed write (one file per partition) — at scale this IS the
    object-store upload; mode=overwrite matches the reference's
    drop-and-replace refresh (dags:437-440).
    """
    if name not in ENTITY_BUILDERS:
        raise KeyError(f"unknown bronze entity {name!r}")
    path = os.path.join(out_dir, name)
    _save(ENTITY_BUILDERS[name](spark), path, fmt)
    return path


def write_all(spark: SparkSession, out_dir: str) -> dict[str, StructType]:
    """The 8-task bronze group as one stage: its 7 JSON writes run
    concurrently (dependencies are data-free in the reference — its
    chain is an artifact of Airflow workers sharing /tmp, not of the
    data flow), and the stage ends when the last write has.

    Returns each entity's ``json_schema``, keyed by entity, for
    ``silver.load_all`` to read the JSON under out_dir/<entity> with."""

    def write(name: str) -> StructType:
        df = ENTITY_BUILDERS[name](spark)
        _save(df, os.path.join(out_dir, name), "json")
        return json_schema(df)

    return run_each(spark, write, ENTITY_BUILDERS)
