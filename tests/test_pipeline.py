"""End-to-end pipeline: bronze JSON -> silver -> gold -> quality.

The JSON round-trip must be lossless (all-string columns), silver PK
validation must behave like the reference's INSERT (raise on dup), and
the pipeline's gold must equal gold computed directly on synth silver.
"""

from __future__ import annotations

import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from nba_spurs_etl_spark import quality, synth
from nba_spurs_etl_spark.normalize import normalize_columns, project_to_schema
from nba_spurs_etl_spark.pipeline import run_pipeline
from nba_spurs_etl_spark.plans import gold
from nba_spurs_etl_spark.sources import bronze, silver
from nba_spurs_etl_spark.sources.silver import PrimaryKeyViolation, validate_pk


def _ms(df):
    return Counter(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def gold_tables(spark):
    with tempfile.TemporaryDirectory() as work:
        yield run_pipeline(spark, work, materialize_gold=False)


def test_pipeline_gold_matches_direct(spark, gold_tables):
    direct = gold.build_all(synth.build_silver(spark))
    for name in direct:
        assert _ms(gold_tables[name]) == _ms(direct[name]), name


def test_pipeline_quality_green(gold_tables):
    results = quality.run_checks(gold_tables)
    assert len(results) == 12
    assert all(v == 0 for v in results.values())


def test_quality_catches_bad_values(spark, gold_tables):
    broken = dict(gold_tables)
    broken["home_vs_away"] = gold_tables["home_vs_away"].withColumn(
        "location", F.lit("Neutral")
    )
    with pytest.raises(quality.QualityError, match="home_vs_away.location"):
        quality.run_checks(broken)


#: run_pipeline's stages, wrapped where run_pipeline looks them up
STAGES = (
    (bronze, "write_all"),
    (silver, "load_all"),
    (silver, "save_warehouse"),
    (gold, "build_all"),
    (quality, "run_checks"),
)

#: Spark jobs per stage of a materialized run_pipeline. "run_pipeline"
#: holds the jobs no stage claims: the 6 gold writes. load_all reads
#: with the schemas bronze handed over (no inference job) and checks
#: every PK in one action.
JOB_BUDGET = {
    "write_all": 7,
    "load_all": 2,
    "save_warehouse": 7,
    "build_all": 0,
    "run_checks": 0,
    "run_pipeline": 26,
}


def _run_materialized(spark, work, build_all=None):
    """run_pipeline with gold written to Parquet, optionally through a
    replacement for gold.build_all. The call and each of its stages run
    under a job group of their own. Also returns what each returned,
    the Spark job ids of each group, and the job group each left
    behind in the calling thread."""
    sc = spark.sparkContext
    seen = {"returned": {}, "groups": {}, "left": {}, "jobs": {}}

    def grouped(name, fn):
        def call(*args, **kwargs):
            group = seen["groups"][name] = f"test-{name}-{id(seen)}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
            try:
                seen["returned"][name] = fn(*args, **kwargs)
                seen["left"][name] = sc.getLocalProperty("spark.jobGroup.id")
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            return seen["returned"][name]

        return call

    with pytest.MonkeyPatch.context() as mp:
        if build_all is not None:
            mp.setattr(gold, "build_all", build_all)
        for mod, attr in STAGES:
            mp.setattr(mod, attr, grouped(attr, getattr(mod, attr)))
        out = grouped("run_pipeline", run_pipeline)(
            spark, work, materialize_gold=True
        )
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    for name, group in seen["groups"].items():
        seen["jobs"][name] = list(sc.statusTracker().getJobIdsForGroup(group))
    return out, seen


@pytest.fixture(scope="module")
def materialized(spark):
    with tempfile.TemporaryDirectory() as work:
        out, seen = _run_materialized(spark, work)
        seen["work"] = work
        written = {
            name: spark.read.parquet(f"{work}/gold/{name}") for name in out
        }
        yield written, seen


def test_materialized_gold_matches_lazy(gold_tables, materialized):
    written, seen = materialized
    assert set(written) == set(gold_tables)
    for name, df in written.items():
        assert _ms(df) == _ms(gold_tables[name]), name
    results = seen["returned"]["run_checks"]
    assert [c.name for c in quality.GOLD_CHECKS] == list(results)
    assert all(v == 0 for v in results.values())


def test_materialized_quality_launches_no_jobs(materialized):
    """The checks ride the gold writes as observed aggregates: reading
    them back is a zero-job budget for quality.run_checks."""
    _written, seen = materialized
    assert seen["jobs"]["run_checks"] == []


def test_materialized_pipeline_job_budget(materialized):
    """Every stage launches exactly its budget of Spark jobs, each in
    the job group of the thread that called the stage: the tables of a
    stage run on worker threads, which inherit the caller's job group.
    Each stage leaves its caller's job group as it was."""
    _written, seen = materialized
    assert {k: len(v) for k, v in seen["jobs"].items()} == JOB_BUDGET
    assert seen["left"] == seen["groups"]


def test_materialized_layers_hold_one_file_per_table(materialized):
    """The fixture tables are generated as one slice each, so every
    bronze and silver table is one data file (games: in its one season
    partition), not one per core."""
    import os

    _written, seen = materialized
    for layer in ("bronze", "silver"):
        for name in silver.LOAD_MAP:
            parts = [
                f
                for _base, _dirs, files in os.walk(f"{seen['work']}/{layer}/{name}")
                for f in files
                if f.startswith("part-")
            ]
            assert len(parts) == 1, (layer, name, parts)


def test_schema_handoff_equals_inference(spark, materialized):
    """The schemas bronze hands silver equal what JSON inference reports
    for the files it wrote, and gold's persisted-silver reads with the
    schema silver wrote equal the footer-inferred ones: games keeps
    season last, as its partition column."""
    _written, seen = materialized
    work = seen["work"]
    schemas = seen["returned"]["write_all"]
    assert set(schemas) == set(silver.LOAD_MAP)
    for name, schema in schemas.items():
        inferred = spark.read.option("primitivesAsString", "true").json(
            f"{work}/bronze/{name}"
        )
        assert schema == inferred.schema, name
    inferring = silver.load_all(spark, f"{work}/bronze")  # no schemas given
    read = {}
    for name, df in seen["returned"]["load_all"].items():
        assert df.schema == inferring[name].schema, name
        path = f"{work}/silver/{name}"
        read[name] = spark.read.schema(df.schema).parquet(path).schema
        assert read[name] == spark.read.parquet(path).schema, name
    assert read["games"].names[-1] == "season"


def test_explicit_schema_json_load(spark, tmp_path):
    """Bronze JSON read through the schema path. Under PERMISSIVE a
    corrupt line is an all-NULL row and no _corrupt_record column
    appears; a field NULL in every record (the JSON writer omits it)
    stays an all-NULL column, where inference drops it."""
    from nba_spurs_etl_spark.sources.bronze import json_schema
    from nba_spurs_etl_spark.sources.silver import read_entity

    p = tmp_path / "ent"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"id": "1", "name": "ok"}\n'
        "THIS IS NOT JSON\n"
        '{"id": "2", "name": "also ok"}\n'
    )
    schema = json_schema(spark.createDataFrame([], "name string, id string"))
    perm = read_entity(spark, str(p), schema=schema)
    assert perm.columns == ["id", "name"]
    assert sorted(perm.collect(), key=str) == sorted(
        [("1", "ok"), (None, None), ("2", "also ok")], key=str
    )

    df = spark.createDataFrame([("1", None), ("2", None)], "id string, note string")
    df.write.json(str(tmp_path / "sparse"))
    assert read_entity(spark, str(tmp_path / "sparse")).columns == ["id"]
    kept = read_entity(spark, str(tmp_path / "sparse"), schema=json_schema(df))
    assert kept.columns == ["id", "note"]
    assert sorted(tuple(r) for r in kept.collect()) == [("1", None), ("2", None)]
    with pytest.raises(ValueError, match="explicit schema"):
        read_entity(spark, str(p), fmt="csv", schema=schema)


def test_materialized_quality_catches_bad_values(spark):
    real_build = gold.build_all

    def neutral(silver):
        out = real_build(silver)
        out["home_vs_away"] = out["home_vs_away"].withColumn(
            "location", F.lit("Neutral")
        )
        return out

    with tempfile.TemporaryDirectory() as work:
        with pytest.raises(quality.QualityError, match="home_vs_away.location"):
            _run_materialized(spark, work, build_all=neutral)


def test_materialized_quality_on_empty_gold(spark):
    """Empty gold inputs still fire every Observation: the run returns
    with all-zero counts instead of blocking in Observation.get."""
    import threading

    real_build = gold.build_all

    def empty(silver):
        return real_build({k: v.limit(0) for k, v in silver.items()})

    box = {}

    def target(work):
        try:
            box["out"] = _run_materialized(spark, work, build_all=empty)
        except Exception as e:  # re-raised in the test thread below
            box["err"] = e

    with tempfile.TemporaryDirectory() as work:
        t = threading.Thread(target=target, args=(work,), daemon=True)
        t.start()
        t.join(timeout=300)
        assert not t.is_alive(), "run_pipeline blocked on empty gold"
    if "err" in box:
        raise box["err"]
    _out, seen = box["out"]
    results = seen["returned"]["run_checks"]
    assert len(results) == 12
    assert all(v == 0 for v in results.values())


def test_pk_validation_raises_on_duplicates(spark):
    teams = synth.build_teams(spark)
    assert validate_pk(teams, ("id",)) == 0
    dup = teams.unionByName(teams.limit(1))
    assert validate_pk(dup, ("id",)) == 1
    with pytest.raises(PrimaryKeyViolation):
        with tempfile.TemporaryDirectory() as d:
            dup.write.mode("overwrite").json(f"{d}/teams")
            silver.load_silver_table(spark, d, "teams")


def test_check_pks_one_action_first_in_load_map_order(spark):
    """check_pks counts every table's duplicated PK tuples in one action
    and raises for the first failing table in LOAD_MAP order, NULL keys
    grouping together as in validate_pk."""
    tables = synth.build_silver(spark)
    silver.check_pks(tables)
    players = tables["players"]
    salaries = tables["salaries"]
    bad = dict(
        tables,
        salaries=salaries.unionByName(salaries.limit(2)),
        players=players.unionByName(players.limit(1)),
    )
    with pytest.raises(PrimaryKeyViolation, match=r"^silver\.players: 1 "):
        silver.check_pks(bad)
    del bad["players"]
    with pytest.raises(PrimaryKeyViolation, match=r"^silver\.salaries: 2 "):
        silver.check_pks(bad)
    nulls = spark.createDataFrame([(None,), (None,), ("x",)], "id string")
    assert validate_pk(nulls, ("id",)) == 1
    with pytest.raises(PrimaryKeyViolation, match=r"^silver\.teams: 1 "):
        silver.check_pks({"teams": nulls})


def test_pipeline_pk_violation_is_deterministic(spark, tmp_path):
    """Two bronze tables with a duplicated PK: every run raises for
    silver.teams, the first of the two in LOAD_MAP order, whichever
    check finishes first. No worker thread outlives the failed stage."""
    import threading

    def duplicated(build):
        def dup(s):
            df = build(s)
            return df.unionByName(df.limit(1))

        return dup

    threads = threading.active_count()
    with pytest.MonkeyPatch.context() as mp:
        for name in ("teams", "free_agents"):
            mp.setitem(
                bronze.ENTITY_BUILDERS, name, duplicated(bronze.ENTITY_BUILDERS[name])
            )
        for i in range(3):
            with pytest.raises(PrimaryKeyViolation, match=r"^silver\.teams: 1 "):
                run_pipeline(spark, str(tmp_path / str(i)))
            assert threading.active_count() == threads


def test_normalize_first_wins_and_projection(spark):
    df = spark.createDataFrame(
        [("x", "y", "z", "2024")], ["PLAYER_ID", "Player_Id", "Name", "SEASON_YEAR"]
    )
    norm = normalize_columns(df)
    # lowercase fold collides PLAYER_ID/Player_Id -> first kept;
    # season_year renamed via the one live COLUMN_MAPPINGS entry
    assert norm.columns == ["player_id", "name", "season"]
    proj = project_to_schema(norm, ["player_id", "season", "missing_col"])
    row = proj.collect()[0]
    assert row.player_id == "x" and row.season == "2024"
    assert row.missing_col is None


def test_malformed_json_modes(spark, tmp_path):
    """One corrupt line: PERMISSIVE keeps the load alive (all-NULL
    row), DROPMALFORMED skips it, FAILFAST reproduces the reference's
    json.loads abort (dags:357)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from nba_spurs_etl_spark.sources.silver import read_entity

    p = tmp_path / "ent"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"id": "1", "name": "ok"}\n'
        "THIS IS NOT JSON\n"
        '{"id": "2", "name": "also ok"}\n'
    )
    perm = read_entity(spark, str(p), fmt="json", mode="PERMISSIVE")
    assert perm.count() == 3
    assert perm.filter("id IS NOT NULL").count() == 2
    dropm = read_entity(spark, str(p), fmt="json", mode="DROPMALFORMED")
    assert dropm.count() == 2
    with pytest.raises((Py4JJavaError, Exception)):
        read_entity(spark, str(p), fmt="json", mode="FAILFAST").collect()


def test_entity_roundtrip_format_agnostic(spark, tmp_path):
    """CSV / parquet bronze feeds must land on the identical all-string
    silver frame as the JSON path (S9 generalized): same columns, same
    string values, every column StringType."""
    from nba_spurs_etl_spark.sources.bronze import write_entity
    from nba_spurs_etl_spark.sources.silver import read_entity

    frames = {}
    for fmt in ("json", "csv", "parquet", "orc"):
        path = write_entity(spark, "teams", str(tmp_path / fmt), fmt=fmt)
        df = read_entity(spark, path, fmt=fmt)
        assert all(t == "string" for _, t in df.dtypes), df.dtypes
        frames[fmt] = {
            tuple(str(v) if v is not None else None for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        }
    assert frames["json"] == frames["csv"] == frames["parquet"]


def test_object_store_scheme_roundtrip(spark, tmp_path):
    """S8's claim is that the object-store upload IS the write path
    prefix: hand the writer a non-local URI scheme and the same code
    ships there with no separate upload pass (reference dags:292-319
    uses an explicit boto3 put per file instead).

    No MinIO in this sandbox, so the test mounts a ViewFileSystem
    cluster (``viewfs://bronzestore/``) over a scratch dir in the live
    Hadoop conf — the writes/reads then resolve the filesystem by URI
    scheme+authority through exactly the Hadoop FileSystem layer an
    ``s3a://`` path uses, which is the claim under test (s3a swaps the
    impl class, not the code path)."""
    from nba_spurs_etl_spark.sources.bronze import write_entity
    from nba_spurs_etl_spark.sources.silver import read_entity

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    link = "fs.viewfs.mounttable.bronzestore.link./store"
    hconf.set(link, f"file://{tmp_path}/backing")
    try:
        out = write_entity(spark, "teams", "viewfs://bronzestore/store")
        assert out.startswith("viewfs://"), out
        df = read_entity(spark, out, fmt="json")
        got = {
            tuple(str(v) for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        }
        local = read_entity(
            spark, write_entity(spark, "teams", str(tmp_path / "local"))
        )
        want = {
            tuple(str(v) for v in r)
            for r in local.select(*sorted(local.columns)).collect()
        }
        assert got == want and len(got) > 0
    finally:
        hconf.unset(link)


def test_python_datasource_roster_matches_synth(spark):
    """The nba_api_stub DataSource (partition-per-team fetch shape)
    must reproduce synth.build_players exactly, distributed."""
    from nba_spurs_etl_spark import synth
    from nba_spurs_etl_spark.sources.pyds import NbaApiStubDataSource

    spark.dataSource.register(NbaApiStubDataSource)
    ds = spark.read.format("nba_api_stub").load()
    assert ds.rdd.getNumPartitions() == synth.N_TEAMS
    got = {tuple(r) for r in ds.collect()}
    want = {tuple(r) for r in synth.build_players(spark).collect()}
    assert got == want


def test_live_datasource_retry_and_partitioning():
    """Live-mode reader must (a) map one partition per team, (b) retry
    each fetch with the reference's exponential backoff (tenacity
    wait_exponential min=4 max=10, stop_after_attempt(5), dags:138-141)
    and (c) shape dict(zip(headers, row)) records onto the all-string
    roster schema. Exercised with a fake transport — no network."""
    import pytest

    from nba_spurs_etl_spark.sources.pyds import (
        LiveRosterReader,
        fetch_with_retry,
    )

    calls, sleeps = [], []
    rec = {"PLAYER_ID": 42, "PLAYER": "Test Player", "POSITION": "C",
           "HEIGHT": "6-10", "WEIGHT": "250", "AGE": 30.0}

    def flaky(team_id, season):
        calls.append((team_id, season))
        if len(calls) < 3:
            raise ConnectionError("simulated 429")
        return [rec]

    reader = LiveRosterReader(
        [1610612759, 7], "2024", transport=flaky, sleep=sleeps.append
    )
    parts = reader.partitions()
    assert [p.team for p in parts] == [1610612759, 7]  # one per team

    rows = list(reader.read(parts[0]))
    assert calls == [(1610612759, "2024")] * 3  # 2 failures + success
    assert sleeps == [4.0, 8.0]  # doubling from the 4s floor
    assert rows == [("42", "Test Player", "C", "2024", "6-10", "250", "30.0")]

    # permanent failure: 5 attempts, waits capped at 10s, then raises
    sleeps.clear()

    def dead(team_id, season):
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        fetch_with_retry(dead, 1, "2024", sleep=sleeps.append)
    assert sleeps == [4.0, 8.0, 10.0, 10.0]


def test_repack_layout_equivalence(spark):
    """ensure_repacked (bench ingest step) must produce a drop-in sf_dir:
    large tables split into order-preserving per-core part-files with
    byte-identical rows, small tables + events symlinked through, and a
    second call a no-op (mtime-keyed)."""
    import os
    import time

    import pyarrow.parquet as pq

    from nba_spurs_etl_spark.sources.repack import ensure_repacked

    sf = "/root/testdata/sf0.01"
    # min_rows=1000 forces the split path for the fact tables at sf0.01
    out = ensure_repacked(sf, 8, min_rows=1000)

    # events stays a single file (streaming pathGlobFilter contract)
    ev = os.path.join(out, "events.parquet")
    assert os.path.islink(ev) and os.path.isfile(ev)

    for t in ("region", "nation", "customer", "lineitem", "orders"):
        src = os.path.join(sf, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        n_src = pq.ParquetFile(src).metadata.num_rows
        if n_src >= 1000:
            assert os.path.isdir(dst), t
            parts = [p for p in os.listdir(dst) if p.endswith(".parquet")]
            assert len(parts) > 1, t
        else:
            assert os.path.islink(dst), t
        a = spark.read.parquet(src)
        b = spark.read.parquet(dst)
        assert a.schema == b.schema, t
        assert b.count() == n_src, t
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), t

    # idempotence: second call rewrites nothing (marker mtimes stable)
    li = os.path.join(out, "lineitem.parquet")
    if os.path.isdir(li):
        before = {p: os.stat(os.path.join(li, p)).st_mtime_ns
                  for p in os.listdir(li)}
        time.sleep(0.01)
        assert ensure_repacked(sf, 8, min_rows=1000) == out
        after = {p: os.stat(os.path.join(li, p)).st_mtime_ns
                 for p in os.listdir(li)}
        assert before == after


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """Idempotent daily backfill: re-running one day's aggregation with
    partitionOverwriteMode=dynamic must replace ONLY that day's
    partition, leaving every other partition byte-identical — the
    standard INSERT OVERWRITE pattern any scheduled 100 TB pipeline
    rests on (static overwrite mode would wipe the whole table)."""
    import os

    from nba_spurs_etl_spark.sources.catalog import load_table

    out = str(tmp_path / "daily")
    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("events"))

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        daily.write.mode("overwrite").partitionBy("day").parquet(out)
        days = sorted(
            e.split("=")[1] for e in os.listdir(out) if e.startswith("day=")
        )
        assert len(days) > 1
        target, other = days[0], days[1]
        other_mtimes = {
            f: os.stat(os.path.join(out, f"day={other}", f)).st_mtime_ns
            for f in os.listdir(os.path.join(out, f"day={other}"))
            if f.endswith(".parquet")
        }
        before = spark.read.parquet(out)
        total_before = before.count()
        target_rows_before = before.filter(F.col("day") == target).count()

        # backfill the first day with CORRECTED data (halved counts)
        fixed = daily.filter(F.col("day") == target).withColumn(
            "events", (F.col("events") / 2).cast("long")
        )
        fixed.write.mode("overwrite").partitionBy("day").parquet(out)

        after = spark.read.parquet(out)
        assert after.count() == total_before  # same rows overall
        assert after.filter(F.col("day") == target).count() == target_rows_before
        # the corrected values landed
        a = {(r["event_type"], r["events"])
             for r in after.filter(F.col("day") == target).collect()}
        w = {(r["event_type"], r["events"]) for r in fixed.collect()}
        assert a == w
        # untouched partitions: same files, same mtimes
        now_mtimes = {
            f: os.stat(os.path.join(out, f"day={other}", f)).st_mtime_ns
            for f in os.listdir(os.path.join(out, f"day={other}"))
            if f.endswith(".parquet")
        }
        assert now_mtimes == other_mtimes
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")


def test_session_caches_are_weakly_keyed(spark):
    """VERDICT r03 item 4: the silver/weakness fixture caches must key
    on the session OBJECT (WeakKeyDictionary), not id(spark) — ids are
    reused after GC, so an id-keyed dict could serve a dead session's
    frames to an unrelated new one. With object keys that confusion is
    impossible: lookup is by identity, and a key the GC can reach is by
    definition still the same live session. (Entries whose value still
    references the key — cached DataFrames hold their session — are
    retained, which also pins the session alive: the id-reuse hazard
    cannot occur by construction.)"""
    from nba_spurs_etl_spark.plans import gold_fixture as gf

    s2 = spark.newSession()
    a = gf._silver(spark)
    b = gf._silver(s2)
    assert a is not b  # no crossover between live sessions
    assert spark in gf._SILVER_CACHE and s2 in gf._SILVER_CACHE
    # same session -> same cached dict (the cache actually caches)
    assert gf._silver(spark) is a
    assert gf._silver(s2) is b

    # cleanup: drop the scratch session's entry + cached frames
    for df in b.values():
        df.unpersist()
    del gf._SILVER_CACHE[s2]
    assert spark in gf._SILVER_CACHE and s2 not in gf._SILVER_CACHE


def test_load_events_nanos_layout_sniffed_and_truncated(spark, tmp_path):
    """The round-1 testdata carried TIMESTAMP(NANOS); later rounds are
    microseconds. The loader must sniff the footer and (a) read a
    nanos layout via nanosAsLong + integer-div truncation to µs, (b)
    leave the session conf UNTOUCHED for µs layouts — nanosAsLong is
    session-wide and cannot be restored after a lazy read, so it must
    only ever be set when the layout needs it."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nba_spurs_etl_spark.sources.catalog import (
        _events_ts_is_nanos,
        _load_events,
        read_footer,
    )

    # µs layout (current testdata): no sniff hit, conf untouched
    assert not _events_ts_is_nanos(
        read_footer("/root/testdata/sf0.001/events.parquet")
    )

    ts = pd.to_datetime(
        ["2024-01-01 00:00:00.123456789", "2024-01-02 00:00:00.000000001"],
        format="ISO8601",
    )
    path = os.path.join(str(tmp_path), "events.parquet")
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ts, type=pa.timestamp("ns"))}),
        path,
        version="2.6",
        coerce_timestamps=None,
    )
    assert _events_ts_is_nanos(read_footer(path))
    got = sorted(
        (r["event_id"], str(r["ts"])) for r in _load_events(spark, path).collect()
    )
    assert got == [
        (1, "2024-01-01 00:00:00.123456"),  # ns truncated to µs
        (2, "2024-01-02 00:00:00"),
    ]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_load_table_footer_schema_equals_inferred_without_jobs(spark, sf):
    """load_table reads every table with the schema of its footer: equal
    to what spark.read.parquet infers (nullability and metadata
    included, so .json() too), on the pristine single files and on the
    repacked part-file dirs, and building the read launches 0 jobs."""
    import os

    from nba_spurs_etl_spark.sources.catalog import TESTDATA_TABLES, load_table
    from nba_spurs_etl_spark.sources.repack import ensure_repacked

    from .conftest import jobs_during

    src = f"/root/testdata/{sf}"
    for d in (src, ensure_repacked(src, 8, min_rows=1000)):
        for t in TESTDATA_TABLES:
            df, jobs = jobs_during(spark, lambda: load_table(spark, d, t))
            assert jobs == 0, (d, t)
            inferred = spark.read.parquet(os.path.join(d, f"{t}.parquet")).schema
            assert df.schema == inferred, (d, t)
            assert df.schema.json() == inferred.json(), (d, t)


def test_read_parquet_falls_back_where_inference_may_differ(spark, tmp_path):
    """Unmapped footer types (decimal, nanosecond timestamps) and
    non-default inference confs read inferred; a Spark-written dir
    reads the schema its footer stores, with no job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nba_spurs_etl_spark.sources.catalog import (
        footer_schema,
        read_footer,
        read_parquet,
    )

    from .conftest import jobs_during

    dec = str(tmp_path / "dec.parquet")
    pq.write_table(
        pa.table({"d": pa.array([1, 2]).cast(pa.decimal128(25, 2))}), dec
    )
    assert footer_schema(spark, read_footer(dec)) is None
    assert read_parquet(spark, dec).schema == spark.read.parquet(dec).schema

    ns = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}),
        ns, version="2.6", coerce_timestamps=None,
    )
    assert footer_schema(spark, read_footer(ns)) is None

    plain = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"b": [b"x"], "i": pa.array([1], pa.int8())}), plain)
    assert footer_schema(spark, read_footer(plain)) is not None
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert footer_schema(spark, read_footer(plain)) is None
        assert dict(read_parquet(spark, plain).dtypes)["b"] == "string"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")

    written = str(tmp_path / "written")
    spark.sql(
        "SELECT CAST(id AS INT) AS a, array(CAST(id AS FLOAT)) AS v, "
        "named_struct('x', id) AS s, CAST(id AS DECIMAL(10, 2)) AS d "
        "FROM range(3)"
    ).write.parquet(written)
    df, jobs = jobs_during(spark, lambda: read_parquet(spark, written))
    assert jobs == 0
    assert df.schema.json() == spark.read.parquet(written).schema.json()
    assert read_footer(str(tmp_path / "missing")) is None
