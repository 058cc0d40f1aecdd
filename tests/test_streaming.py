"""Streaming correctness = batch equivalence over the same input.

Each streaming query drains the sf0.001 events parquet via an
availableNow trigger and must reproduce its batch twin exactly.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from nba_spurs_etl_spark.plans.catalog import queries
from nba_spurs_etl_spark.sources.catalog import load_table
from nba_spurs_etl_spark.streaming import (
    read_events_stream,
    run_stream_to_table,
    stream_dedup,
    stream_session_agg,
    stream_sliding_agg,
    stream_tumbling_agg,
)

from .conftest import SF_SMOKE


def _ms(df):
    return Counter(tuple(r) for r in df.collect())


def test_stream_tumbling_matches_batch(spark):
    res = run_stream_to_table(
        stream_tumbling_agg(read_events_stream(spark, SF_SMOKE)), spark
    )
    batch = queries()["events_tumbling_agg"](spark, SF_SMOKE)
    assert _ms(res) == _ms(batch)


def test_drain_leaves_no_checkpoint_behind(spark):
    """A memory-sink drain's checkpoint is never resumed, so the drain
    removes it instead of leaving it under the scratch root."""
    import os

    from nba_spurs_etl_spark.streaming import events

    res = run_stream_to_table(
        stream_tumbling_agg(read_events_stream(spark, SF_SMOKE)), spark
    )
    assert res.count() > 0
    left = [
        n for n in os.listdir(events._ckpt_root) if n.startswith("stream_sink_")
    ]
    assert left == []


def _run_script(script: str, cwd, returncode: int = 0) -> str:
    """Run ``script`` in a fresh interpreter that imports this checkout;
    its last stdout line. The interpreter must end with ``returncode``."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == returncode, out.stderr[-2000:]
    return out.stdout.strip().splitlines()[-1]


def test_drain_checkpoint_root_removed_at_exit(tmp_path):
    """The per-process drain checkpoint root goes when the process
    exits, not only the checkpoints of the drains under it."""
    import os

    root = _run_script(
        f"""
import os
from nba_spurs_etl_spark.session import get_spark
from nba_spurs_etl_spark.streaming import events
spark = get_spark("drain-root-exit", master="local[1]", shuffle_partitions=1)
df = events.stream_tumbling_agg(events.read_events_stream(spark, {SF_SMOKE!r}))
assert events.run_stream_to_table(df, spark).count() > 0
assert os.path.isdir(events._ckpt_root)
print(events._ckpt_root)
""",
        tmp_path,
    )
    assert "spark_graft_drain_ckpt_" in root
    assert not os.path.exists(root)


def test_killed_process_drain_root_swept(tmp_path):
    """A process killed after a drain leaves its root behind (no exit
    hook runs on SIGKILL); the next process's first drain removes it,
    and keeps the root of a live pid."""
    import os
    import signal

    pid, dead = _run_script(
        f"""
import os, signal
from nba_spurs_etl_spark.session import get_spark
from nba_spurs_etl_spark.streaming import events
spark = get_spark("drain-root-killed", master="local[1]", shuffle_partitions=1)
df = events.stream_tumbling_agg(events.read_events_stream(spark, {SF_SMOKE!r}))
assert events.run_stream_to_table(df, spark).count() > 0
print(os.getpid(), events._ckpt_root, flush=True)
os.kill(os.getpid(), signal.SIGKILL)
""",
        tmp_path,
        returncode=-signal.SIGKILL,
    ).split(" ", 1)
    assert os.path.basename(dead).startswith(f"spark_graft_drain_ckpt_{pid}_")
    assert os.path.isdir(dead)
    live = os.path.join(
        os.path.dirname(dead), f"spark_graft_drain_ckpt_{os.getpid()}_live"
    )
    os.makedirs(live)
    try:
        root = _run_script(
            """
from nba_spurs_etl_spark.streaming import events
events._drain_checkpoint_dir("first")
print(events._ckpt_root)
""",
            tmp_path,
        )
        assert root != dead
        assert not os.path.exists(dead)
        assert os.path.isdir(live)
    finally:
        os.rmdir(live)


def test_stream_scratch_removed_at_exit(tmp_path):
    """Each stream entry's scratch dir outlives its call (the next call
    clears it) but not the process."""
    import os

    work = _run_script(
        f"""
import os
from nba_spurs_etl_spark.plans.stream_queries import _work_dir
work = _work_dir("exit", {str(tmp_path)!r})
os.makedirs(os.path.join(work, "snap"))
open(os.path.join(work, "snap", "part-0"), "w").close()
print(work)
""",
        tmp_path,
    )
    assert "spark_stream_exit_" in work
    assert not os.path.exists(work)


def test_stream_sliding_covers_tumbling(spark):
    res = run_stream_to_table(
        stream_sliding_agg(read_events_stream(spark, SF_SMOKE)), spark
    )
    # every event lands in exactly 2 sliding windows -> total event
    # count doubles vs the input
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert res.agg(F.sum("events")).collect()[0][0] == 2 * n_events


def test_stream_session_matches_batch_islands(spark):
    res = run_stream_to_table(
        stream_session_agg(read_events_stream(spark, SF_SMOKE)), spark
    )
    batch = (
        queries()["events_sessionize"](spark, SF_SMOKE)
        .select("user_id", "session_start_us", "n_events", "session_value")
    )
    assert _ms(res.select("user_id", "session_start_us", "n_events",
                          "session_value")) == _ms(batch)


def test_stream_stream_join_matches_batch(spark):
    from nba_spurs_etl_spark.streaming.events import stream_click_purchase_join

    res = run_stream_to_table(
        stream_click_purchase_join(spark, SF_SMOKE), spark, output_mode="append"
    )
    batch = queries()["events_click_purchase_join"](spark, SF_SMOKE)
    assert _ms(res) == _ms(batch)


def test_stream_dedup_within_watermark_keeps_distinct_ids(spark):
    from nba_spurs_etl_spark.streaming.events import (
        stream_dedup_within_watermark,
    )

    res = run_stream_to_table(
        stream_dedup_within_watermark(read_events_stream(spark, SF_SMOKE)),
        spark,
        output_mode="append",
    )
    ev = load_table(spark, SF_SMOKE, "events")
    # event_ids are unique in the testdata -> dedup must be lossless
    assert res.count() == ev.count()
    assert res.select("event_id").distinct().count() == ev.count()


def test_stream_left_join_contains_inner_and_respects_batch(spark):
    """Drained LEFT OUTER stream-stream join = all inner matches + a
    watermark-cut subset of the batch left join's unmatched rows."""
    res = run_stream_to_table(
        __import__(
            "nba_spurs_etl_spark.streaming.events", fromlist=["x"]
        ).stream_click_purchase_left_join(spark, SF_SMOKE),
        spark,
        output_mode="append",
    )
    inner = queries()["events_click_purchase_join"](spark, SF_SMOKE)
    got = {tuple(r) for r in res.collect()}
    matched = {tuple(r) for r in res.filter("purchase_us IS NOT NULL").collect()}
    want_inner = {tuple(r) for r in inner.collect()}
    assert matched == want_inner  # every inner match emitted, exactly
    # every row is either a match or a null-extended click
    assert all(r[2] is not None or r[3] is None for r in got)
    # unmatched clicks are a subset of the batch left join's unmatched
    clicks = (
        load_table(spark, SF_SMOKE, "events")
        .filter("event_type = 'click'")
        .selectExpr(
            "user_id", "unix_micros(cast(ts AS timestamp)) AS click_us"
        )
    )
    batch_unmatched = {
        (r["user_id"], r["click_us"])
        for r in clicks.join(
            inner.select("user_id", "click_us").distinct(),
            ["user_id", "click_us"],
            "left_anti",
        ).collect()
    }
    stream_unmatched = {(r[0], r[1]) for r in got if r[2] is None}
    assert stream_unmatched <= batch_unmatched


def test_stream_static_enrich_matches_batch(spark):
    from nba_spurs_etl_spark.streaming.events import stream_static_enrich

    res = run_stream_to_table(
        stream_static_enrich(
            read_events_stream(spark, SF_SMOKE),
            load_table(spark, SF_SMOKE, "customer"),
        ),
        spark,
    )
    batch = queries()["events_segment_enrich"](spark, SF_SMOKE)
    assert _ms(res) == _ms(batch)


def test_stream_dedup_keeps_distinct_ids(spark):
    res = run_stream_to_table(
        stream_dedup(read_events_stream(spark, SF_SMOKE)), spark,
        output_mode="append",
    )
    n_distinct = (
        load_table(spark, SF_SMOKE, "events").select("event_id").distinct().count()
    )
    assert res.count() == n_distinct


def test_stateful_user_profile_matches_batch(spark):
    from nba_spurs_etl_spark.streaming.stateful import (
        stream_user_profile,
        user_profile_batch,
    )

    res = run_stream_to_table(
        stream_user_profile(read_events_stream(spark, SF_SMOKE)), spark,
        output_mode="update",
    )
    batch = user_profile_batch(load_table(spark, SF_SMOKE, "events"))
    # update-mode sink may emit a row per micro-batch: keep the last
    # state per user (availableNow on one file -> usually one batch)
    final = {r.user_id: (r.n_events, r.total_cents, r.ewma_value)
             for r in res.collect()}
    expect = {r.user_id: (r.n_events, r.total_cents, r.ewma_value)
              for r in batch.collect()}
    assert final == expect


def test_watermark_drops_late_data(spark, tmp_path_factory):
    """True late-data semantics across restarts: an event older than the
    checkpointed watermark must NOT be counted into its (finalized)
    window. Two availableNow runs share a checkpoint — the second run
    restores watermark state, drops the late row pre-state, and the
    closed window's count stays at 2 everywhere it is ever emitted."""
    from datetime import datetime

    base = tmp_path_factory.mktemp("late")
    src, cp, out = str(base / "src"), str(base / "cp"), str(base / "out")
    schema = "event_id long, event_type string, ts timestamp, value double"

    def run() -> set:
        agg = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .count()
            .select(
                F.col("w.start").cast("string").alias("ws"),
                "event_type",
                F.col("count").alias("n"),
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {tuple(r) for r in spark.read.parquet(out).collect()}

    rows1 = [
        (1, "c", datetime(2024, 1, 1, 10, 0, 30), 1.0),
        (2, "c", datetime(2024, 1, 1, 10, 1, 0), 1.0),
        (3, "c", datetime(2024, 1, 1, 11, 0, 0), 1.0),  # watermark -> 10:50
    ]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    out1 = run()

    rows2 = [
        (4, "c", datetime(2024, 1, 1, 10, 2, 0), 1.0),   # LATE: < 10:50
        (5, "c", datetime(2024, 1, 1, 11, 30, 0), 1.0),  # watermark -> 11:20
    ]
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
    out2 = run()

    combined = out1 | out2
    # the 10:00 window closed at watermark 10:50 with events 1+2; the
    # late event 4 must never bump it to 3 (emission timing may vary
    # between the two runs, the count may not)
    assert ("2024-01-01 10:00:00", "c", 2) in combined, combined
    assert not any(ws == "2024-01-01 10:00:00" and n != 2 for ws, _, n in combined)
    # event 3's window finalizes once event 5 pushes the watermark past 11:05
    assert ("2024-01-01 11:00:00", "c", 1) in combined, combined


def test_stream_cdc_versions_and_compaction(spark, tmp_path_factory):
    """CdcSnapshot: each micro-batch commits a NEW version (no
    overwrite-in-place), in-batch multi-op keys compact to the highest
    order_col, and the final state equals the sequential batch merges."""
    import os

    from nba_spurs_etl_spark.operators.merge import merge_cdc
    from nba_spurs_etl_spark.streaming.cdc import CdcSnapshot

    tmp = str(tmp_path_factory.mktemp("cdc_stream"))
    base = spark.createDataFrame(
        [(k, f"s{k}", float(k)) for k in range(1, 21)], ["k", "s", "v"]
    )
    # file 1: update 1-3, delete 10, insert 100; key 2 has TWO ops in
    # the same file (U then D by ts) -> compaction must keep the D
    c1 = spark.createDataFrame(
        [
            (1, 1, "U", "u1", 1.5),
            (2, 1, "U", "u2", 2.5),
            (2, 2, "D", None, None),
            (3, 1, "U", "u3", 3.5),
            (10, 1, "D", None, None),
            (100, 1, "I", "new100", 100.0),
        ],
        "k long, ts long, op string, s string, v double",
    )
    # file 2: disjoint keys -> final state independent of batch order
    c2 = spark.createDataFrame(
        [(5, 3, "U", "u5", 5.5), (11, 3, "D", None, None)],
        "k long, ts long, op string, s string, v double",
    )
    logdir = os.path.join(tmp, "log")
    c1.coalesce(1).write.mode("append").parquet(logdir)
    c2.coalesce(1).write.mode("append").parquet(logdir)

    snap = CdcSnapshot(spark, os.path.join(tmp, "snap"), ["k"], order_col="ts")
    snap.init(base)
    stream = (
        spark.readStream.schema(c1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(logdir)
    )
    q = snap.attach(stream, os.path.join(tmp, "ckpt"))
    q.awaitTermination()

    versions = snap._versions()
    assert versions[0] == 0 and len(versions) >= 3  # v0 + one per batch

    from nba_spurs_etl_spark.operators.merge import latest_by_key

    expected = merge_cdc(
        merge_cdc(base, latest_by_key(c1, ["k"], "ts").drop("ts"), ["k"]),
        latest_by_key(c2, ["k"], "ts").drop("ts"),
        ["k"],
    )
    got = {tuple(r) for r in snap.read().collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want
    assert (2, "u2", 2.5) not in got  # the in-batch D won over the U
    assert not any(r[0] in (10, 11) for r in got)

    # retention: vacuum keeps the newest version readable, drops the rest
    final = versions[-1]
    removed = snap.vacuum(keep_last=1)
    assert removed == versions[:-1]
    assert snap._versions() == [final]
    assert {tuple(r) for r in snap.read().collect()} == want


def test_stream_user_profile_tws_matches_batch(spark):
    """transformWithStateInPandas profile == ordered-agg batch twin.

    Skipped where google.protobuf is unavailable (the TWS Python
    state-server protocol requires it); the legacy
    applyInPandasWithState path stays covered either way."""
    pytest.importorskip("google.protobuf")
    from nba_spurs_etl_spark.streaming.events import run_stream_to_table
    from nba_spurs_etl_spark.streaming.stateful import (
        stream_user_profile_tws,
        user_profile_batch,
    )
    from nba_spurs_etl_spark.streaming import read_events_stream

    res = run_stream_to_table(
        stream_user_profile_tws(read_events_stream(spark, SF_SMOKE)),
        spark,
        output_mode="update",
        state_partitions=8,
        extra_conf={
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
        },
    )
    got = {tuple(r) for r in res.collect()}
    want = {
        tuple(r)
        for r in user_profile_batch(
            load_table(spark, SF_SMOKE, "events")
        ).collect()
    }
    assert got == want


def test_stream_file_sink_exactly_once(spark, tmp_path_factory):
    """The production sink shape: append-mode windowed agg into a
    PARQUET file sink with a checkpoint. Two invariants: (a) every
    emitted window matches the batch recomputation exactly (file sink
    is append-only, so only watermark-closed windows surface), and
    (b) re-running the drain against the SAME checkpoint emits nothing
    new — the checkpoint's commit log is what makes the file sink
    exactly-once across retries."""
    from nba_spurs_etl_spark.streaming.events import (
        read_events_stream,
        stream_tumbling_agg,
    )

    out_dir = str(tmp_path_factory.mktemp("file_sink_out"))
    ckpt = str(tmp_path_factory.mktemp("file_sink_ckpt"))

    def drain():
        q = (
            stream_tumbling_agg(read_events_stream(spark, SF_SMOKE))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    emitted = spark.read.parquet(out_dir)
    batch = queries()["events_tumbling_agg"](spark, SF_SMOKE)
    batch_rows = {
        tuple(str(v) for v in r)
        for r in batch.select(*sorted(batch.columns)).collect()
    }
    got = {
        tuple(str(v) for v in r)
        for r in emitted.select(*sorted(emitted.columns)).collect()
    }
    # append mode withholds windows not yet closed by the final
    # watermark: emitted must be a NON-EMPTY exact subset of batch
    assert got and got <= batch_rows, (len(got), len(batch_rows))
    n_first = emitted.count()

    drain()  # same checkpoint: no new input -> no new files
    assert spark.read.parquet(out_dir).count() == n_first


def test_stream_scd2_multi_batch_convergence(spark, tmp_path_factory):
    """The streaming SCD2 apply must (a) actually run >= 2 micro-batches
    (one per time-split file), (b) close intervals across the batch
    boundary — a key whose versions straddle the split gets its batch-1
    open row closed by a batch-2 change — and (c) converge to the batch
    build."""
    import os

    import glob

    from nba_spurs_etl_spark.functions.scalar import epoch_us
    from nba_spurs_etl_spark.streaming.scd2 import (
        Scd2Snapshot,
        stamp_file_order,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "value", epoch_us("ts").alias("us"), "event_id"
    )
    mn, mx = ev.agg(F.min("us"), F.max("us")).first()
    mid = (mn + mx) // 2
    work = str(tmp_path_factory.mktemp("scd2_stream"))
    logdir = os.path.join(work, "log")
    ev.filter(F.col("us") < mid).coalesce(1).write.mode("append").parquet(logdir)
    first = set(glob.glob(os.path.join(logdir, "*.parquet")))
    ev.filter(F.col("us") >= mid).coalesce(1).write.mode("append").parquet(logdir)
    second = set(glob.glob(os.path.join(logdir, "*.parquet"))) - first
    stamp_file_order([sorted(first), sorted(second)])

    snap = Scd2Snapshot(spark, os.path.join(work, "snap"), key="user_id")
    snap.init_empty()
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(logdir)
    )
    snap.attach(stream, os.path.join(work, "ckpt")).awaitTermination()

    # (a) one snapshot version per applied micro-batch, plus v0
    assert len(snap._versions()) == 3

    got = sorted(tuple(r) for r in snap.intervals().collect())
    want = sorted(
        tuple(r) for r in queries()["events_scd2_intervals"](spark, SF_SMOKE).collect()
    )
    assert got == want

    # (b) at least one straddling key: closed interval ending >= mid
    # with from < mid proves a batch-2 change closed a batch-1 open row
    straddle = (
        snap.intervals()
        .filter(
            (F.col("effective_from_us") < mid)
            & (F.col("effective_to_us") >= mid)
        )
        .count()
    )
    assert straddle > 0


def test_stream_incremental_agg_multi_batch(spark, tmp_path_factory):
    """The streaming agg-state maintenance must apply >= 2 micro-batches
    (one per changelog file) and converge to the direct aggregation of
    the post-changelog set — including dropping fully retracted keys."""
    import os

    from nba_spurs_etl_spark.streaming.incremental import AggStateSnapshot

    base = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 5.0), ("c", 4, 1.0)],
        ["k", "rid", "amt"],
    )
    chg = spark.createDataFrame(
        [("a", 5, 30.0, 1), ("b", 3, 5.0, -1), ("d", 6, 7.0, 1)],
        ["k", "rid", "amt", "sign"],
    )
    work = str(tmp_path_factory.mktemp("incr_stream"))
    logdir = os.path.join(work, "log")
    chg.filter(F.col("rid") % 2 == 0).coalesce(1).write.mode("append").parquet(logdir)
    chg.filter(F.col("rid") % 2 != 0).coalesce(1).write.mode("append").parquet(logdir)

    snap = AggStateSnapshot(
        spark, os.path.join(work, "snap"), keys=["k"], amount="amt", sign="sign"
    )
    snap.init_from(base)
    stream = (
        spark.readStream.schema(chg.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(logdir)
    )
    snap.attach(stream, os.path.join(work, "ckpt")).awaitTermination()

    assert len(snap._versions()) == 3  # v0 + one per micro-batch
    got = {r.k: (r.n_rows, r.sum_amount) for r in snap.result().collect()}
    assert got == {"a": (3, 60.0), "c": (1, 1.0), "d": (1, 7.0)}  # b retracted


def test_python_stream_source_exactly_once_and_restart(spark, tmp_path_factory):
    """The custom offset-tracked Python streaming source (nba_game_feed,
    sources/pyds.py) must deliver every (team, day) game exactly once,
    in bounded micro-batches, and a checkpoint restart must resume from
    the committed day without re-reading history."""
    import time as _time

    from nba_spurs_etl_spark.sources.pyds import GameFeedDataSource, feed_rows

    spark.dataSource.register(GameFeedDataSource)
    ckpt = str(tmp_path_factory.mktemp("feed_ckpt"))
    out_dir = str(tmp_path_factory.mktemp("feed_out"))

    def run_until(expected_rows: int, timeout: float = 90.0):
        q = (
            spark.readStream.format("nba_game_feed")
            .option("teams", "3")
            .option("days_per_batch", "4")
            .option("max_day", "10")
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = _time.time() + timeout
            while _time.time() < deadline:
                try:
                    if spark.read.parquet(out_dir).count() >= expected_rows:
                        break
                except Exception:
                    pass  # sink dir not yet initialized
                _time.sleep(0.5)
        finally:
            q.stop()

    run_until(3 * 10)
    got = [
        (r["team_id"], r["day"], r["game_id"], r["points"], r["won"])
        for r in spark.read.parquet(out_dir).collect()
    ]
    want = [feed_rows(t, d)[0] for t in range(3) for d in range(10)]
    assert Counter(got) == Counter(want)  # every game EXACTLY once

    # restart from the same checkpoint: committed offset = day 10 =
    # max_day, so a second run must add NOTHING (no refetch of history)
    run_until(3 * 10 + 1, timeout=8.0)
    assert spark.read.parquet(out_dir).count() == 3 * 10


def test_stream_lsh_dedup_multi_batch_and_retry(spark, tmp_path_factory):
    """Streaming LSH dedup over 3 micro-batches must equal the batch
    full-corpus pairs (every unordered pair exactly once, found in the
    later doc's batch via the growing index), and a foreachBatch RETRY
    must not duplicate pairs (bid-partitioned overwrite sinks)."""
    import os

    from nba_spurs_etl_spark.operators.dedup import minhash_lsh_pairs
    from nba_spurs_etl_spark.streaming.dedup_stream import StreamingLshDedup

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    # 3 deterministic files -> 3 micro-batches (maxFilesPerTrigger=1)
    src = str(tmp_path_factory.mktemp("docs_feed"))
    for part in range(3):
        (docs.filter(F.col("doc_id") % 3 == part).coalesce(1)
             .write.mode("append").parquet(src))
    work = str(tmp_path_factory.mktemp("lsh_work"))
    dd = StreamingLshDedup(spark, work)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    dd.attach(stream, os.path.join(work, "ckpt")).awaitTermination()

    got = {(r["doc_a"], r["doc_b"]) for r in dd.pairs().collect()}
    want = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert got == want and want  # non-trivial corpus
    # exactly-once across batches: no pair appears under two bids
    per_bid = dd.spark.read.parquet(dd.pairs_dir).select(
        "doc_a", "doc_b"
    ).count()
    assert per_bid == len(got)
    # cross-batch pairs actually exercised the index path
    assert dd.pairs().filter("src = 'cross'").count() > 0
    assert dd.pairs().filter("src = 'new'").count() > 0

    # simulate an engine retry of the LAST micro-batch: re-apply the
    # same batch_id with the same data -> output unchanged
    bids = sorted(
        int(e.split("=")[1])
        for e in os.listdir(dd.pairs_dir) if e.startswith("bid=")
    )
    last = bids[-1]
    last_batch = docs.filter(F.col("doc_id") % 3 == 2)
    # scenario A: retry AFTER the index write landed — apply_batch must
    # not see its own bands (bid exclusion), else every intra pair of
    # the batch would re-emit as a 'cross' duplicate
    dd.apply_batch(last_batch, last)
    again = {(r["doc_a"], r["doc_b"]) for r in dd.pairs().collect()}
    assert again == got
    assert dd.spark.read.parquet(dd.pairs_dir).count() == len(got)
    # scenario B: retry BEFORE the index write landed
    import shutil
    shutil.rmtree(os.path.join(dd.index_dir, f"bid={last}"))
    dd.apply_batch(last_batch, last)
    again = {(r["doc_a"], r["doc_b"]) for r in dd.pairs().collect()}
    assert again == got
    assert dd.spark.read.parquet(dd.pairs_dir).count() == len(got)


def test_streaming_novelty_multi_batch_and_retry(spark, tmp_path):
    """The growing-index contract: batch k scores against the seeded
    reference PLUS all earlier batches' grams (checked against the
    batch operator applied cumulatively), and a foreachBatch RETRY of
    the same bid neither double-counts its own grams nor duplicates
    sink rows."""
    from nba_spurs_etl_spark.operators.curation import ngram_novelty
    from nba_spurs_etl_spark.streaming.novelty import StreamingNovelty

    ref = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    batches = [
        spark.createDataFrame(
            [(1, "the quick brown fox jumps high"),
             (2, "completely fresh words arrive here")],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(3, "completely fresh words arrive here too"),  # overlaps b0
             (4, "short one")],                              # no 3-grams
            "doc_id long, text string",
        ),
    ]

    nv = StreamingNovelty(spark, str(tmp_path / "nv"))
    nv.seed(ref)
    nv.apply_batch(batches[0], 0)
    nv.apply_batch(batches[1], 1)
    got = {r["doc"]: r for r in nv.scores().collect()}

    # model: batch k vs reference + union of earlier batches
    want = {}
    seen = ref
    for b in batches:
        for r in ngram_novelty(b, seen, "doc_id", "text").collect():
            want[r["doc"]] = r
        seen = seen.unionByName(b)
    assert set(got) == set(want)
    for doc in want:
        for c in ("n_grams", "known_grams", "novelty"):
            assert got[doc][c] == want[doc][c], (doc, c, got[doc], want[doc])
    # doc 3 overlaps batch 0's doc 2 -> partially known; doc 4 gramless
    assert 0.0 < got[3]["novelty"] < 1.0
    assert got[4]["novelty"] is None

    # retry of bid=1: same result, no duplicate rows, self-grams excluded
    nv.apply_batch(batches[1], 1)
    retried = {r["doc"]: r for r in nv.scores().collect()}
    assert len(nv.scores().collect()) == 4
    for doc in want:
        assert retried[doc]["novelty"] == want[doc]["novelty"]


def test_streaming_markov_multi_batch_boundary_and_retry(spark, tmp_path):
    """The frontier contract: splitting one event log into time-ordered
    micro-batches yields EXACTLY the batch operator's transition
    counts — boundary pairs (last event of batch k -> first of batch
    k+1) come from the frontier state, and a foreachBatch retry of a
    bid neither double-counts deltas nor stacks a phantom frontier
    version."""
    from nba_spurs_etl_spark.streaming.markov import StreamingMarkov

    # one user with a gap > 30 min inside batch 1, another spanning
    # the batch boundary; a third user only in batch 0
    rows = [
        # (event_id, user, type, us)
        (1, 1, "a", 1_000_000),
        (2, 1, "b", 2_000_000),          # a->b in-batch
        (3, 2, "x", 5_000_000),
        (4, 1, "c", 10_000_000),         # boundary pair b->c (batch 1)
        (5, 2, "y", 4_000_000_000),      # boundary x->y BUT gap > 30min
        (6, 2, "z", 4_001_000_000),      # y->z in-batch
    ]
    schema = "event_id bigint, user_id bigint, event_type string, us bigint"
    b0 = spark.createDataFrame([r for r in rows if r[0] <= 3], schema).select(
        "user_id", "us", "event_id", "event_type"
    )
    b1 = spark.createDataFrame([r for r in rows if r[0] > 3], schema).select(
        "user_id", "us", "event_id", "event_type"
    )

    mk = StreamingMarkov(spark, str(tmp_path / "mk"))
    mk.seed_empty()
    mk.apply_batch(b0, 0)
    mk.apply_batch(b1, 1)
    mk.apply_batch(b1, 1)  # retry: overwrites bid=1 delta AND frontier v2
    got = {
        (r["src_type"], r["dst_type"]): (r["n"], r["p"])
        for r in mk.result().collect()
    }
    assert got == {
        ("a", "b"): (1, 1.0),
        ("b", "c"): (1, 1.0),   # the boundary pair
        ("y", "z"): (1, 1.0),   # x->y dropped: gap > 30 min
    }

    # batch-equivalence on the full log (single-batch fold)
    mk2 = StreamingMarkov(spark, str(tmp_path / "mk2"))
    mk2.seed_empty()
    mk2.apply_batch(b0.unionByName(b1), 0)
    got2 = {
        (r["src_type"], r["dst_type"]): (r["n"], r["p"])
        for r in mk2.result().collect()
    }
    assert got2 == got


def test_streaming_markov_vacuum_retains_retry_window(spark, tmp_path):
    """vacuum(keep_last=2) drops old frontier versions but keeps the
    one a retry of the latest batch would re-read; results unchanged."""
    from nba_spurs_etl_spark.streaming.markov import StreamingMarkov

    schema = "user_id bigint, us bigint, event_id bigint, event_type string"
    mk = StreamingMarkov(spark, str(tmp_path / "mk"))
    mk.seed_empty()
    for k in range(4):
        b = spark.createDataFrame(
            [(1, 1_000_000 * (k + 1), k, "ab"[k % 2])], schema
        )
        mk.apply_batch(b, k)
    before = sorted(tuple(r) for r in mk.result().collect())
    dropped = mk.vacuum(keep_last=2)
    assert dropped == [0, 1, 2]
    # retry of the latest batch still works (reads v3, writes v4)
    mk.apply_batch(
        spark.createDataFrame([(1, 4_000_000, 3, "b")], schema), 3
    )
    assert sorted(tuple(r) for r in mk.result().collect()) == before


def test_agg_state_snapshot_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a re-run of batch k with the same
    batch_id (driver died between snapshot commit and checkpoint
    commit) must NOT double-merge the additive delta. The deterministic
    version = batch_id + 1 scheme re-reads the untouched input version
    and overwrites — state after the retry equals state after one
    application."""
    import os

    from nba_spurs_etl_spark.streaming.incremental import AggStateSnapshot

    base = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 5.0)], ["k", "rid", "amt"]
    )
    batch = spark.createDataFrame(
        [("a", 3, 30.0, 1), ("c", 4, 7.0, 1)], ["k", "rid", "amt", "sign"]
    )
    snap = AggStateSnapshot(
        spark, os.path.join(str(tmp_path), "snap"), keys=["k"],
        amount="amt", sign="sign",
    )
    snap.init_from(base)
    snap.apply_batch(batch, 0)
    once = {r.k: (r.n_rows, r.sum_amount) for r in snap.result().collect()}
    assert once == {"a": (2, 40.0), "b": (1, 5.0), "c": (1, 7.0)}
    snap.apply_batch(batch, 0)  # the retry
    assert {
        r.k: (r.n_rows, r.sum_amount) for r in snap.result().collect()
    } == once
    assert snap._versions() == [0, 1]  # overwrote v1, no phantom v2


def test_scd2_snapshot_retry_is_idempotent(spark, tmp_path):
    """Retrying an SCD2 batch with the same batch_id must not duplicate
    versions or emit zero-length intervals — the interval rebuild is
    not idempotent against the already-applied snapshot, so the apply
    must re-read the untouched version <= batch_id."""
    import os

    from pyspark.sql import types as T

    from nba_spurs_etl_spark.streaming.scd2 import Scd2Snapshot

    snap = Scd2Snapshot(
        spark, os.path.join(str(tmp_path), "snap"), key="user_id"
    )
    snap.init_empty()
    batch = spark.createDataFrame(
        [(1, 10.0, 1_000_000, 100), (1, 20.0, 2_000_000, 101)],
        T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("us", T.LongType()),
                T.StructField("event_id", T.LongType()),
            ]
        ),
    )
    snap.apply_batch(batch, 0)
    once = sorted(tuple(r) for r in snap.intervals().collect())
    assert [r[1] for r in once] == [1, 2]  # versions 1, 2 exactly once
    snap.apply_batch(batch, 0)  # the retry
    again = sorted(tuple(r) for r in snap.intervals().collect())
    assert again == once
    assert snap._versions() == [0, 1]


def test_cdc_snapshot_keeps_order_col_when_snapshot_carries_it(
    spark, tmp_path
):
    """A snapshot whose schema includes the ordering column (the
    natural 'last updated at' layout) must not have that column
    dropped from the changelog — merge_cdc selects every snapshot
    column from the changelog side."""
    import os

    from nba_spurs_etl_spark.streaming.cdc import CdcSnapshot

    base = spark.createDataFrame(
        [(1, "x", 100)], ["k", "val", "updated_at"]
    )
    snap = CdcSnapshot(
        spark, os.path.join(str(tmp_path), "snap"), keys=["k"],
        order_col="updated_at",
    )
    snap.init(base)
    batch = spark.createDataFrame(
        [(1, "y", 200, "U"), (2, "z", 150, "I")],
        ["k", "val", "updated_at", "op"],
    )
    snap.apply_batch(batch, 0)
    got = {r.k: (r.val, r.updated_at) for r in snap.read().collect()}
    assert got == {1: ("y", 200), 2: ("z", 150)}


def test_stateful_profile_negative_value_rounding(spark):
    """cents rounding is floor(v*100 + 0.5) in ALL THREE profile
    implementations. A bare int() truncates toward zero and diverges
    on negative values (int(-1.1) = -1 vs floor(-1.1) = -2) — pinned
    here by driving the applyInPandasWithState update_fn directly with
    a fake GroupState and comparing against the batch twin."""
    import math

    import pandas as pd

    from nba_spurs_etl_spark.streaming.stateful import (
        _make_update_fn,
        user_profile_batch,
    )

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, t):
            self.stored = t

    st = FakeState()
    rows = pd.DataFrame(
        {
            "user_id": [7, 7, 7],
            "event_id": [1, 2, 3],
            "us": [1, 2, 3],
            "value": [-0.016, 1.25, -2.5],
        }
    )
    out = list(_make_update_fn(None)((7,), iter([rows]), st))[0]
    stream_cents = int(out["total_cents"].iloc[0])
    # ground truth, arbitrary precision
    expect = sum(math.floor(v * 100 + 0.5) for v in [-0.016, 1.25, -2.5])
    assert stream_cents == expect  # -2 + 126 + -250 = -126, not -125

    ev = spark.createDataFrame(
        [(7, 1, -0.016, "t", "2024-01-01 00:00:01"),
         (7, 2, 1.25, "t", "2024-01-01 00:00:02"),
         (7, 3, -2.5, "t", "2024-01-01 00:00:03")],
        ["user_id", "event_id", "value", "event_type", "ts_s"],
    ).select(
        "user_id", "event_id", "value", "event_type",
        F.to_timestamp("ts_s").alias("ts"),
    )
    batch_cents = user_profile_batch(ev).collect()[0]["total_cents"]
    assert batch_cents == expect


def test_mg_snapshot_multibatch_bound_and_retry(spark, tmp_path):
    """Multi-batch MG merges keep the published bound (est <= true <=
    est + err; dropped keys have true <= err), state stays <= m keys
    per group, a foreachBatch retry does not double-count, and the
    single-batch fold equals the batch operator."""
    import random

    from nba_spurs_etl_spark.operators.heavyhitters import mg_heavy_hitters
    from nba_spurs_etl_spark.streaming.heavyhitters import MGSnapshot

    rng = random.Random(8)
    # zipf-ish: key k appears ~60/k times, across two event types
    rows = []
    for et in ("a", "b"):
        for k in range(1, 25):
            rows += [(et, k)] * max(1, 60 // k)
    rng.shuffle(rows)
    schema = "event_type string, user_id bigint"
    m = 4
    cut = len(rows) // 3
    batches = [
        spark.createDataFrame(rows[:cut], schema),
        spark.createDataFrame(rows[cut : 2 * cut], schema),
        spark.createDataFrame(rows[2 * cut :], schema),
    ]

    snap = MGSnapshot(spark, str(tmp_path / "mg"), "event_type", "user_id", m)
    snap.seed_empty(batches[0])
    for bid, b in enumerate(batches):
        snap.apply_batch(b, bid)
    snap.apply_batch(batches[2], 2)  # retry: overwrites v3, no stacking
    got = snap.result().collect()

    true = Counter(rows)
    kept = {(r["event_type"], r["user_id"]) for r in got}
    per_group = Counter(r["event_type"] for r in got)
    assert all(n <= m for n in per_group.values())
    for r in got:
        t = true[(r["event_type"], r["user_id"])]
        assert r["est_count"] <= t <= r["est_count"] + r["err_bound"], r
    errs = {r["event_type"]: r["err_bound"] for r in got}
    for (et, k), t in true.items():
        if (et, k) not in kept:
            assert t <= errs[et], (et, k, t, errs[et])
        if t > errs[et]:
            assert (et, k) in kept, (et, k, t, errs[et])

    # single-batch fold == batch operator (the shared-oracle contract)
    allb = batches[0].unionByName(batches[1]).unionByName(batches[2])
    snap1 = MGSnapshot(spark, str(tmp_path / "mg1"), "event_type", "user_id", m)
    snap1.seed_empty(allb)
    snap1.apply_batch(allb, 0)
    a = sorted(tuple(r) for r in snap1.result().collect())
    b = sorted(
        tuple(r)
        for r in mg_heavy_hitters(allb, "event_type", "user_id", m).collect()
    )
    assert a == b
