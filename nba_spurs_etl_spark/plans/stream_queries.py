"""Catalog registration: Structured Streaming queries (rows-only).

No DuckDB oracle — a streaming drain is not SQL-expressible — so the
driver records the weaker rows-only check here. Full correctness is
covered by batch-equivalence tests (tests/test_streaming.py): each
query's result is asserted equal to its batch twin, which IS
oracle-checked (events_tumbling_agg / events_sessionize).
"""

from __future__ import annotations

import atexit
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ..streaming import (
    read_events_stream,
    run_stream_to_table,
    stream_dedup,
    stream_session_agg,
    stream_sliding_agg,
    stream_tumbling_agg,
)
from .registry import register, registry

#: every scratch dir ``_work_dir`` has handed out in this process
_WORK_DIRS: set[str] = set()


@atexit.register
def _remove_work_dirs() -> None:
    for d in _WORK_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _work_dir(tag: str, sf_dir: str) -> str:
    """Deterministic scratch dir per (query, source dir), CLEARED on
    each invocation: mkdtemp here leaked one changelog/snapshot/index
    copy per invocation (bench + parity re-run these entries many
    times per round), growing /tmp without bound. The last copy of
    each goes at process exit.

    On tmpfs (/dev/shm) where available (r11): the changelog files,
    versioned snapshot parquets, and stream checkpoints these entries
    write are EPHEMERAL per-invocation scratch, and their fsync/disk
    cost is a fixed per-micro-batch tax unrelated to the computation —
    the same rationale as the memory-sink drain checkpoints
    (streaming/events.py::_drain_checkpoint_dir, ~0.4 s/query
    measured). Setting TMPDIR redirects the scratch there instead of
    /dev/shm. Production deployments pass their own durable roots to
    the snapshot classes; nothing here changes those paths."""
    import hashlib
    import os
    import tempfile

    name = (
        f"spark_stream_{tag}_"
        + hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:12]
    )
    tmp_default = tempfile.gettempdir()

    def _shm_usable() -> bool:
        # an EXPLICIT scratch choice wins over the tmpfs fast path
        if os.environ.get("TMPDIR"):
            return False
        # containers commonly mount /dev/shm at 64 MB: require
        # headroom for the changelog + versioned snapshots these
        # entries write — O(source data), so the requirement SCALES
        # with the input (a fixed 2 GiB floor covers the 10x bench
        # layout but would ENOSPC mid-run on larger SFs — ADVICE r11)
        if not os.path.isdir("/dev/shm"):
            return False
        try:
            st = os.statvfs("/dev/shm")
            free = st.f_bavail * st.f_frsize
        except OSError:
            return False
        return free >= max(2 << 30, 4 * _dir_size(sf_dir))

    # clear EVERY candidate base, not just the one selected now: the
    # headroom probe re-runs each invocation, so a flip (shm filling
    # between calls) must not strand the previous few-hundred-MB
    # scratch copy in tmpfs RAM until reboot. /tmp, the default base,
    # is swept too: a run made before TMPDIR was set left its copy there
    for b in {"/dev/shm", "/tmp", tmp_default}:
        shutil.rmtree(os.path.join(b, name), ignore_errors=True)
    base = "/dev/shm" if _shm_usable() else tmp_default
    path = os.path.join(base, name)
    _WORK_DIRS.add(path)
    return path


def _dir_size(path: str) -> int:
    """Total byte size of a source directory tree, for the scratch
    headroom guard above."""
    import os

    total = 0
    for root, _dirs, files in os.walk(path):  # walk skips unreadable dirs
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


@register(
    "stream_hypertable_rollup",
    group="2.9 ext-stream ext-rollup hypertable",
    # the cascade's FINEST level is maintained by the stream; the
    # coarser levels re-aggregate the drained partials with the SAME
    # batch operators the batch twin uses, so this shares
    # hypertable_rollup_1h's full oracle (raw aggregated directly) —
    # proving the streaming continuous-aggregate is lossless
    oracle=registry()["hypertable_rollup_1h"].oracle,
    doc="Streaming continuous aggregate, TimescaleDB-style: the "
    "stream maintains the 1-minute partials (count + exact-decimal "
    "sum + min/max — the decomposable carry), drained complete-mode "
    "via availableNow; the 5-min and 1-hour levels then derive from "
    "the drained partials through the identical operators/rollups.py "
    "re-aggregation the batch twin uses, raw data scanned once by "
    "the STREAM only. Complete mode needs no watermark, so NULL and "
    "out-of-order timestamps group exactly like the batch twin "
    "(NULL ts -> NULL bucket) and the shared oracle holds under the "
    "drain fuzzer's perturbations.",
)
def stream_hypertable_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollups

    ev = read_events_stream(spark, sf_dir)
    m1 = ev.groupBy(
        rollups.time_bucket(F.col("ts"), 60).alias("bucket"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("val_sum"),
        F.min("value").alias("val_min"),
        F.max("value").alias("val_max"),
    )
    drained = run_stream_to_table(
        m1, spark, output_mode="complete", state_partitions=8
    )
    m5 = rollups.rollup_coarser(drained, ["event_type"], 300, finer_seconds=60)
    h1 = rollups.rollup_coarser(m5, ["event_type"], 3600, finer_seconds=300)
    return rollups.finalize_rollup(h1, ["event_type"])


@register(
    "stream_tumbling_agg",
    group="2.9 ext-stream",
    # complete-mode drain emits every window, so the stream converges
    # to the batch twin's exact frame and shares its FULL oracle
    oracle=registry()["events_tumbling_agg"].oracle,
    doc="Streaming 5-min tumbling agg with 10-min watermark, drained "
    "via availableNow; equals batch events_tumbling_agg (tested) and "
    "shares its oracle.",
)
def stream_tumbling_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_table(
        stream_tumbling_agg(read_events_stream(spark, sf_dir)), spark,
        state_partitions=8,  # |windows x types| keys: tiny state
    )


@register(
    "stream_session_agg",
    group="2.9 ext-stream",
    # complete-mode drain emits every merged session; the result is the
    # gaps-and-islands frame grouped per island -> FULL oracle (the
    # batch sessionize oracle minus its ordinal session_no). The island
    # predicate uses >= to match session_window's half-open
    # [start, last+gap) semantics exactly: an event at precisely
    # last+30:00.000000 starts a NEW session in Spark, so it must here
    # too (testdata is regenerated between rounds — don't rely on
    # "no exact gaps today").
    oracle="""
WITH seq AS (
  SELECT user_id, value, epoch_us(ts) AS us, event_id,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) >= 1800000000
      OR lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
    THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
sess AS (
  SELECT user_id, value, us,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM seq
)
SELECT user_id, CAST(MIN(us) AS BIGINT) AS session_start_us,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sess GROUP BY user_id, session_no
""",
    doc="Streaming per-user session windows (30-min gap, stateful "
    "session_window); the drain converges to the batch "
    "events_sessionize islands (tested) and carries that oracle.",
)
def stream_session_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_table(
        stream_session_agg(read_events_stream(spark, sf_dir)), spark,
        state_partitions=8,
    )


@register(
    "stream_sliding_agg",
    group="2.9 ext-stream",
    # overlapping windows are still a deterministic batch-expressible
    # frame, so this stream shares the batch twin's FULL oracle
    oracle=registry()["events_sliding_agg"].oracle,
    doc="Streaming 10-min windows sliding every 5 with 10-min "
    "watermark, drained via availableNow; shares the batch twin "
    "events_sliding_agg's oracle (the drained stream must converge "
    "to the identical window frame).",
)
def stream_sliding_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_table(
        stream_sliding_agg(read_events_stream(spark, sf_dir)), spark,
        state_partitions=8,
    )


# DISTINCT, not a bare projection: dedup keyed on event_id keeps ONE
# row per id, which is only the full event set while ids are unique.
# Under duplicate-PK data (the r07 stream-drain fuzzer injects verbatim
# row copies) the drain legitimately emits each id once; DISTINCT over
# the whole projection is the exact contract because duplicates are
# verbatim — two DIFFERENT rows sharing an id would make the kept row
# engine-arbitrary and not SQL-expressible.
_EVENTS_PROJ_ORACLE = """
SELECT DISTINCT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
  event_type, value
FROM events
"""


@register(
    "stream_dedup",
    group="2.9 ext-stream ext-dedup",
    # event_ids are unique in the testdata, so lossless dedup must
    # reproduce the full event set -> FULL oracle on a hash-stable
    # projection (ts surfaced as integer micros)
    oracle=_EVENTS_PROJ_ORACLE,
    doc="Streaming exact-dedup on event_id with watermark-bounded "
    "state; ids are unique, so the drain must emit every event exactly "
    "once — checked against the full projected event set.",
)
def stream_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = stream_dedup(read_events_stream(spark, sf_dir)).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
        "value",
    )
    return run_stream_to_table(
        deduped, spark, output_mode="append", state_partitions=8,
    )


@register(
    "stream_user_profile",
    group="2.9 ext-stream stateful",
    # the events table is ONE parquet file -> one micro-batch -> the
    # update-mode sink holds exactly the final state per user, which
    # equals the ordered-aggregation batch twin -> FULL oracle (shared
    # with events_user_profile_batch). A multi-file source would also
    # emit intermediate states; the batch-equivalence test pins the
    # single-batch drain contract.
    oracle=registry()["events_user_profile_batch"].oracle,
    doc="Custom arbitrary-stateful operator (applyInPandasWithState): "
    "per-user count / exact-cents total / EWMA maintained in group "
    "state. Equals the ordered-aggregation batch twin (tested) and "
    "shares its oracle.",
)
def stream_user_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import stream_user_profile

    return run_stream_to_table(
        stream_user_profile(read_events_stream(spark, sf_dir)),
        spark,
        output_mode="update",
        state_partitions=8,
    )


@register(
    "stream_dedup_within_watermark",
    group="2.9 ext-stream ext-dedup",
    oracle=_EVENTS_PROJ_ORACLE,
    doc="dropDuplicatesWithinWatermark: dedup whose per-key state is "
    "GUARANTEED dropped once the watermark passes the key's first "
    "sighting — bounded state for at-least-once sources where ids "
    "never legitimately recur. Unique ids -> lossless: same full "
    "event-set oracle as stream_dedup.",
)
def stream_dedup_within_watermark_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_dedup_within_watermark

    deduped = stream_dedup_within_watermark(
        read_events_stream(spark, sf_dir)
    ).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
        "value",
    )
    return run_stream_to_table(
        deduped, spark, output_mode="append", state_partitions=8,
    )


@register(
    "stream_stream_left_join",
    group="2.9 ext-stream 2.3",
    # FULL oracle on the watermark-CLOSED region (VERDICT r03 item 5):
    # restricted to clicks whose 30-min join window lies a safety
    # minute below the final global watermark (min of both sides'
    # max event time minus the 10-min delay), outer emission is
    # decided — matches emitted as found, unmatched clicks flushed by
    # the no-data finalization batch — so the drain equals the batch
    # left join there. The still-open frontier (clicks newer than the
    # cut) is excluded from BOTH sides identically; its behavior stays
    # covered by the containment test against the unrestricted batch
    # left join.
    oracle="""
WITH p AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS p_us, value
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS c_us
  FROM events WHERE event_type = 'click'
),
mx AS (
  SELECT LEAST((SELECT MAX(p_us) FROM p), (SELECT MAX(c_us) FROM c))
         - 600000000 AS final_wm
)
SELECT c.user_id,
  c.c_us AS click_us,
  p.p_us AS purchase_us,
  p.value AS purchase_value
FROM c CROSS JOIN mx
LEFT JOIN p ON p.user_id = c.user_id
  AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 1800000000
WHERE c.c_us + 1800000000 <= mx.final_wm - 60000000
""",
    doc="LEFT OUTER stream-stream interval join: matches emit as "
    "found; unmatched clicks emit once the watermark passes their "
    "window. The catalog entry compares the watermark-closed region "
    "(click window fully below the final watermark, 1-min margin "
    "for ms-truncation/boundary semantics) against the batch left "
    "join — full value oracle; the open frontier is additionally "
    "covered by a containment test.",
)
def stream_stream_left_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import epoch_us
    from ..streaming.events import stream_click_purchase_left_join

    drained = run_stream_to_table(
        stream_click_purchase_left_join(spark, sf_dir),
        spark,
        output_mode="append",
        state_partitions=8,
    )
    ev = load_table(spark, sf_dir, "events")
    # BOTH event classes must be present: the closed-region cut is
    # min over the per-type maxima, and in the stream an absent side's
    # watermark never advances (no unmatched row would ever flush), so
    # a min over only the present type would silently compare a
    # drained-empty stream result against a non-empty oracle. Fail
    # loudly instead of mismatching.
    per_type = {
        r["event_type"]: r["mx"]
        for r in ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max(epoch_us("ts")).alias("mx"))
        .collect()
    }
    missing = {"click", "purchase"} - set(per_type)
    if missing:
        raise ValueError(
            f"stream_stream_left_join: events table has no {sorted(missing)} "
            "rows — the watermark-closed comparison region is undefined"
        )
    final_wm = min(per_type.values()) - 600_000_000  # 10-min watermark delay
    return drained.filter(
        F.col("click_us") + 1_800_000_000 <= final_wm - 60_000_000
    )


@register(
    "stream_static_enrich",
    group="2.9 ext-stream 2.3",
    # complete-mode drain over the tiny segment x type keyspace
    # converges to the batch twin's exact frame -> FULL oracle
    oracle=registry()["events_segment_enrich"].oracle,
    doc="Stream-static join: the event stream broadcast-joined to the "
    "batch customer dim per micro-batch (dim re-read between batches "
    "— the slowly-changing-dimension pattern), aggregated per "
    "segment x type; shares the batch twin's oracle.",
)
def stream_static_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_static_enrich

    return run_stream_to_table(
        stream_static_enrich(
            read_events_stream(spark, sf_dir),
            load_table(spark, sf_dir, "customer"),
        ),
        spark,
        state_partitions=8,
    )


@register(
    "stream_stream_join",
    group="2.9 ext-stream 2.3",
    # inner-join matches are emitted as found (watermark only governs
    # state eviction), so the availableNow drain converges to the
    # batch interval join and shares its FULL oracle
    oracle=registry()["events_click_purchase_join"].oracle,
    doc="Stream-stream inner interval join (clicks x purchases per "
    "user within 30 min), both sides watermarked so join state is "
    "evictable; drained result equals the batch twin "
    "events_click_purchase_join and shares its oracle.",
)
def stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_click_purchase_join

    return run_stream_to_table(
        stream_click_purchase_join(spark, sf_dir),
        spark,
        output_mode="append",
        state_partitions=8,
    )


@register(
    "stream_cdc_apply",
    group="2.9 ext-stream ext-merge",
    # the streaming apply converges to the batch merge's exact state
    # (changelog keys are disjoint), so it shares merge_cdc_orders'
    # FULL oracle instead of the weaker rows-only check
    oracle=registry()["merge_cdc_orders"].oracle,
    doc="Streaming CDC: the orders changelog drained as micro-batches "
    "(maxFilesPerTrigger=1) through foreachBatch into a versioned "
    "parquet snapshot (streaming/cdc.py CdcSnapshot); final snapshot "
    "equals the one-shot batch merge, checked by the same oracle.",
)
def stream_cdc_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.cdc import CdcSnapshot
    from .olap_ext import orders_cdc_frames

    base, changelog = orders_cdc_frames(load_table(spark, sf_dir, "orders"))
    work = _work_dir("cdc", sf_dir)
    logdir = os.path.join(work, "log")
    # two appends -> two files -> (with maxFilesPerTrigger=1) the
    # stream applies the changelog across >= 2 micro-batches
    k = F.col("o_orderkey")
    changelog.filter(k % 2 == 0).coalesce(1).write.mode("append").parquet(logdir)
    changelog.filter(k % 2 != 0).coalesce(1).write.mode("append").parquet(logdir)

    snap = CdcSnapshot(spark, os.path.join(work, "snap"), ["o_orderkey"])
    snap.init(base)
    stream = (
        spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(logdir)
    )
    q = snap.attach(stream, os.path.join(work, "ckpt"))
    q.awaitTermination()
    return snap.read()



@register(
    "stream_dedup_lsh_index",
    group="2.9 ext-stream ext-dedup",
    # the drained stream equals the full-corpus batch LSH pairs (every
    # unordered pair emitted exactly once, in the later doc's batch), so
    # it shares dedup_minhash_lsh's FULL oracle
    oracle=registry()["dedup_minhash_lsh"].oracle,
    doc="STREAMING near-dup detection with a growing LSH band index "
    "(streaming/dedup_stream.py): per micro-batch, batch-local minhash "
    "bands -> candidate pairs vs the index-so-far (bucket join) plus "
    "batch-internal pairs -> append bands to the index; idempotent "
    "bid-partitioned sinks survive foreachBatch retries. Drained over "
    "the whole corpus it equals batch minhash_lsh_pairs (same oracle); "
    "multi-batch equality + retry idempotency pinned by "
    "tests/test_streaming.py. Drains at the production trigger setting "
    "(4 files/micro-batch — the pair set is batch-granularity-"
    "invariant); the 1-file adversarial arrival mode stays pinned in "
    "the streaming tests.",
)
def stream_dedup_lsh_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.dedup_stream import (
        StreamingLshDedup,
        read_documents_stream,
    )

    work = _work_dir("lsh", sf_dir)
    dd = StreamingLshDedup(spark, work)
    q = dd.attach(
        read_documents_stream(spark, sf_dir, files_per_trigger=4),
        os.path.join(work, "ckpt"),
    )
    q.awaitTermination()
    return dd.pairs().select("doc_a", "doc_b")


def tws_available() -> bool:
    """Capability probe for transformWithStateInPandas: its Python
    state-server protocol needs google.protobuf, absent from this
    container (no installs allowed). The TWS entry registers ITSELF
    the moment the environment grows the dependency (VERDICT r09 item
    7) — today the probe is False here and the entry stays absent;
    tests/test_streaming.py import-skip-gates the equivalence test
    the same way, and tests/test_plans.py pins catalog membership to
    this probe in both directions."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


if tws_available():
    @register(
        "stream_user_profile_tws",
        group="2.9 ext-stream stateful",
        # same single-file -> single-micro-batch drain contract as
        # stream_user_profile: the update-mode sink holds exactly the
        # final state per user, equal to the ordered-aggregation batch
        # twin -> FULL shared oracle
        oracle=registry()["events_user_profile_batch"].oracle,
        doc="Per-user profile via transformWithStateInPandas "
        "(StatefulProcessor lifecycle, typed ValueState, RocksDB "
        "state store with changelog checkpointing — "
        "streaming/stateful.py) — the current-generation "
        "arbitrary-state twin of stream_user_profile; identical "
        "semantics, shared oracle. Registered only when "
        "google.protobuf imports (the TWS Python state-server "
        "protocol requires it).",
    )
    def stream_user_profile_tws_q(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from ..streaming.stateful import stream_user_profile_tws

        return run_stream_to_table(
            stream_user_profile_tws(read_events_stream(spark, sf_dir)),
            spark,
            output_mode="update",
            state_partitions=8,
            extra_conf={
                "spark.sql.streaming.stateStore.providerClass":
                    "org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider"
            },
        )


@register(
    "stream_scd2_apply",
    group="2.9 ext-stream ext-warehouse",
    # the drained stream converges to the batch SCD2 build exactly
    # (micro-batches are time-split, so no batch carries changes older
    # than closed history), so it shares events_scd2_intervals' FULL
    # oracle instead of the weaker rows-only check
    oracle=registry()["events_scd2_intervals"].oracle,
    doc="Streaming SCD Type-2: the events changelog drained as "
    "time-ordered micro-batches (maxFilesPerTrigger=1) through "
    "foreachBatch into a versioned interval snapshot "
    "(streaming/scd2.py Scd2Snapshot). Each batch closes touched "
    "keys' open intervals and re-intervalizes ONLY those keys (open "
    "rows + batch rows); closed history and untouched keys carry over "
    "verbatim via an anti join. Final dimension equals the one-shot "
    "batch build, checked by the same oracle.",
)
def stream_scd2_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    import glob

    from ..functions.scalar import epoch_us
    from ..streaming.scd2 import Scd2Snapshot, stamp_file_order

    # NULL contract, mirrored from the batch twin events_scd2_intervals
    # and its oracle: a change row without an identity or a timestamp
    # cannot version a dimension. Without this filter the twins diverge
    # under NULL injection — NULL-user rows built None-keyed intervals
    # and NULL-ts rows silently fell out of BOTH midpoint filters below
    # (r07 stream-drain fuzzer find).
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "value", epoch_us("ts").alias("us"), "event_id")
    )
    # time-split the changelog at the global midpoint: every key's
    # batch-1 rows precede its batch-2 rows, the append-mode ordering
    # contract of an SCD2 apply (index-metadata collect: 1 row)
    mn, mx = ev.agg(F.min("us"), F.max("us")).first()
    if mn is None:
        # empty (or fully NULL-filtered) changelog: nothing to split or
        # drain — the empty snapshot IS the result, like the batch
        # twin's empty window frame (r07b edge-fuzz find: the empty-
        # table slice made (mn+mx)//2 a None+None TypeError)
        snap = Scd2Snapshot(
            spark, os.path.join(_work_dir("scd2", sf_dir), "snap"),
            key="user_id",
        )
        snap.init_empty()
        return snap.intervals()
    mid = (mn + mx) // 2
    work = _work_dir("scd2", sf_dir)
    logdir = os.path.join(work, "log")
    ev.filter(F.col("us") < mid).coalesce(1).write.mode("append").parquet(logdir)
    first = set(glob.glob(os.path.join(logdir, "*.parquet")))
    ev.filter(F.col("us") >= mid).coalesce(1).write.mode("append").parquet(
        logdir
    )
    second = set(glob.glob(os.path.join(logdir, "*.parquet"))) - first
    # SCD2 is order-SENSITIVE: pin the file source's intake order
    # (mtime has ms granularity — back-to-back writes can tie/invert)
    stamp_file_order([sorted(first), sorted(second)])

    snap = Scd2Snapshot(spark, os.path.join(work, "snap"), key="user_id")
    snap.init_empty()
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(logdir)
    )
    q = snap.attach(stream, os.path.join(work, "ckpt"))
    q.awaitTermination()
    return snap.intervals()


@register(
    "stream_incremental_agg",
    group="2.9 ext-stream ext-warehouse",
    # state algebra is commutative, so ANY micro-batch split of the
    # changelog converges to the from-scratch rebuild — share the
    # batch query's FULL oracle
    oracle=registry()["incremental_agg_orders"].oracle,
    doc="Streaming materialized-view maintenance: the signed orders "
    "changelog drained as micro-batches (maxFilesPerTrigger=1) "
    "through foreachBatch into mergeable (count, exact-decimal-sum) "
    "state (streaming/incremental.py AggStateSnapshot, seeded from "
    "the base aggregate — the last full scan the view ever needs). "
    "Each batch costs one map-combined aggregation of the batch plus "
    "a state-only merge; the finalized state equals the from-scratch "
    "rebuild, checked by incremental_agg_orders' oracle.",
)
def stream_incremental_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.incremental import AggStateSnapshot
    from .olap_ext import INCR_KEYS, orders_incremental_frames

    base, changelog = orders_incremental_frames(
        load_table(spark, sf_dir, "orders")
    )

    work = _work_dir("incr", sf_dir)
    logdir = os.path.join(work, "log")
    # commutative state: an arbitrary (parity) split still converges
    k = F.col("o_orderkey")
    changelog.filter(k % 2 == 0).coalesce(1).write.mode("append").parquet(
        logdir
    )
    changelog.filter(k % 2 != 0).coalesce(1).write.mode("append").parquet(
        logdir
    )

    snap = AggStateSnapshot(
        spark,
        os.path.join(work, "snap"),
        keys=INCR_KEYS,
        amount="o_totalprice",
        sign="sign",
    )
    snap.init_from(base)
    stream = (
        spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(logdir)
    )
    snap.attach(stream, os.path.join(work, "ckpt")).awaitTermination()
    return snap.result()


@register(
    "stream_novelty_index",
    group="2.9 ext-stream ext-curation",
    # the catalog drain streams the corpus as ONE batch (documents is a
    # single file; repack keeps it that way) over a seeded static
    # reference, which equals the batch scorer exactly — FULL shared
    # oracle. The growing-index multi-batch semantics (novelty vs
    # reference + earlier batches) is batch-boundary-dependent by
    # design and is pinned by the explicit-batches test in
    # tests/test_streaming.py.
    oracle=registry()["corpus_ngram_novelty"].oracle,
    doc="STREAMING novelty scoring with a growing gram index "
    "(streaming/novelty.py): per micro-batch, distinct batch grams -> "
    "per-doc known/novelty vs the index-so-far -> append grams to the "
    "index; idempotent bid-partitioned sinks survive foreachBatch "
    "retries. The dedup-aware ingestion shape: near-verbatim arrivals "
    "are flagged the moment they land.",
)
def stream_novelty_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.dedup_stream import read_documents_stream
    from ..streaming.novelty import StreamingNovelty

    work = _work_dir("novelty", sf_dir)
    nv = StreamingNovelty(spark, work)
    docs = load_table(spark, sf_dir, "documents")
    nv.seed(docs.filter(F.col("doc_id") % 10 == 0))
    stream = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 10 != 0
    )
    q = nv.attach(stream, os.path.join(work, "ckpt"))
    q.awaitTermination()
    return nv.scores()


@register(
    "stream_markov_transitions",
    group="2.9 ext-stream markov",
    # the catalog drain streams events as ONE batch (single parquet
    # file; repack preserves it), over an empty seeded frontier — the
    # drained counts then equal the batch window exactly: FULL shared
    # oracle. The multi-batch boundary-pair semantics (user's last
    # event of batch k -> first of batch k+1 via the frontier state)
    # is pinned by the explicit-batches test in tests/test_streaming.py.
    oracle=registry()["events_markov_transitions"].oracle,
    doc="STREAMING Markov transition counting with cross-batch "
    "frontier state (streaming/markov.py): per micro-batch, in-batch "
    "lag pairs + boundary pairs against the one-row-per-user frontier "
    "snapshot, counted into idempotent bid-partitioned deltas; the "
    "frontier writes version batch_id+1 so retries overwrite instead "
    "of stacking. Order-sensitive sequence mining incrementalized "
    "with O(|users|) state.",
)
def stream_markov_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.markov import StreamingMarkov

    work = _work_dir("markov", sf_dir)
    mk = StreamingMarkov(spark, work)
    mk.seed_empty()
    q = mk.attach(
        read_events_stream(spark, sf_dir), os.path.join(work, "ckpt")
    )
    q.awaitTermination()
    return mk.result()


@register(
    "stream_heavy_hitters_mg",
    group="2.9 ext-stream ext-sketch",
    # the catalog drain streams events as ONE batch (single parquet
    # file; repack preserves it): merge(empty, batch summary) =
    # compress(batch counts) = the batch operator exactly -> FULL
    # shared oracle. Multi-batch merges keep the published bound but
    # are batch-boundary-dependent by design; the explicit-batches
    # property test in tests/test_streaming.py pins that regime.
    oracle=registry()["events_heavy_hitters_mg"].oracle,
    doc="STREAMING Misra-Gries heavy hitters "
    "(streaming/heavyhitters.py::MGSnapshot): each micro-batch is "
    "reduced to its own MG summary and MERGED into the persisted one "
    "(mergeable-summaries algebra) — O(groups x m) state forever over "
    "an unbounded key domain, the bounded-memory alternative to "
    "stream_incremental_agg's exact per-key state. Versioned-parquet "
    "store with the batch_id+1 retry contract: the additive merge "
    "never double-counts a foreachBatch retry.",
)
def stream_heavy_hitters_mg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.heavyhitters import MGSnapshot
    from .analytics_ext import _MG_M

    work = _work_dir("mghh", sf_dir)
    snap = MGSnapshot(
        spark, os.path.join(work, "snap"), "event_type", "user_id", m=_MG_M
    )
    # seed from the BATCH loader (schema-only, limit 0): VersionStore
    # writes with df.write, which a streaming frame cannot do
    snap.seed_empty(
        load_table(spark, sf_dir, "events").select("event_type", "user_id")
    )
    snap.attach(
        read_events_stream(spark, sf_dir).select("event_type", "user_id"),
        os.path.join(work, "ckpt"),
    ).awaitTermination()
    return snap.result()
