"""Structured Streaming surface over the events table.

The reference is strictly batch (weekly full refresh, SURVEY §2.9);
this module is the engine's streaming extension: the same windowed
aggregations the batch catalog runs (``plans.pipeline_ext``), expressed
as streaming plans with watermarks, plus streaming dedup and session
windows. Batch-equivalence is the correctness strategy: every streaming
query has a batch twin, and ``tests/test_streaming.py`` runs both over
the same parquet input.

Scale notes:
- watermark (10 min) bounds state: windows/sessions older than the
  watermark are finalized and evicted — mandatory for unbounded runs;
- streaming dedup comes in two state regimes: ``dropDuplicates``
  keyed on event_id alone holds a key's state FOREVER (correct when
  ids can legitimately recur late, at unbounded-state cost), while
  ``dropDuplicatesWithinWatermark`` evicts each key once the watermark
  passes its first sighting — the bounded-state form for
  retry/at-least-once duplicate bursts (see the two operators below);
- parquet source here stands in for Kafka/object-store feeds; the
  transformations are source-agnostic.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import stat
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_name_counter = itertools.count()

_ckpt_root: str | None = None


_CKPT_PREFIX = "spark_graft_drain_ckpt_"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, another user's
        pass
    return True


def _sweep_dead_roots(base: str) -> None:
    """Remove the drain roots under ``base`` that processes of this uid
    left when they were killed (no exit hook ran): a root is named
    ``<prefix><pid>_*``, and one whose pid is no longer alive belongs to
    nobody. Roots of live pids, other users' roots and symlinks stay."""
    uid = os.getuid()
    with os.scandir(base) as entries:
        for entry in entries:
            pid = entry.name[len(_CKPT_PREFIX) :].split("_", 1)[0]
            if not entry.name.startswith(_CKPT_PREFIX) or not pid.isdigit():
                continue
            try:
                st = entry.stat(follow_symlinks=False)
            except OSError:
                continue
            mine = stat.S_ISDIR(st.st_mode) and st.st_uid == uid
            if mine and not _pid_alive(int(pid)):
                shutil.rmtree(entry.path, ignore_errors=True)


def _drain_checkpoint_dir(name: str) -> str:
    """Per-process checkpoint root for memory-sink drains, on tmpfs
    where available (/dev/shm) — checkpoint fsync is a measurable
    fraction of a short drain (~0.4 s/query on the bench). Unique per
    process AND per query name, so no drain can ever resume another's
    committed offsets; :func:`run_stream_to_table` removes each one
    when its drain ends, and the root itself goes at process exit. The
    root's name carries the pid, and creating it first sweeps the roots
    of killed processes (:func:`_sweep_dead_roots`), which never ran
    their exit hook.
    Production streams (e.g. CdcSnapshot.attach) pass their own durable
    checkpoint path instead — a memory-sink drain is ephemeral by
    definition, its checkpoint never outlives the result."""
    global _ckpt_root
    if _ckpt_root is None:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
        _sweep_dead_roots(base)
        _ckpt_root = tempfile.mkdtemp(prefix=f"{_CKPT_PREFIX}{os.getpid()}_", dir=base)
        atexit.register(shutil.rmtree, _ckpt_root, ignore_errors=True)
    return os.path.join(_ckpt_root, name)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of <sf_dir>/events.parquet.

    Streams cannot infer schemas, so the raw schema comes from the
    footer (``sources.catalog.read_parquet``, no Spark job); the same
    normalization as the batch loader (sources.catalog._load_events)
    then yields a session-tz TimestampType ``ts`` whichever physical
    form the file carries:

    - TIMESTAMP(NANOS) + nanosAsLong -> bigint ns -> integer-div to us
      (ns magnitudes ~1.7e18 overflow double, so never float math);
    - TIMESTAMP(MICROS) -> TIMESTAMP_NTZ -> cast (UTC session: pure
      type-tag change, required because watermark arithmetic and the
      downstream unix_micros comparisons reject NTZ).
    """
    from ..sources.catalog import _events_ts_is_nanos, read_footer, read_parquet

    ev_path = os.path.join(sf_dir, "events.parquet")
    footer = read_footer(ev_path)
    if _events_ts_is_nanos(footer):
        # only for the round-1 nanos layout — the conf is session-wide
        # and the lazy stream plan needs it in effect at execution, so
        # it cannot be restored; the footer sniff keeps µs-layout
        # sessions untouched (sources.catalog._load_events rationale)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ->timestamp cast below is value-preserving only under UTC; the
    # driver's session carries no conf pins, so set it here.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = read_parquet(spark, ev_path, footer).schema
    if os.path.isdir(ev_path):
        # part-file directory (repacked/replica layout, round 5):
        # stream from inside it — the leaf glob on sf_dir would match
        # zero part files and silently emit nothing
        raw = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(ev_path)
        )
    else:
        raw = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if raw_schema["ts"].dataType.simpleString() == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_tumbling_agg(events: DataFrame) -> DataFrame:
    """5-minute tumbling counts/sums per event_type (batch twin:
    plans.pipeline_ext.events_tumbling_agg)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "events",
            "total_value",
        )
    )


def stream_sliding_agg(events: DataFrame) -> DataFrame:
    """10-minute windows sliding every 5 minutes: rolling event rate."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "events",
            "total_value",
        )
    )


def stream_session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (30-min inactivity gap) — the native
    stateful session operator; batch twin is the gaps-and-islands
    sessionization (plans.pipeline_ext.events_sessionize)."""
    # NULL contract, mirrored from the batch twin and its oracle
    # (pipeline_ext.events_sessionize): a row with no user identity or
    # no event time cannot belong to a session. session_window already
    # drops NULL-ts rows implicitly; the explicit filter also excludes
    # the NULL-user group that groupBy would otherwise emit (r07
    # stream-drain fuzzer find — same class as the r06 stateful fixes).
    return (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            "n_events",
            "session_value",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact-dedup on event_id — exact across the whole run.

    State warning: ``dropDuplicates`` without the event-time column in
    the key holds every seen event_id FOREVER (the watermark below
    only serves downstream operators; it does NOT evict dedup state).
    That is the correct semantics when ids may legitimately recur
    arbitrarily late, but an unbounded run pays state linear in
    distinct ids — prefer ``stream_dedup_within_watermark`` when
    duplicates only ever arrive close together."""
    return events.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])


def stream_dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Dedup via ``dropDuplicatesWithinWatermark``: unlike
    ``dropDuplicates`` (which keys state on event_id FOREVER unless the
    event-time column is part of the key), this guarantees each key's
    state is dropped once the watermark passes its first sighting —
    the right API when duplicates arrive close together (retries,
    at-least-once sources) and ids never legitimately recur. State is
    O(keys per watermark window) by construction."""
    return events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _click_purchase_interval_join(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Shared body of the two stream-stream interval joins: clicks x
    purchases per user, purchase inside [click, click+30min], both
    sides watermarked so the state store can evict. Only the join type
    differs between the public wrappers."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        how,
    )
    return joined.select(
        "user_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        "purchase_value",
    )


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner interval join: clicks x purchases per user,
    purchase inside [click, click+30min] (batch twin:
    plans.analytics_ext.events_click_purchase_join).

    The canonical two-stream rendezvous Structured Streaming supports
    natively: both sides carry a watermark and the join condition
    includes an event-time range, so the state store can evict — a
    click is dropped once the purchase-side watermark passes
    click_ts + 30min, a purchase once the click-side watermark passes
    it. Without the range condition the join state would grow without
    bound; with it, state is O(events in the last 30min + delay).
    Output columns are integer microseconds so the drained result is
    bit-comparable to the batch twin's oracle."""
    return _click_purchase_interval_join(spark, sf_dir, "inner")


def stream_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: every click, with its in-window
    purchases when they exist.

    Outer emission semantics differ from batch by design: an unmatched
    click is emitted (purchase columns NULL) only once the
    purchase-side watermark has passed click_ts + 30min, because until
    then a match could still arrive. On an availableNow drain the
    final watermark stops at max(event_time) - delay, so unmatched
    clicks NEWER than that are still held in state when the stream
    ends — the drained result is the inner matches plus the
    watermark-expired unmatched prefix. That is the correct unbounded
    semantics, checked by containment tests against the batch left
    join (no SQL oracle can describe the drain cut)."""
    return _click_purchase_interval_join(spark, sf_dir, "leftOuter")


def run_stream_to_table(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink (availableNow)
    and return the materialized batch result.

    complete mode is used for windowed aggregations so windows still
    open at end-of-input are emitted too (append mode would hold them
    back behind the watermark — correct for unbounded streams, wrong
    for drain-and-compare tests).

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    stream's first (state-layout-defining) run and restores it after.
    State-store count should track STATE SIZE, not core count: a
    stateful stream pays per-store open/commit every micro-batch, so
    small-keyspace streams want few stores (measured 4x on the bench
    drains), while a high-cardinality production stream raises it —
    the one knob Structured Streaming cannot re-derive later without a
    new checkpoint."""
    name = f"stream_sink_{next(_name_counter)}"
    saved: dict[str, str | None] = {}
    overrides = dict(extra_conf or {})
    if state_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(state_partitions)
    for k, v in overrides.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    ckpt = _drain_checkpoint_dir(name)
    q = None
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # the drain's checkpoint is never resumed (the name is unique
        # per call): remove it once the query is down, or every drain
        # leaves its offsets/state files in tmpfs RAM until reboot
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # pin the result off the memory sink, then release the sink: the
    # drained rows live in driver memory behind the temp view, and a
    # session running many drains (the 13+ streaming catalog queries)
    # would otherwise accumulate every historical result set for its
    # lifetime. localCheckpoint copies the (drain-sized) result to
    # executor storage and cuts the plan's reference to the view.
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def stream_static_enrich(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: the event stream enriched with the (batch)
    customer dimension, aggregated per segment x event type (batch
    twin: plans.analytics_ext.events_segment_enrich).

    The static side needs no watermark and carries no state — Spark
    re-plans it per micro-batch (a broadcast hash join under AQE), so
    a slowly-changing dim picked up from parquet refreshes between
    batches without restarting the stream. Complete-mode drain over
    the tiny segment x type keyspace converges to the batch twin."""
    dim = customer.select("c_custkey", "c_mktsegment")
    return (
        events.join(F.broadcast(dim), F.col("c_custkey") == F.col("user_id"))
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
