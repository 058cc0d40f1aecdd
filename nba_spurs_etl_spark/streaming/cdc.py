"""Streaming CDC apply: a changelog stream merged into a keyed snapshot.

The streaming half of ``operators/merge.py``: each micro-batch of I/U/D
changes is compacted to one winning op per key (``latest_by_key``) and
merged onto the current snapshot with ``merge_cdc`` inside a
``foreachBatch`` sink — the canonical Structured Streaming upsert
pattern (Delta/Iceberg ship it as MERGE in foreachBatch; this runs on
bare parquet).

Snapshot storage is a poor-man's table format (``VersionStore``): each
applied batch writes a NEW versioned directory ``v{n}`` and readers
resolve the highest committed version — never overwrite-in-place,
because batch n+1 reads version n while writing n+1 (and a failed
write must not corrupt the readable snapshot). A ``_COMMITTED`` marker
makes the version flip atomic-enough for a filesystem without atomic
rename; real deployments swap this class for a table format and keep
the foreachBatch body.

Retry contract (the ``streaming.markov`` scheme, shared by every
subclass): version = batch_id + 1, and the apply reads the highest
committed version <= batch_id. foreachBatch is at-least-once — a
driver death between the snapshot commit and the checkpoint offset
commit re-runs the batch with the SAME batch_id, which here re-reads
the untouched input version and overwrites version batch_id + 1
instead of stacking a phantom version on top of already-applied state.
That makes even NON-idempotent folds (aggregate deltas, SCD2 interval
rebuilds) retry-safe; the snapshot is therefore bound to one
checkpointed stream (a second stream with a fresh checkpoint would
restart batch ids at 0 — reprocessing, not resumption, in any scheme).

Scale: the per-batch merge is one key-partitioned full-outer join
(see merge.py); snapshot versions are bounded by retention (callers
vacuum old ``v*`` dirs — keep >= 2 so an in-flight retry of the latest
batch can still re-read its input version). foreachBatch re-reads the
snapshot per batch — at scale that is exactly what MERGE INTO does too
(the join IS the apply); micro-batch sizing controls the amortization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.merge import latest_by_key, merge_cdc
from ..sources.catalog import read_parquet


class VersionStore:
    """Versioned-parquet directory store: ``v{n}`` dirs under a root,
    a ``_COMMITTED`` marker per committed version. The one commit
    protocol shared by the CDC/agg-state/SCD2 snapshots and the
    streaming Markov frontier (previously a second copy there)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def vdir(self, v: int) -> str:
        return os.path.join(self.root, f"v{v}")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.root):
            return []
        out = []
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit():
                if os.path.exists(os.path.join(self.root, name, "_COMMITTED")):
                    out.append(int(name[1:]))
        return sorted(out)

    def write(self, df: DataFrame, version: int) -> None:
        path = self.vdir(version)
        df.write.mode("overwrite").parquet(path)
        with open(os.path.join(path, "_COMMITTED"), "w") as f:
            f.write("ok")

    def read_latest(self) -> DataFrame:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        return read_parquet(self.spark, self.vdir(vs[-1]))

    def read_at_or_before(self, v: int) -> DataFrame:
        """Highest committed version <= v — the retry-safe input read
        for a batch writing version v + 1."""
        vs = [x for x in self.versions() if x <= v]
        if not vs:
            raise FileNotFoundError(
                f"no committed version <= v{v} under {self.root}; "
                "seed the store (init/seed) before attaching the stream"
            )
        return read_parquet(self.spark, self.vdir(vs[-1]))

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` committed versions.
        Keep at least 2 so an in-flight retry of the latest batch can
        still re-read its input version. Returns removed versions."""
        import shutil

        vs = self.versions()
        drop = vs[:-keep_last] if keep_last > 0 else vs
        for v in drop:
            shutil.rmtree(self.vdir(v))
        return drop


class CdcSnapshot:
    """Versioned parquet snapshot a CDC stream folds into."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: list[str],
        op_col: str = "op",
        order_col: str | None = None,
    ):
        self.spark = spark
        self.store = VersionStore(spark, root)
        self.root = root
        self.keys = keys
        self.op_col = op_col
        self.order_col = order_col

    # thin delegation kept for subclasses/tests that reach these
    def _versions(self) -> list[int]:
        return self.store.versions()

    def _vdir(self, v: int) -> str:
        return self.store.vdir(v)

    def init(self, base: DataFrame) -> None:
        self._write(base, 0)

    def _write(self, df: DataFrame, version: int) -> None:
        self.store.write(df, version)

    def read(self) -> DataFrame:
        return self.store.read_latest()

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` committed versions
        (see VersionStore.vacuum; keep >= 2 for the retry window —
        the snapshot grows one version per applied micro-batch, so an
        unbounded stream needs retention, and a version still being
        read by a concurrent query is the caller's coordination
        problem, exactly as with table-format VACUUM)."""
        return self.store.vacuum(keep_last)

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        prev = self.store.read_at_or_before(batch_id)
        if self.order_col is not None:
            batch_df = latest_by_key(batch_df, self.keys, self.order_col)
            if self.order_col not in prev.columns:
                # only drop the ordering column when the snapshot
                # schema doesn't carry it — merge_cdc selects every
                # snapshot column from the changelog side, so dropping
                # a column the snapshot HAS would fail the first batch
                # with an unresolved-column error
                batch_df = batch_df.drop(self.order_col)
        merged = merge_cdc(prev, batch_df, self.keys, self.op_col)
        self._write(merged, batch_id + 1)

    def attach(self, changelog: DataFrame, checkpoint_dir: str):
        """Wire a streaming changelog into this snapshot; returns the
        started query (availableNow drains what exists, then stops)."""
        return (
            changelog.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
