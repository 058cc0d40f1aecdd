"""The benchmark's workloads: which ops a pass runs, and how each op's
output is fingerprinted for the correctness check.

An op is one call into the library's public entry points
(``pipeline.run_pipeline`` or a ``plans.catalog.queries()`` builder)
plus the drain of its result. Each op returns the DataFrames whose
digests the output check compares; the timed path never digests.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

#: the read side: catalog entries over the corpus tables (Python
#: workers, iterative operators, process-wide memos), then TPC-H shapes
#: (scan, join and shuffle bound). The seed permutes them within a pass.
CORPUS_OPS = (
    "search_bm25_topk",
    "text_repetition",
    "dedup_incremental_batch",
    "similarity_topk_ivf_pq",
)
OLAP_OPS = (
    "pricing_summary",
    "q5_local_supplier_volume",
    "q18_large_orders",
)
#: the write side: the reference system's pipeline, then one incremental
#: warehouse-upkeep stream (CDC merge into a versioned snapshot)
INGEST_OPS = ("run_pipeline", "stream_cdc_apply")
STREAM_OPS = ("stream_cdc_apply",)

WORKLOADS = {"ingest": INGEST_OPS, "query": CORPUS_OPS + OLAP_OPS}

GOLD_TABLES = (
    "summary_by_season",
    "home_vs_away",
    "team_weaknesses_unpivoted",
    "spurs_player_contributions_unpivoted",
    "streaks_and_rivals",
    "players_recommendations",
)


@dataclass
class Ctx:
    """What every op needs: the session, the repacked input dir and a
    scratch dir for the pipeline's per-pass work dirs."""

    spark: object
    sf_dir: str
    work_root: str
    tracer: object = None  # perfbench.tracing.Tracer on traced passes
    pass_no: int = 0


def _call(ctx: Ctx, name: str, fn: Callable, *args, **kwargs):
    """Run ``fn``; on traced passes inside a span named ``name``."""
    if ctx.tracer is None:
        return fn(*args, **kwargs)
    return ctx.tracer.span(name, fn, *args, **kwargs)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def catalog_op(name: str) -> Callable[[Ctx], dict]:
    from nba_spurs_etl_spark.plans.catalog import queries

    builder = queries()[name]

    def run(ctx: Ctx) -> dict:
        df = _call(ctx, f"{name}.build", builder, ctx.spark, ctx.sf_dir)
        _call(ctx, f"{name}.drain", _noop, df)
        return {name: df}

    return run


def pipeline_op(ctx: Ctx) -> dict:
    from nba_spurs_etl_spark.pipeline import run_pipeline

    work = work_dir(ctx)
    # the pipeline module resolves its stages through module attributes,
    # so the tracer's wrappers around them see every call
    _call(
        ctx, "pipeline.run_pipeline", run_pipeline, ctx.spark, work,
        materialize_gold=True,
    )
    gold = os.path.join(work, "gold")
    return {
        f"gold.{t}": (lambda t=t: ctx.spark.read.parquet(os.path.join(gold, t)))
        for t in GOLD_TABLES
    }


def work_dir(ctx: Ctx) -> str:
    return os.path.join(ctx.work_root, f"pass{ctx.pass_no}")


def ops_for(workload: str) -> dict[str, Callable[[Ctx], dict]]:
    return {
        name: pipeline_op if name == "run_pipeline" else catalog_op(name)
        for name in WORKLOADS[workload]
    }


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.lstat(os.path.join(base, f)).st_size
    return total


# --- output digests ----------------------------------------------------


def _norm_col(col, dtype):
    """A column rendered so that its hash ignores float noise in the
    last digits (aggregation order can differ run to run) and -0.0."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        c = F.when(col == 0, F.lit(0.0)).otherwise(col.cast("double"))
        return F.format_string("%.9g", c)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _norm_col(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(
            *[
                _norm_col(col.getField(f.name), f.dataType).alias(f.name)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, T.MapType):
        return F.to_json(col)
    return col


def digest(df) -> dict:
    """Row count and an order-insensitive hash of a DataFrame: the
    per-row xxhash64 of the normalized columns, summed in two 32-bit
    halves (no overflow under ANSI arithmetic), plus the column names."""
    import hashlib

    from pyspark.sql import functions as F

    fields = df.schema.fields
    cols = [_norm_col(F.col(f"`{f.name}`"), f.dataType) for f in fields]
    h = F.xxhash64(*cols) if cols else F.lit(0)
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)), F.lit(0)),
            F.coalesce(F.sum(F.shiftrightunsigned("h", 32)), F.lit(0)),
        )
        .first()
    )
    names = ",".join(sorted(f.name for f in fields))
    blob = f"{names}|{row[0]}|{row[1]}|{row[2]}"
    return {"rows": int(row[0]), "hash": hashlib.sha256(blob.encode()).hexdigest()[:16]}
