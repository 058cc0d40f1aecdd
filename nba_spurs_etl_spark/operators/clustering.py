"""Iterative k-means (Lloyd) clustering over embedding columns.

The reference has no clustering operator; this is part of the engine's
training-data extension surface (alongside dedup / similarity): corpus
clustering for stratified curation, IVF coarse quantizers, and
diversity-aware sampling all reduce to "run a few Lloyd iterations over
an array<float> column".

Spark-first design, per iteration:

1. **Assign** — centroids are collected once (k x dim doubles: index
   metadata, same trick as ``similarity.ivf_topk``) and inlined as
   literals, so vector->cluster assignment is a PURE NARROW MAP: an
   ``aggregate`` argmin fold over the literal centroid array. Zero
   shuffle over the corpus, any scale.
2. **Update** — new centroid = per-dimension mean of members. The only
   shuffle: ``posexplode`` to (cluster, dim, x) and aggregate; partial
   aggregation combines map-side to at most k*dim rows per task, so the
   exchange carries k*dim*partitions rows regardless of corpus size.

Cross-engine determinism (the DuckDB-oracle contract): float sums are
order-dependent, and Spark's partitioned sums commit to no order, so
the mean is computed in FIXED POINT — each coordinate quantized to
integer micro-units ``floor(x*1e6 + 0.5)`` (an IEEE-identical double op
on both engines), summed exactly as BIGINT, finalized as
``sum / (1e6 * n)``. Distances then fold left-to-right over dims in
double, reproducible by DuckDB's ``list_reduce`` (same order as
``F.aggregate``). Production at 100 TB can swap the fixed-point mean
for a plain ``avg`` (cheaper, but run-to-run float jitter) without
touching the plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import md5_long

_SCALE = 1_000_000  # fixed-point micro-units for exact centroid means


def _d2(a: Column, b: Column) -> Column:
    """Squared L2 distance, sequential left fold (DuckDB-reproducible)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(
    df: DataFrame, cents: list[tuple[object, list[float]]],
    cid_type: str = "bigint",
) -> DataFrame:
    """Argmin over literal centroids: (*df.columns, cell, d2) — narrow map.

    ``cid_type`` is the seed id column's Spark type: casting string doc
    ids to long would turn every centroid id into NULL and silently
    freeze the whole clustering (NULL cells match no update key).
    """
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(cid).cast(cid_type).alias("cid"),
                F.array(*[F.lit(float(x)) for x in cv])
                .cast("array<double>")
                .alias("cv"),
            )
            for cid, cv in cents
        ]
    )
    # distance per centroid computed ONCE (transform), then argmin fold
    # with smaller-cid tiebreak — mirrors similarity.ivf_topk's argmax.
    scored = F.transform(
        cent_arr,
        lambda c: F.struct(
            _d2(F.col("v"), c["cv"]).alias("d2"), c["cid"].alias("cid")
        ),
    )
    init = F.struct(
        F.lit(float("inf")).alias("d2"), F.lit(None).cast(cid_type).alias("cid")
    )
    best = F.aggregate(
        scored,
        init,
        lambda acc, s: F.when(
            (s["d2"] < acc["d2"])
            | ((s["d2"] == acc["d2"]) & (s["cid"] < acc["cid"])),
            s,
        ).otherwise(acc),
    )
    return df.withColumn("best", best).select(
        *df.columns, F.col("best.cid").alias("cell"), F.col("best.d2").alias("d2")
    )


def _kmeans_base_pre(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The pre-checkpoint Lloyd feature frame (NULL-filtered, spread,
    projected) — exposed so plan tests can assert the base stays a
    narrow scan+spread (the localCheckpoint in kmeans_lloyd hides it
    behind a LogicalRDD leaf in the final plan, which would otherwise
    let an accidental upstream join/agg go unnoticed — ADVICE r11)."""
    from .dedup import spread_for_compute

    return spread_for_compute(
        df.filter(F.col(vec_col).isNotNull()), id_col
    ).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """k-means via ``iters`` Lloyd rounds; returns (id, cell, d2).

    Init: the k corpus vectors with smallest ``(md5(id), id)`` — a
    seeded sample the oracle re-derives (same convention as
    ``similarity.ivf_topk``). ``d2`` is the squared distance to the
    FINAL assigned centroid. NULL vectors are excluded up front: they
    have no distance to anything, and the NULL assignment would both
    poison the centroid update and land at engine-dependent rank
    positions in the oracle (differential-fuzzer find).
    """
    # Spread before the per-row work (guide §2.5): a single-row-group
    # embeddings file scans as ONE task, serializing the k x dim
    # argmin fold (interpreted HOF — no codegen) and the posexplode
    # centroid update onto one core; well-laid-out inputs pass
    # through shuffle-free. The projected base is then LAZILY
    # localCheckpoint'ed: Lloyd runs 2*iters + 1 separate actions over
    # it (seed TakeOrdered, per-round update collect, final assign) —
    # without the cache each action re-pays the scan+spread shuffle
    # (measured: the uncached spread REGRESSED the entry 1.7→6.7 s at
    # sf0.1 because three actions re-shuffled the vectors). Caching
    # the feature frame across iterations is the standard Lloyd shape
    # (Spark MLlib's KMeans caches its input the same way); the first
    # action (seed) materializes it as a side effect.
    base = _kmeans_base_pre(df, id_col, vec_col).localCheckpoint(eager=False)
    # centroid ids keep the seed id column's NATIVE type: string doc
    # ids cast to long would all become NULL (frozen clustering)
    cid_type = df.schema[id_col].dataType.simpleString()
    cents = [
        (r["vid"], list(r["v"]))
        for r in base.orderBy(
            md5_long(F.col("vid").cast("string")), F.col("vid")
        )
        .limit(k)
        .collect()
    ]
    if not cents:
        # empty (or all-NULL-vector) corpus: no centroids can seed, and
        # the assignment relation is empty — return it with the
        # contract schema instead of building an array<void> literal
        # the lambda scorer cannot type (edge-fuzz find, r06). base is
        # empty exactly when cents is (limit(k>=1) of a non-empty base
        # yields >=1 seed), so this select IS the empty result.
        return base.select(
            F.col("vid").alias(id_col),
            F.col("vid").cast(cid_type).alias("cell"),
            F.lit(None).cast("double").alias("d2"),
        )
    for it in range(iters):
        assigned = _assign(base, cents, cid_type)
        if it == iters - 1:
            return assigned.select(
                F.col("vid").alias(id_col), "cell", "d2"
            )
        upd = (
            assigned.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("x") * _SCALE + F.lit(0.5)).cast("long")
                ).alias("qs"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cell",
                "dim",
                (F.col("qs").cast("double") / (F.lit(float(_SCALE)) * F.col("n"))).alias(
                    "m"
                ),
            )
            .collect()
        )
        by_cell: dict[int, list[float]] = {}
        for r in upd:
            by_cell.setdefault(r["cell"], [0.0] * len(cents[0][1]))[r["dim"]] = r["m"]
        # clusters keep their original ids; empty clusters keep their
        # previous centroid (classic Lloyd degenerate-cluster policy)
        cents = [
            (cid, by_cell.get(cid, cv)) for cid, cv in cents
        ]
    raise AssertionError("iters must be >= 1")
