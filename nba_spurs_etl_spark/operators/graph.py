"""Graph operators over pair lists (duplicate graphs, link graphs).

Companions to ``dedup.connected_components`` (the one connected-
components kernel): the engine's iterative-algorithm surface.
Everything here is driver-loop iteration over DataFrames with bounded
lineage — the Pregel-shaped workloads that don't fit one SQL statement
but are a dozen lines of DataFrame algebra.

Each operator reads its edge frame several times (once per round, or
once per join side), so each pins that frame with one
``localCheckpoint(eager=False)``; under AQE the call
still runs the frame's shuffle map stages when made. Each site is kept
by measurement (12 interleaved build+drain reps of its catalog entry
at sf0.01, 4 cores, with vs without; rows equal): the trade is stated
at the site.

Determinism contract: ranks are INTEGER fixed-point (BIGINT), updated
with floor division — integer sums are order-independent, so results
are bit-identical across partitionings, retries, and engines (a
float PageRank would drift per-partition-order). The DuckDB oracle
unrolls the fixed iteration count as chained CTEs (aggregation is not
allowed in a recursive CTE term, and k is small by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: global fixed-point scale: initial rank per node
PR_SCALE = 1_000_000_000


def integer_pagerank(
    pairs: DataFrame,
    iterations: int = 3,
    scale: int = PR_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Deterministic integer PageRank over an undirected pair list.

    rank_{k+1}(v) = base + (damp_num * SUM_{u~v} (rank_k(u) // deg(u)))
    // damp_den, with base = scale * (damp_den - damp_num) // damp_den —
    the classic damped update in pure BIGINT floor arithmetic. On a
    near-dup pair graph the high ranks are the hub documents (mass
    boilerplate) — a curation signal the pair list alone doesn't give.

    Scale: per iteration, one broadcast-or-shuffle join of ranks onto
    the (src, dst, deg) edge frame plus one dst-keyed partial-agg
    shuffle — contributions are 8-byte longs, map-side combined. The
    edge frame is lazily localCheckpoint'ed once so the pair-generation
    subtree (e.g. minhash banding) does not re-run per iteration; k is
    fixed and small, so lineage depth stays bounded without per-round
    checkpoints.
    """
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # measured: 1.30 s with vs 2.23 s without (12/12 reps won), 12 vs
    # 15 jobs — without it each iteration re-runs the pair generation
    ed = edges.join(deg, "src").localCheckpoint(eager=False)
    # initial ranks derive from the CHECKPOINTED frame: building them
    # from deg would re-run the pair-generation lineage (deg sits
    # outside the checkpoint) one extra time on the first action
    ranks = ed.select(F.col("src").alias("node")).distinct().withColumn(
        "rank", F.lit(scale).cast("long")
    )
    base = scale * (damp_den - damp_num) // damp_den
    # (num * s) div den decomposed as num*(s div den) + (num*(s%den))
    # div den — identical value for s >= 0, but the intermediate stays
    # under num*den of the true quotient instead of num*s: the direct
    # product overflows BIGINT (ANSI: job-aborting ARITHMETIC_OVERFLOW)
    # once one hub accumulates ~2^63/num of rank mass, i.e. ~1e8
    # scale-sized contributions — reachable at the corpus scale the
    # docstring advertises. This form's headroom is the full BIGINT
    # range of s itself.
    damped = (
        f"{damp_num} * (s div {damp_den})"
        f" + ({damp_num} * (s % {damp_den})) div {damp_den}"
    )
    for _ in range(iterations):
        contrib = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.expr("rank div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        # every node of an undirected pair graph has >= 1 in-edge, so
        # the contribution frame covers the full node set each round
        ranks = contrib.select(
            F.col("dst").alias("node"),
            F.expr(f"{base} + {damped}").alias("rank"),
        )
    return ranks.select("node", F.col("rank").cast("long").alias("rank"))


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation over an (doc_a < doc_b) pair list.

    Standard ordered-wedge algorithm: with every edge stored once in
    id order, each triangle a<b<c is found EXACTLY once by joining
    wedges (a,b)+(b,c) and closing with a semi join on (a,c) — no
    /6 dedup factor, and the join volume is sum of ordered-degree
    squares rather than full-degree squares. In a near-dup graph
    triangles measure clique density: dup CLUSTERS are triangle-rich,
    chance pair collisions are triangle-free — a cheap cluster-purity
    signal on top of the pair list.

    Scale: two equi-joins keyed by node ids; the known failure mode is
    hub skew (one node in millions of pairs). Production fix is degree
    orientation — order edge endpoints by (degree, id), not id, which
    provably bounds the wedge count by O(m^1.5); with id ordering the
    bound holds in expectation for hash-uniform ids (true for the
    md5-keyed dup graphs here).
    """
    # the pair frame is referenced THREE times (e1, e2, e3) on three
    # different join keys, so ReuseExchange can never kick in — without
    # this checkpoint the pair-generation subtree (e.g. minhash
    # banding) would run 3x per action. Measured: 0.75 s with vs
    # 0.89 s without (10/12 reps won), 7 jobs either way
    e = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.doc_b") == F.col("e2.doc_a"))
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    tri = wedge.join(
        e.alias("e3"),
        (F.col("a") == F.col("e3.doc_a")) & (F.col("c") == F.col("e3.doc_b")),
        "left_semi",
    )
    nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("doc")
    )
    return nodes.groupBy("doc").agg(
        F.count(F.lit(1)).alias("triangles")
    )


def label_propagation(pairs: DataFrame, rounds: int = 3) -> DataFrame:
    """Deterministic synchronous label propagation (LPA) communities.

    label_0(v) = v; label_{k+1}(v) = the most frequent label among
    v's neighbors at round k, ties broken toward the SMALLEST label —
    the (count DESC, label ASC) rule that makes synchronous LPA fully
    deterministic (plain LPA's random tie-break is irreproducible
    across partitionings). On a near-dup pair graph the communities
    are the dup clusters, but unlike connected components LPA splits
    chains of weak links between dense cores — the
    template-vs-coincidence separation components can't give.

    Scale: per round, one join of the label frame onto the edge list
    (both keyed by node id) and a two-level aggregate — (node, label)
    vote counts map-side combined, then a node-keyed ``max_by(label,
    (count, -label))`` pick, which is an aggregate, NOT a window: no
    per-node row sort, no row_number exchange. The edge frame is
    localCheckpoint'ed once so pair generation doesn't re-run per
    round; rounds is fixed and small so lineage stays bounded. The
    DuckDB oracle unrolls rounds as chained CTEs with a row_number
    tie-break (same (c DESC, label ASC) order).
    """
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # measured: 1.33 s with vs 1.52 s without (12/12 reps won), though
    # 13 vs 11 jobs — the rounds re-read pair generation without it
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(rounds):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # min_by over (-count, label): max count, ties to SMALLEST
        # label. The negation sits on the count (always numeric) —
        # negating the label would cast string node ids to double
        # (ANSI: job-aborting CAST_INVALID_INPUT; non-ANSI: NULL, i.e.
        # a silently arbitrary tie-break), and struct comparison
        # handles any orderable label type directly.
        labels = votes.groupBy("dst").agg(
            F.min_by(
                "label", F.struct((-F.col("c")).alias("nc"), F.col("label"))
            ).alias("label")
        ).select(F.col("dst").alias("node"), "label")
    return labels
