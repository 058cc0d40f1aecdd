"""Physical-plan audits: the *shape* of the plan is part of the contract.

Correctness tests prove the right rows come back at sf0.01; these prove
the plan would still be the right plan at 100 TB — filters reach the
parquet scan, projections prune the read schema, small dims broadcast,
top-k never global-sorts, and nothing silently degenerates into a
cartesian product. Each assertion is a property Catalyst preserves
at any scale factor, so checking at sf0.001 is sufficient.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from nba_spurs_etl_spark.plans.catalog import queries

from .conftest import SF_SMOKE


def fmt_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def catalog():
    return queries()


def test_q6_full_scan_pushdown(spark, catalog):
    """Every Q6 predicate must reach the parquet scan, and the read
    schema must not include untouched wide columns."""
    plan = fmt_plan(catalog["q6_forecast_revenue"](spark, SF_SMOKE))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    line = pushed[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in line, f"{col} not pushed: {line}"
    schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in schema, f"unpruned read: {schema}"


def test_dim_join_broadcasts(spark, catalog):
    plan = fmt_plan(catalog["join_dim_broadcast"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan


def test_q3_topk_avoids_global_sort(spark, catalog):
    plan = fmt_plan(catalog["q3_shipping_priority"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_pricing_summary_partial_agg_single_shuffle(spark, catalog):
    """Map-side partial agg + one exchange + final agg — the shape that
    keeps a 100 TB groupBy's shuffle proportional to |groups|, not
    |rows|. (WholeStageCodegen spans only appear in the post-execution
    AQE plan, so codegen is not assertable from the static explain.)"""
    plan = fmt_plan(catalog["pricing_summary"](spark, SF_SMOKE))
    assert plan.count("HashAggregate (") >= 2, plan  # partial + final
    assert plan.count("Exchange (") == 1, plan  # tree lines only


def test_salted_agg_two_phases(spark, catalog):
    plan = fmt_plan(catalog["salted_two_phase_agg"](spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2, plan


def test_simhash_pairing_is_banded_not_all_pairs(spark, catalog):
    """SimHash candidate generation must be a bucket EQUI-join keyed on
    (band, bval) — never a cartesian / nested-loop over the corpus.
    The hamming radius and doc_a < doc_b ride as residual conditions."""
    for name in ("dedup_simhash", "dedup_simhash_banded"):
        plan = fmt_plan(catalog[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        keys = [ln for ln in plan.splitlines() if "Left keys" in ln]
        assert keys and "band" in keys[0], plan


def test_ivf_assignment_is_narrow(spark, catalog):
    """IVF corpus->cell assignment must not shuffle the corpus: the
    only exchanges allowed before the probe join are for the tiny
    probe/centroid side and the final per-query rank."""
    plan = fmt_plan(catalog["similarity_topk_ivf"](spark, SF_SMOKE))
    assert "aggregate(" in plan or "Project" in plan
    # corpus scan (embeddings) must flow into the join without an
    # Exchange keyed by cand_id — cell assignment happens in-line.
    assert "hashpartitioning(cand_id" not in plan, plan


def test_corpus_pipeline_single_shuffle_single_scan(spark, catalog):
    """The composed filter->dedup->chunk->split chain must fuse into one
    parquet scan and exactly one exchange (the content-hash dedup
    window); filters and chunk generation stay scan-side. More
    exchanges would mean the stage composition introduced joins."""
    plan = fmt_plan(catalog["corpus_pipeline"](spark, SF_SMOKE))
    # "(n) <Node>" detail headers appear exactly once per physical node
    # (the tree rendering repeats the names)
    import re

    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(scans) == 1, plan
    assert len(exchanges) == 1, plan
    assert "Generate" in plan, plan  # chunk explode is a generator, not a join


def test_q19_disjunction_residuals_push_to_both_scans(spark, catalog):
    """Catalyst must extract the single-side implications of the
    OR-of-ANDs: quantity bounds onto the lineitem scan, brand/size
    bounds onto the part scan — at 100 TB this is most of the I/O."""
    plan = fmt_plan(catalog["q19_disjunctive_predicates"](spark, SF_SMOKE))
    pushed = "\n".join(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "l_quantity" in pushed, pushed
    assert "p_brand" in pushed, pushed
    assert "BroadcastHashJoin" in plan, plan


def test_q17_threshold_join_stays_shuffle_free_on_part_dim(spark, catalog):
    """The brand-part dim must broadcast; the per-part threshold agg is
    the only legitimate lineitem shuffle besides the final scalar."""
    plan = fmt_plan(catalog["q17_small_quantity_revenue"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_funnel_single_shuffle_for_all_stages(spark, catalog):
    """Four chained stage minima must share one user_id exchange — the
    property that makes stage count free at scale."""
    plan = fmt_plan(catalog["events_funnel"](spark, SF_SMOKE))
    n_window = plan.count("Window")
    assert n_window >= 4, plan
    # exchanges: one for the windows, one for the final dedup/agg pair
    n_exchange = sum(
        1 for ln in plan.splitlines() if ln.strip().startswith("Exchange")
    )
    assert n_exchange <= 3, f"{n_exchange} exchanges\n{plan}"


def test_quantize_is_narrow_map(spark, catalog):
    """Quantization must compile to a pure scan+project: no exchange,
    no aggregate — it pipelines behind any upstream stage for free."""
    plan = fmt_plan(catalog["embedding_int8_quantize"](spark, SF_SMOKE))
    assert "Exchange" not in plan, plan


def test_segment_enrich_broadcasts_dim(spark, catalog):
    """The customer dim must broadcast so the event fact never shuffles
    for the join — the only exchange is the tiny final agg."""
    plan = fmt_plan(catalog["events_segment_enrich"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q12_pushes_lineitem_filters(spark, catalog):
    """The single-table conjuncts (returnflag IN, shipdate range) must
    reach the lineitem scan even though the cross-table date predicate
    can only run post-join."""
    plan = fmt_plan(catalog["q12_shipmode_priority"](spark, SF_SMOKE))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = " ".join(pushed)
    assert "l_returnflag" in joined, plan
    assert "l_shipdate" in joined, plan


def test_interval_join_is_hash_not_cartesian(spark, catalog):
    """The time-range predicate must ride the user_id equi-join as a
    post-join condition — never degenerate into a nested loop."""
    plan = fmt_plan(catalog["events_click_purchase_join"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def count_nodes(plan: str, node: str) -> int:
    """Count physical-plan nodes of a type in ``explain("formatted")``
    output. Each node prints twice (tree line + detail heading); the
    ``(N) <Node>`` detail heading counts each exactly once."""
    return sum(
        1
        for ln in plan.splitlines()
        if re.match(rf"\(\d+\) {re.escape(node)}\b", ln.strip())
    )


def test_table_profile_single_scan(spark, catalog):
    """The melt must read orders ONCE (one parquet scan node), unlike
    the per-column UNION oracle that re-reads it 6x."""
    plan = fmt_plan(catalog["table_profile_orders"](spark, SF_SMOKE))
    n_scans = count_nodes(plan, "Scan parquet")
    assert n_scans == 1, f"{n_scans} scans\n{plan}"


def test_linear_fit_single_pass(spark, catalog):
    """Five moment sums must come from ONE grouped pass over lineitem:
    one scan, partial+final agg, one exchange."""
    plan = fmt_plan(catalog["stats_linear_fit"](spark, SF_SMOKE))
    n_scans = count_nodes(plan, "Scan parquet")
    assert n_scans == 1, plan
    n_exchange = count_nodes(plan, "Exchange")
    assert n_exchange == 1, f"{n_exchange} exchanges\n{plan}"


def test_kmeans_assignment_is_narrow(spark):
    """A single Lloyd assignment round (literal centroids) must be a
    pure narrow map over the corpus — no aggregation/join exchanges.
    Allowed: ONLY the conditional spread_for_compute repartition (r11,
    guide §2.5 — fires when the input has fewer files than cores, as
    in the single-file smoke layout; a well-laid-out table gets zero
    exchanges). A RoundRobin/hash repartition is distribution, not a
    plan widening: the assignment itself must stay join/agg-free."""
    from nba_spurs_etl_spark.operators.clustering import kmeans_lloyd
    from nba_spurs_etl_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = fmt_plan(kmeans_lloyd(emb, "vec_id", "embedding", k=4, iters=1))
    # r11: the corpus base is spread (conditional, §2.5) and lazily
    # localCheckpoint'ed once for all Lloyd actions, so the final
    # assignment plan reads the cached RDD — the assignment itself
    # must still be a pure narrow map: zero exchanges, no join/agg.
    assert count_nodes(plan, "Exchange") == 0, plan
    assert "Join" not in plan, plan
    assert count_nodes(plan, "HashAggregate") == 0, plan
    assert "Scan ExistingRDD" in plan or count_nodes(
        plan, "Scan parquet") == 1, plan
    # The checkpoint hides everything upstream behind the LogicalRDD
    # leaf, so also pin the PRE-checkpoint base (ADVICE r11): one
    # parquet scan, at most the conditional spread exchange, and no
    # join/agg may sneak into the feature-frame build.
    from nba_spurs_etl_spark.operators.clustering import _kmeans_base_pre

    pre_plan = fmt_plan(_kmeans_base_pre(emb, "vec_id", "embedding"))
    assert count_nodes(pre_plan, "Scan parquet") == 1, pre_plan
    assert count_nodes(pre_plan, "Exchange") <= 1, pre_plan
    assert "Join" not in pre_plan, pre_plan
    assert count_nodes(pre_plan, "HashAggregate") == 0, pre_plan


def test_decontaminate_broadcasts_benchmark_grams(spark, catalog):
    """The corpus-side gram stream must NOT shuffle: the benchmark gram
    set broadcasts, so the only exchange carries per-doc hit counts."""
    plan = fmt_plan(catalog["corpus_decontaminate"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Star-schema staple at 100 TB: a filter on the dim side must
    prune the partitioned fact's scan AT RUNTIME (DPP subquery in the
    plan), so the fact reads |selected partitions|, not the table."""
    from pyspark.sql import functions as F

    fact = spark.range(20000).select(
        "id", (F.col("id") % 20).alias("part_key"), (F.col("id") * 2).alias("v")
    )
    fact.write.partitionBy("part_key").mode("overwrite").parquet(
        str(tmp_path / "fact")
    )
    dim = spark.range(20).select(
        F.col("id").alias("part_key"),
        F.concat(F.lit("g"), F.col("id") % 4).alias("grp"),
    )
    j = (
        spark.read.parquet(str(tmp_path / "fact"))
        .join(dim.filter(F.col("grp") == "g1"), "part_key")
        .groupBy("part_key")
        .agg(F.sum("v"))
    )
    assert "dynamicpruning" in fmt_plan(j), fmt_plan(j)


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark, tmp_path):
    """Fact-to-fact shuffle joins with a selective build side must get
    a runtime bloom filter on the probe side (might_contain in the
    plan): at scale this drops most probe rows BEFORE the exchange.
    Thresholds are lowered to fixture sizes; the assertion is that the
    session's planner inserts the filter when sizes qualify."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        spark.range(100000).select(
            F.col("id").alias("k"), (F.col("id") % 1000).alias("x")
        ).write.mode("overwrite").parquet(str(tmp_path / "b1"))
        spark.range(100000).select(
            (F.col("id") + 50000).alias("k"), (F.col("id") % 7).alias("y")
        ).write.mode("overwrite").parquet(str(tmp_path / "b2"))
        b1 = spark.read.parquet(str(tmp_path / "b1"))
        b2 = spark.read.parquet(str(tmp_path / "b2"))
        plan = fmt_plan(b1.join(b2.filter(F.col("y") == 3), "k"))
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_contrastive_negatives_broadcasts_reps(spark, catalog):
    """The bucket-representative table must broadcast onto the probe
    stream — a shuffled rep join would move the corpus for a
    kilobyte-sized table."""
    plan = fmt_plan(catalog["contrastive_negatives"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_encode_broadcasts_vocab(spark, catalog):
    """The V-row vocabulary joins the token stream as a broadcast; the
    token stream itself must not shuffle for the join."""
    plan = fmt_plan(catalog["vocab_encode_docs"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_checksum_single_exchange(spark, catalog):
    """The bucketed checksum is one map-combined aggregation: exactly
    one exchange, carrying |buckets| partial rows per task."""
    plan = fmt_plan(catalog["table_checksum_buckets"](spark, SF_SMOKE))
    assert plan.count("Exchange (") == 1, plan  # tree lines only
    assert plan.count("HashAggregate (") >= 2  # partial + final


def test_zorder_key_is_narrow(spark, catalog):
    """The z-key computation itself adds no data shuffle: the
    bucket-profile query's exchanges are the profile groupBy plus the
    4-number scalar min/max partial (which then broadcasts) — the
    interleave expression never moves rows."""
    plan = fmt_plan(catalog["zorder_orders_buckets"](spark, SF_SMOKE))
    assert plan.count("BroadcastExchange (") == 1  # min/max frame
    # tree "Exchange (" lines: scalar-agg partial + profile groupBy
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 2, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_scd2_asof_join_is_hash_on_key(spark, catalog):
    """The point-in-time dimension lookup must join hash/broadcast on
    user_id with the interval containment as a residual — never a
    nested-loop over intervals."""
    plan = fmt_plan(catalog["scd2_asof_enrich"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_running_sum_avoids_single_task_window(spark, catalog):
    """The two-phase global prefix sum must never plan the naive
    unpartitioned data-scale window: exactly one data-scale shuffle
    (hashpartitioning on the bucket id, feeding the bucket-partitioned
    local window); the offsets side is map-side pre-aggregated before
    its exchange; no rangepartitioning (whose re-sampled boundaries
    could disagree between plan subtrees)."""
    plan = fmt_plan(catalog["orders_running_revenue"](spark, SF_SMOKE))
    # the local window partitions by the bucket id
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("_bkt" in s for s in win_specs), win_specs
    # no range partitioning anywhere
    assert "rangepartitioning" not in plan
    # every hashpartitioning exchange is on the bucket id
    hash_ex = re.findall(r"Arguments: hashpartitioning\(([^,]+),", plan)
    assert hash_ex and all("_bkt" in a for a in hash_ex), hash_ex
    # the offsets pass is partial-aggregated BEFORE its shuffle: a
    # HashAggregate with partial_sum must sit under an Exchange
    assert "partial_sum" in plan
    # exactly one SinglePartition exchange (the |buckets|-row offsets
    # window) — the data side must never collapse to one partition
    assert plan.count("SinglePartition") == 1


def test_concurrency_sweep_runs_on_two_phase_prefix(spark, catalog):
    plan = fmt_plan(catalog["events_concurrency_hourly"](spark, SF_SMOKE))
    assert "rangepartitioning" not in plan
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("_bkt" in s for s in win_specs), win_specs
    assert plan.count("SinglePartition") == 1


def test_bloom_decontaminate_probes_broadcast_bits(spark, catalog):
    """The bloom variant must probe a BROADCAST compressed words table
    (never a sort-merge join of corpus grams against eval grams), and
    the corpus-gram explode must feed the bloom filter directly —
    the gram stream dies in its own stage when bits miss.

    The one join allowed to be non-broadcast in the static plan is the
    final per-doc report LEFT JOIN: its build side sits above the
    bench-grams localCheckpoint (computed once, consumed by both the
    words build and the exact verify), whose stats are unknown at plan
    time — AQE re-plans that join from runtime sizes, and at scale a
    shuffle there is correct anyway (hits is bounded by |docs|, not
    gram volume)."""
    plan = fmt_plan(catalog["corpus_decontaminate_bloom"](spark, SF_SMOKE))
    # gram-volume joins never sort-merge; only the scalar-rows report
    # join may (and it must be the LeftOuter one)
    smj = re.findall(r"SortMergeJoin (\w+)", plan)
    assert set(smj) <= {"LeftOuter"}, smj
    # the words-table probe and the exact verify join both broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "bit_or" in plan  # the compressed filter build


def test_prefix_candidates_post_only_prefix_tokens(spark, catalog):
    """Prefix-filtered jaccard: the posting-list pair emission must sit
    above a rank filter (row_number <= prefix length), not the full
    token stream, and verification must be array_intersect (row-local),
    never a second posting self-join."""
    plan = fmt_plan(catalog["dedup_jaccard_prefix_filtered"](spark, SF_SMOKE))
    assert "row_number" in plan
    assert "array_intersect" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_aes_topk_avoids_global_sort(spark, catalog):
    """A-ES exact-k sampling is an orderBy(key).limit(k): must compile
    to TakeOrderedAndProject (per-partition top-k + driver merge),
    never a global Sort+Exchange."""
    plan = fmt_plan(catalog["orders_sample_aes_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_prunes_corpus_via_broadcast_terms(spark, catalog):
    """BM25's corpus token stream must be pruned to query terms by a
    BROADCAST join before any aggregation exchange — only matching
    token hits shuffle into the tf groupBy (the full-stream groupBy
    and any sort-merge join are the forbidden shapes)."""
    plan = fmt_plan(catalog["search_bm25_topk"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_containment_single_posting_pass(spark, catalog):
    """Both containment directions must fan out from one symmetric
    intersection count — a second posting-list self-join would double
    the dominant shuffle. Pin: exactly one partial collect_list
    aggregation (the posting-bucket pair emission) in the plan."""
    plan = fmt_plan(catalog["dedup_containment"](spark, SF_SMOKE))
    assert plan.count("partial_collect_list") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_skyline_joins_frontier_by_broadcast(spark, catalog):
    """The skyline join-back attaches a per-(priority, date) frontier
    frame (~distinct dates) to the fact table: it must broadcast, and
    the 2-D maxima scan must never degenerate into a cartesian
    NOT-EXISTS product."""
    plan = fmt_plan(catalog["orders_skyline_pareto"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_label_propagation_picks_winner_without_window(spark, catalog):
    """LPA's per-node winner is a max_by AGGREGATE over (count,
    -label), not a row_number window: the plan must contain no Window
    operator (a per-node sort exchange per round would dominate at
    scale)."""
    plan = fmt_plan(catalog["graph_label_propagation"](spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_copurchase_lift_broadcasts_scalar_n(spark, catalog):
    """The basket-count scalar N attaches via a 1-row broadcast
    nested-loop join; the basket self-join itself is keyed on
    l_orderkey (hash join), never a cartesian product."""
    plan = fmt_plan(catalog["part_copurchase_lift"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_markov_normalizer_windows_aggregated_frame(spark, catalog):
    """The transition-probability normalizer must window the k*k
    aggregated matrix, not the event stream: exactly one Window in the
    plan (the per-user lead) plus partial aggregation before the
    final count exchange."""
    plan = fmt_plan(catalog["events_markov_transitions"](spark, SF_SMOKE))
    # one lead window over users + one sum window over the tiny matrix
    # (formatted explain names each node twice: tree + detail section)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan
    assert "partial_count" in plan, plan


def test_salted_join_salts_reach_join_keys(spark, catalog):
    """The salted join must actually join on (key, salt) — salt in
    the join keys, an explode generating the dim replicas, and no
    broadcast (a broadcast join would make salting a no-op: the pin
    disables nothing, it proves the operator builds the salted
    shuffle shape it promises)."""
    plan = fmt_plan(catalog["orders_salted_skew_join"](spark, SF_SMOKE))
    assert "__salt" in plan, plan
    assert "Generate" in plan and "explode" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_abc_classification_uses_two_phase_prefix_sum(spark, catalog):
    """The ABC running share ranks |parts| keys — key-cardinality, so
    the cumulative sum must go through the bucketed two-phase path
    (local windows partitioned by _bkt), never an unpartitioned
    data-scale window; the only SinglePartition exchange is the
    |buckets|-row offsets window (r11: the revenue total now rides
    the boundary-probe job as a literal, not a 1-row broadcast)."""
    plan = fmt_plan(catalog["orders_abc_classification"](spark, SF_SMOKE))
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("_bkt" in s for s in win_specs), win_specs
    assert "rangepartitioning" not in plan
    assert plan.count("SinglePartition") <= 2, plan


def test_advisor_flags_deliberate_antipatterns(spark):
    """plans.advisor.audit_plan fires on the anti-patterns it names:
    a true cartesian (broadcast disabled), a global unpartitioned
    window over a scan, and a row-Python UDF — and stays quiet on a
    clean aggregate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nba_spurs_etl_spark.plans.advisor import audit_plan
    from nba_spurs_etl_spark.sources.catalog import load_table

    od = load_table(spark, SF_SMOKE, "orders")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cart = od.alias("a").crossJoin(od.alias("b"))
        assert [c for c, _ in audit_plan(cart)] == ["CARTESIAN"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    w = Window.orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    glob = od.withColumn("r", F.sum("o_totalprice").over(w))
    assert [c for c, _ in audit_plan(glob)] == ["SINGLE_PARTITION_DATA"]

    from pyspark.sql.functions import udf

    slow = udf(lambda s: (s or "").upper())
    pyrow = od.select(slow("o_orderpriority").alias("u"))
    assert "PYTHON_ROW_UDF" in [c for c, _ in audit_plan(pyrow)]

    clean = od.groupBy("o_orderpriority").count()
    assert audit_plan(clean) == []


def test_advisor_keyed_agg_does_not_excuse_single_partition(spark):
    """VERDICT r07 "What's wrong" №3: the old SINGLE_PARTITION_DATA
    rule exempted ANY SinglePartition exchange whose subtree contained
    a HashAggregate — but an ID-GRAIN aggregation (per-key counts)
    does not reduce cardinality below data scale, so a global window
    over it is still the single-task collapse the rule exists to
    catch. The tightened rule must flag the keyed-agg + global-window
    shape, while still exempting scalar aggregates and explicit
    top-k (TakeOrderedAndProject) producers."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nba_spurs_etl_spark.plans.advisor import audit_plan
    from nba_spurs_etl_spark.sources.catalog import load_table

    od = load_table(spark, SF_SMOKE, "orders")
    per_key = od.groupBy("o_orderkey").agg(
        F.sum("o_totalprice").alias("rev")
    )

    # id-grain agg + unpartitioned running window (no rank filter, so
    # no top-k rewrite can save it) -> must flag
    w = Window.orderBy("rev", "o_orderkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    hidden = per_key.withColumn("run", F.sum("rev").over(w))
    assert "SINGLE_PARTITION_DATA" in [c for c, _ in audit_plan(hidden)]

    # scalar aggregate below the SinglePartition exchange -> exempt
    scalar = od.agg(F.sum("o_totalprice").alias("total"))
    assert audit_plan(scalar) == []

    # explicit limit-then-rank (the global_rank_topk / dsir_topk /
    # vocab_encode_docs form): TakeOrderedAndProject bounds the rows
    # entering the k-row window -> exempt
    wr = Window.orderBy(F.desc("rev"), F.asc("o_orderkey"))
    topk = (
        per_key.orderBy(F.desc("rev"), F.asc("o_orderkey"))
        .limit(10)
        .withColumn("rank", F.row_number().over(wr))
    )
    assert audit_plan(topk) == []


def test_advisor_partitioned_window_group_limit_does_not_excuse(spark):
    """r08 review find: a PARTITIONED WindowGroupLimit (per-key top-k)
    bounds rows per key, not globally — k x |keys| is still data
    scale, so it must not exempt a SinglePartition collapse above it.
    A GLOBAL WindowGroupLimit (unpartitioned rank filter, the
    InferWindowGroupLimit rescue shape) bounds total rows to k and
    stays exempt."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nba_spurs_etl_spark.plans.advisor import audit_plan
    from nba_spurs_etl_spark.sources.catalog import load_table

    od = load_table(spark, SF_SMOKE, "orders")

    # per-key top-5 (partitioned WindowGroupLimit) + global running
    # window -> data-scale single-task collapse, must flag
    wk = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    topk = od.withColumn("rn", F.row_number().over(wk)).filter("rn <= 5")
    wg = Window.orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    hole = topk.withColumn("rs", F.sum("o_totalprice").over(wg))
    assert "SINGLE_PARTITION_DATA" in [c for c, _ in audit_plan(hole)]

    # global rank filter planned as an UNPARTITIONED WindowGroupLimit
    # (exclude the limit-pushdown rewrite so the node actually appears)
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer."
        "LimitPushDownThroughWindow",
    )
    try:
        w = Window.orderBy(F.desc("o_totalprice"))
        legit = od.withColumn("rn", F.rank().over(w)).filter("rn <= 5")
        assert audit_plan(legit) == []
    finally:
        spark.conf.unset("spark.sql.optimizer.excludedRules")


def test_advisor_catalog_is_flag_free(spark, catalog):
    """Every registered batch query passes the advisor audit — the
    catalog-wide generalization of the individual pins (streaming
    entries execute drains at build time and are covered by their own
    batch twins). Per-entry suppressions (registry advisor_allow) are
    honored but each must carry a written bounded-cardinality
    justification — register() enforces the non-empty allow_why.

    No entry may suppress CARTESIAN, so this is also the catalog-wide
    no-accidental-cartesian check: every batch plan is audited for a
    CartesianProduct with no exemption."""
    from nba_spurs_etl_spark.plans.advisor import audit_plan
    from nba_spurs_etl_spark.plans.catalog import registry

    reg = registry()
    assert not [n for n, q in reg.items() if "CARTESIAN" in q.advisor_allow]
    offenders = {}
    for name, fn in catalog.items():
        if name.startswith("stream_"):
            continue
        finds = audit_plan(fn(spark, SF_SMOKE), allow=reg[name].advisor_allow)
        if finds:
            offenders[name] = finds
    assert not offenders, offenders


def test_advisor_suppressions_are_justified_and_live(spark, catalog):
    """Each advisor_allow suppression (a) carries a non-empty written
    justification and (b) is LIVE — the un-suppressed audit actually
    fires the suppressed code, so stale suppressions can't linger
    after a query is re-planned clean."""
    from nba_spurs_etl_spark.plans.advisor import audit_plan
    from nba_spurs_etl_spark.plans.catalog import registry

    stale = {}
    for name, q in registry().items():
        if not q.advisor_allow or name.startswith("stream_"):
            continue
        assert q.allow_why.strip(), name
        fired = {c for c, _ in audit_plan(q.builder(spark, SF_SMOKE))}
        unused = set(q.advisor_allow) - fired
        if unused:
            stale[name] = sorted(unused)
    assert not stale, f"suppressions no longer firing — remove: {stale}"


def test_dsir_distribution_tables_broadcast(spark, catalog):
    """Both DSIR distribution attachments (the 256-slot weight table
    onto per-doc slot counts, the scalar totals onto the spine) must
    broadcast — nothing corpus-sized may shuffle for them — and the
    ranking must not degenerate into a cartesian."""
    plan = fmt_plan(catalog["corpus_dsir_topk"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_neardup_decontaminate_broadcasts_eval_side(spark, catalog):
    """The eval set's band index and shingle sets broadcast; the corpus
    side never joins itself — no corpus-vs-corpus pair space."""
    plan = fmt_plan(catalog["corpus_decontaminate_neardup"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_neardup_decontaminate_verifies_only_candidates(spark, catalog):
    """The exact-jaccard verify stage must pre-filter the corpus to
    LSH candidates with a broadcast semi-join BEFORE building sorted
    shingle arrays — without it the collect_list aggregation shuffles
    a heavy array for every corpus doc and the candidate filter can't
    be pushed below the aggregation."""
    plan = fmt_plan(catalog["corpus_decontaminate_neardup"](spark, SF_SMOKE))
    assert "LeftSemi" in plan, plan


def test_dsir_single_corpus_tokenization_pass(spark, catalog):
    """All raw-pool statistics (per-doc slot counts, per-slot totals,
    the grand total) hang off ONE (doc, slot) aggregation whose
    exchange is reused — the corpus is tokenized, bigram-exploded and
    hashed exactly once. Pinned with AQE off (the static planner's
    ReusedExchange; AQE reuses the same stages at runtime via its
    stage cache keyed on the identical canonicalized subtree)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = catalog["corpus_dsir_topk"](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in plan, plan


def test_unpartitioned_topk_never_sorts_full_data(spark, catalog):
    """vocab_encode_docs (k=256 vocab ranking) and dsir_topk (k=100)
    use the EXPLICIT limit-then-rank two-phase form (r08, VERDICT r07
    item 1): orderBy().limit(k) plans as TakeOrderedAndProject — each
    map task keeps a k-row heap, the driver merges — and the rank
    window then runs over k rows total. Pin the physical shape: a
    TakeOrderedAndProject (or WindowGroupLimit) must bound the rows
    below the window, and nothing may global-sort the full corpus
    (vocab) / raw pool (dsir). Until r07 these relied on Catalyst's
    LimitPushDownThroughWindow rewriting the rank<=k filter form into
    the same shape; the explicit form no longer depends on that
    optimizer rule, and this pin catches any regression back to the
    rewrite-dependent form under a conf/upgrade that drops it."""
    for name, k in (("vocab_encode_docs", 256), ("corpus_dsir_topk", 100)):
        df = catalog[name](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        safe = (
            f"TakeOrderedAndProject(limit={k}" in plan
            or "WindowGroupLimit" in plan
        )
        assert safe, f"{name} lost the top-k pushdown rewrite:\n{plan}"
        # and nothing may global-sort the full data below the window:
        # `Sort [...], true, 0` is a global sort in toString form
        assert not re.search(r"\bSort \[[^\]]*\], true,", plan), plan


def test_survey_s2_ids_all_covered_and_index_current():
    """VERDICT r08 item 8: the SURVEY §2 coverage map is GENERATED
    from registry group tags (plans/coverage_map.py), so it cannot
    drift from the catalog. Three gates: every §2 operator id is
    declared by some registered entry's group (or by a named pytest
    for side-effecting sink/lifecycle ids), every such test still
    exists, and the rendered index block in docs/COVERAGE.md is
    current (regenerate with scripts/gen_coverage_map.py)."""
    import glob
    import os

    from nba_spurs_etl_spark.plans import coverage_map as cm

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ids = cm.survey_ids(os.path.join(repo, "SURVEY.md"))
    # S1..S15 + P + J + A + W + O + U + F + the three section ids
    assert len(ids) >= 60, ids
    idx = cm.registry_id_index()
    missing = [i for i in ids if i not in idx and i not in cm.TEST_GATED]
    assert not missing, f"SURVEY §2 ids with no gate: {missing}"
    src = "".join(
        open(p, encoding="utf-8").read()
        for p in glob.glob(os.path.join(repo, "tests", "*.py"))
    )
    for t in sorted(set(cm.TEST_GATED.values())):
        assert f"def {t}(" in src, f"TEST_GATED names a dead test: {t}"
    block = cm.render_index(os.path.join(repo, "SURVEY.md"))
    assert "**UNCOVERED**" not in block
    with open(os.path.join(repo, "docs", "COVERAGE.md"),
              encoding="utf-8") as f:
        assert block in f.read(), (
            "docs/COVERAGE.md §2 index is stale — run "
            "scripts/gen_coverage_map.py"
        )


def test_recommendations_rank_is_window_group_limited(spark, catalog):
    """gold_players_recommendations' per-metric top-5 (the reference's
    7 global ROW_NUMBERs, melted to one window partitioned by metric)
    must plan a WindowGroupLimit below the Window (VERDICT r08 item 7):
    InferWindowGroupLimit currently rescues the rank<=5 filter shape,
    and a 10x probe (docs/SCALE.md) measured 43x on the unprotected
    form — this pin catches any conf/upgrade/refactor that drops the
    rescue, instead of the regression surfacing as a full per-metric
    sort of every player at scale."""
    df = catalog["gold_players_recommendations"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit [metric" in plan, plan
    # rank over ALL players happens before the position filter by
    # contract, but nothing may global-sort the full player pool
    assert not re.search(r"\bSort \[[^\]]*\], true,", plan), plan


def test_quality_model_filter_is_one_pass(spark, catalog):
    """The model-based quality filter must stay a single map-combined
    aggregation: one Exchange (the doc-keyed agg), partial aggregation
    before it, and NO join/broadcast anywhere — the md5-derived weight
    is a per-row expression, so any join in this plan means someone
    reintroduced a weight-table lookup the operator exists to avoid."""
    plan = fmt_plan(catalog["corpus_quality_model_filter"](spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    assert "Join" not in plan and "Broadcast" not in plan, plan


def test_streaks_single_aggregation_tree(spark, catalog):
    """gold_streaks_and_rivals (r07 rework, VERDICT r06 item 2): all
    four picks must come from ONE aggregation tree — no join of any
    kind and no broadcast build (each broadcast was a separate Spark
    job; the model measured 1 job / 1.97x vs dbt after the fold). A
    Join or Broadcast reappearing here means someone reintroduced the
    extreme-values-subquery-and-join-back shape."""
    plan = fmt_plan(catalog["gold_streaks_and_rivals"](spark, SF_SMOKE))
    assert "Join" not in plan and "Broadcast" not in plan, plan
    # the melt (generator) and the two aggregation levels must be there
    assert "Generate" in plan, plan
    assert plan.count("HashAggregate") >= 2 or (
        "SortAggregate" in plan
    ), plan


def test_recommendations_single_broadcast(spark, catalog):
    """gold_players_recommendations (r07 rework, VERDICT r06 item 3):
    exactly ONE broadcast build may remain (the tiny weakness-flag
    side); the per-player union fold must join via a non-broadcast
    strategy (merge — zero exchanges over the SinglePartition fixture
    cache). Two broadcast exchanges means the r06 three-job shape is
    back."""
    # toString keeps join keys inline (formatted explain splits them
    # into detail sections), and a global BroadcastExchange count
    # would also see the exchanges STORED inside the cached weaknesses
    # subtree's plan text — pin the two live join strategies by key.
    df = catalog["gold_players_recommendations"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"SortMergeJoin \[player_id", plan), plan
    assert not re.search(r"BroadcastHashJoin \[player_id", plan), plan
    assert re.search(r"BroadcastHashJoin \[weakness_type", plan), plan


def test_tws_registration_tracks_protobuf_capability():
    """VERDICT r09 item 7: stream_user_profile_tws registers itself
    exactly when transformWithStateInPandas is usable (its Python
    state-server protocol needs google.protobuf, absent from this
    container). Membership must track the probe in BOTH directions so
    a future env change flips the catalog automatically — and the
    probe must be honest about the actual import state. (If the env
    ever grows protobuf, regenerate docs/COVERAGE.md and re-run
    bench.py — the freshness gates will demand both.)"""
    from nba_spurs_etl_spark.plans import stream_queries as sq
    from nba_spurs_etl_spark.plans.registry import queries

    try:
        import google.protobuf  # noqa: F401

        have = True
    except ImportError:
        have = False
    assert sq.tws_available() == have
    assert ("stream_user_profile_tws" in queries()) == sq.tws_available()


def test_stream_scratch_sweeps_default_tmp(monkeypatch, tmp_path):
    """A stream entry's scratch copy left under /tmp by a run made
    before TMPDIR was set is removed when the entry next runs with
    TMPDIR pointing elsewhere."""
    import os
    import shutil
    import tempfile

    from nba_spurs_etl_spark.plans import stream_queries as sq

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    tag = f"sweep_test_{os.getpid()}"
    work = sq._work_dir(tag, SF_SMOKE)
    assert os.path.dirname(work) == str(tmp_path)
    stale = os.path.join("/tmp", os.path.basename(work))
    os.makedirs(stale, exist_ok=True)
    try:
        with open(os.path.join(stale, "part-0"), "w") as f:
            f.write("left by an earlier run")
        assert sq._work_dir(tag, SF_SMOKE) == work
        assert not os.path.exists(stale)
    finally:
        shutil.rmtree(stale, ignore_errors=True)


#: Spark jobs one build + noop drain launches at SF_SMOKE: the entries
#: of perfbench's ``query`` workload, then the connected-components
#: consumers and the ``graph_*`` entries, whose iterative kernels
#: checkpoint per round. Plan building reads table schemas from Parquet
#: footers, so the first group's builds launch no job except the ANN
#: codebook sample collect and dedup's batch checkpoint. A change that
#: adds a job fails here; one that removes a job lowers its pin.
QUERY_JOB_BUDGET = {
    "search_bm25_topk": 12,
    "text_repetition": 1,
    "dedup_incremental_batch": 7,
    "similarity_topk_ivf_pq": 6,
    "pricing_summary": 2,
    "q5_local_supplier_volume": 7,
    "q18_large_orders": 4,
    "dedup_components_star": 13,
    "dedup_minhash_components": 13,
    "corpus_split_leakage_safe": 16,
    "dedup_keep_best_per_cluster": 15,
    "dedup_filtered_corpus": 16,
    "customer_entity_resolution": 26,
    "semantic_dedup_corpus": 15,
    "graph_pagerank_dups": 12,
    "graph_triangles_dups": 7,
    "graph_label_propagation": 13,
}


@pytest.mark.parametrize("name", sorted(QUERY_JOB_BUDGET))
def test_query_entry_job_budget(spark, name):
    from .conftest import jobs_of_build_and_drain

    assert jobs_of_build_and_drain(spark, name) == QUERY_JOB_BUDGET[name]
