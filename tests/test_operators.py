"""Unit/property tests for operator primitives.

Parity tests cover the happy path at corpus scale; these cover edge
cases and algebraic properties with adversarial small inputs
(hypothesis generates the graphs/strings, a pure-python model checks
the Spark answer).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nba_spurs_etl_spark.normalize import normalize_columns, normalized_name
from nba_spurs_etl_spark.operators.dedup import (
    connected_components,
    shingles,
)
from nba_spurs_etl_spark.operators.joins import asof_join_backward


# ---------------------------------------------------------------------------
# shingles: short-document guard
# ---------------------------------------------------------------------------


def test_shingles_short_docs(spark):
    df = spark.createDataFrame(
        [("",), ("one",), ("one two",), ("one two three",), ("a b c d",)],
        ["text"],
    )
    rows = df.select(F.size(shingles("text", 3)).alias("n")).collect()
    assert [r.n for r in rows] == [0, 0, 0, 1, 2]


# ---------------------------------------------------------------------------
# connected components vs union-find model
# ---------------------------------------------------------------------------


def _model_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node of the set
    labels: dict[int, int] = {}
    for node in parent:
        root = find(node)
        labels[node] = min(labels.get(root, root), root)
    return {n: find(n) for n in parent}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], ["doc_a", "doc_b"]
    )
    got = {r.doc: r.component for r in connected_components(pairs).collect()}
    want = _model_components(edges)
    assert got == want


# ---------------------------------------------------------------------------
# as-of join vs brute-force model
# ---------------------------------------------------------------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(  # (key, time) probes
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=1,
        max_size=25,
    ),
    st.lists(  # (key, time, value) references
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 999)),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_join_matches_bruteforce(spark, probes, refs):
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(probes)], ["pid", "k", "t"]
    )
    right = spark.createDataFrame(
        [(i, k, t, v) for i, (k, t, v) in enumerate(refs)],
        "rid long, k long, rt long, v long",
    )
    got = {
        r.pid: r.matched_rt
        for r in asof_join_backward(
            left,
            right,
            key="k",
            left_time="t",
            right_time="rt",
            payload={"rt": "matched_rt"},
            right_tiebreak="rid",
        ).collect()
    }
    for i, (k, t) in enumerate(probes):
        eligible = [rt for (rk, rt, _) in refs if rk == k and rt <= t]
        want = max(eligible) if eligible else None
        assert got[i] == want, (i, k, t, eligible)


# ---------------------------------------------------------------------------
# normalization properties
# ---------------------------------------------------------------------------


@given(st.lists(st.text(alphabet="aAbB_", min_size=1, max_size=8),
                min_size=1, max_size=6, unique_by=lambda s: s.lower()))
@settings(max_examples=10, deadline=None)
def test_normalized_name_idempotent(cols):
    for c in cols:
        once = normalized_name(c)
        assert normalized_name(once) == once


def test_normalize_columns_no_active_rename_for_season_upper(spark):
    # the reference's 'SEASON' mapping entry is dead code (SURVEY §1.2):
    # SEASON folds to 'season' untouched, SEASON_YEAR renames to season
    df1 = spark.createDataFrame([("x",)], ["SEASON"])
    assert normalize_columns(df1).columns == ["season"]
    df2 = spark.createDataFrame([("x",)], ["SEASON_YEAR"])
    assert normalize_columns(df2).columns == ["season"]


# ---------------------------------------------------------------------------
# partition pruning proof (silver warehouse layout)
# ---------------------------------------------------------------------------


def test_silver_games_partition_pruning(spark, tmp_path):
    from nba_spurs_etl_spark import synth
    from nba_spurs_etl_spark.sources.silver import save_warehouse

    games = synth.build_games(spark)
    save_warehouse({"games": games}, str(tmp_path))
    scan = spark.read.parquet(str(tmp_path / "games")).filter(
        F.col("season") == "2024-25"
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "season" in plan


# ---------------------------------------------------------------------------
# hot-shingle frequency cap (the skew control for shingle ops at scale)
# ---------------------------------------------------------------------------


def test_max_shingle_freq_drops_hot_shingles(spark):
    """A stop-phrase shared by every doc must not connect them once the
    cap excludes it; genuinely shared rare shingles still pair."""
    from nba_spurs_etl_spark.operators.dedup import (
        exploded_shingles,
        ngram_jaccard_pairs,
    )

    hot = "the quick brown"  # one 3-gram shared by ALL docs
    docs = [
        (1, hot + " alpha beta gamma delta"),
        (2, hot + " epsilon zeta eta theta"),
        (3, hot + " alpha beta gamma delta"),  # near-dup of 1 beyond the hot gram
        (4, hot + " iota kappa lambda mu"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    capped = exploded_shingles(df, "doc_id", "text", n=3, max_shingle_freq=2)
    kept = {r.shingle for r in capped.select("shingle").distinct().collect()}
    assert hot not in kept  # appears in 4 docs > cap 2
    assert any("alpha beta gamma" in s for s in kept)  # 2 docs <= cap

    pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.5, max_shingle_freq=2
        ).collect()
    }
    # docs 1 and 3 share their entire capped shingle set -> jaccard 1;
    # every other pair only shared the hot gram, now dropped
    assert pairs == {(1, 3)}

    uncapped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.0
        ).collect()
    }
    assert (1, 2) in uncapped  # sanity: without the cap the hot gram pairs all


# ---------------------------------------------------------------------------
# range join vs brute-force model
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None)
@given(
    points=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 200)), min_size=0, max_size=25
    ),
    intervals=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 180), st.integers(1, 60)),
        min_size=0,
        max_size=12,
    ),
    width=st.sampled_from([7, 16, 50]),
)
def test_range_join_matches_bruteforce(spark, points, intervals, width):
    """Bucketed range join == nested-loop containment model for any
    graph of points/intervals and any bucket width (width only changes
    the plan, never the rows)."""
    from nba_spurs_etl_spark.operators.joins import range_join_buckets

    if not points or not intervals:
        return
    pts = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(points)], ["k", "t", "pid"]
    )
    ivs = spark.createDataFrame(
        [(k, s, s + d, j) for j, (k, s, d) in enumerate(intervals)],
        ["k", "s", "e", "iid"],
    )
    got = {
        (r.pid, r.iid)
        for r in range_join_buckets(pts, ivs, "k", "t", "s", "e", width).collect()
    }
    want = {
        (i, j)
        for i, (pk, t) in enumerate(points)
        for j, (ik, s, d) in enumerate(intervals)
        if pk == ik and s <= t < s + d
    }
    assert got == want


# ---------------------------------------------------------------------------
# salted two-phase agg == direct groupBy (skewed inputs included)
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["hot", "hot", "hot", "a", "b"]),  # skew toward 'hot'
            st.decimals(
                min_value=-1000, max_value=1000, places=2, allow_nan=False
            ),
        ),
        min_size=1,
        max_size=60,
    ),
    buckets=st.sampled_from([1, 3, 16]),
)
def test_two_phase_agg_equals_direct_groupby(spark, rows, buckets):
    from nba_spurs_etl_spark.operators.rollups import two_phase_agg

    df = spark.createDataFrame(
        [(k, float(v)) for k, v in rows], ["event_type", "value"]
    )
    got = {
        tuple(r)
        for r in two_phase_agg(df, ["event_type"], "value", buckets).collect()
    }
    want = {
        tuple(r)
        for r in df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# chunking: coverage / overlap / reconstruction properties
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    n_words=st.integers(min_value=1, max_value=120),
    size=st.sampled_from([8, 32]),
    stride=st.sampled_from([5, 8, 24]),
)
def test_chunking_covers_and_reconstructs(spark, n_words, size, stride):
    from nba_spurs_etl_spark.operators.textops import chunk_documents

    if stride > size:
        return  # gaps by construction; not a supported config
    text = " ".join(f"w{i}" for i in range(n_words))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    chunks = sorted(
        chunk_documents(df, "doc_id", "text", size=size, stride=stride).collect(),
        key=lambda r: r.chunk_idx,
    )
    # starts follow the stride grid, idx is dense from 0
    assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
    assert [c.start_word for c in chunks] == [
        1 + i * stride for i in range(len(chunks))
    ]
    # every word index is covered by at least one chunk
    covered = set()
    for c in chunks:
        got = c.chunk_text.split(" ") if c.chunk_text else []
        assert got == [
            f"w{i}" for i in range(c.start_word - 1, c.start_word - 1 + c.chunk_words)
        ]
        assert c.chunk_words == len(got)
        covered |= set(range(c.start_word - 1, c.start_word - 1 + c.chunk_words))
    assert covered == set(range(n_words))
    # stride-prefix concatenation rebuilds the doc exactly
    rebuilt = []
    for c in chunks:
        rebuilt.extend(c.chunk_text.split(" ")[:stride])
    assert rebuilt[:n_words] == text.split(" ")


# ---------------------------------------------------------------------------
# splits: partitioning-invariance + disjoint-salt independence
# ---------------------------------------------------------------------------


def test_split_assignment_partitioning_invariant(spark):
    from nba_spurs_etl_spark.operators.sampling import assign_splits

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {r.doc: r.split for r in assign_splits(df, "doc_id").collect()}
    b = {
        r.doc: r.split
        for r in assign_splits(df.repartition(13), "doc_id").collect()
    }
    assert a == b
    frac_train = sum(1 for s in a.values() if s == "train") / len(a)
    assert 0.8 < frac_train < 0.97


def test_stratified_sample_is_deterministic_subset(spark):
    from nba_spurs_etl_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 3 == 0 else "fr") for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept1 = stratified_sample(df, "doc_id", "lang", {"en": 200}).collect()
    kept2 = stratified_sample(df.repartition(7), "doc_id", "lang", {"en": 200}).collect()
    assert sorted(map(tuple, kept1)) == sorted(map(tuple, kept2))
    by_stratum = {}
    for r in kept1:
        by_stratum.setdefault(r.stratum, 0)
        by_stratum[r.stratum] += 1
    # fr has no rate -> default 1000 permille keeps everything
    assert by_stratum["fr"] == sum(1 for _, l in rows if l == "fr")
    # en is downsampled hard (200 permille of 100 docs)
    assert 0 < by_stratum["en"] < 50


# ---------------------------------------------------------------------------
# c4 / gopher filters: rule boundaries on hand-built docs
# ---------------------------------------------------------------------------


def test_c4_filter_rule_boundaries(spark):
    from nba_spurs_etl_spark.operators.textops import c4_filters

    good = " ".join(["the word lives here fine"] * 4)  # 20 words, en
    rows = [
        (1, good, "en"),                             # passes all
        (2, "too short text", "en"),                 # min_words
        (3, " ".join(["a"] * 25), "en"),             # mean word len < 2.5
        (4, good.replace("word", "w" * 16), "en"),   # max word len
        (5, good + " {", "en"),                      # brace
        (6, " ".join(["palabra"] * 20), "en"),       # no en stopword
        (7, " ".join(["某些词没有停用词"] * 20), "zh"),  # zh: stopword waived
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r.doc: r for r in c4_filters(df, "doc_id", "text", "lang").collect()}
    assert got[1].c4_keep
    assert not got[2].min_words_ok and not got[2].c4_keep
    assert not got[3].word_len_ok and not got[3].c4_keep
    assert not got[4].max_word_ok and not got[4].c4_keep
    assert not got[5].no_brace and not got[5].c4_keep
    assert not got[6].stopword_ok and not got[6].c4_keep
    assert got[7].stopword_ok  # waived for zh (mean word len fails it anyway)


def test_repetition_features_on_known_docs(spark):
    from nba_spurs_etl_spark.operators.textops import repetition_features

    rows = [
        (1, "a b c d"),        # all distinct
        (2, "a a a a"),        # maximal repetition
        (3, "x"),              # single word: bigram frac must be 0, not crash
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc: r for r in repetition_features(df, "doc_id", "text").collect()}
    assert got[1].dup_word_frac == 0.0 and got[1].top_word_frac == 0.25
    assert got[1].dup_bigram_frac == 0.0
    assert got[2].dup_word_frac == 0.75 and got[2].top_word_frac == 1.0
    assert got[2].dup_bigram_frac == pytest.approx(2 / 3)
    assert not got[2].gopher_keep
    assert got[3].dup_bigram_frac == 0.0


def test_complex_words_col_expressions_do_not_share_a_memo_slot(spark):
    """Two different complex ``words_col`` expressions over the same
    text column must each get their own expressions: neither may be
    served the other's from the expression memo."""
    from nba_spurs_etl_spark.operators.textops import c4_cols, repetition_cols

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a a"), (3, "abcdefghijklmnopqrst b")],
        ["doc", "text"],
    ).withColumn("lang", F.lit("en"))
    whole = F.split(F.col("text"), " ")
    last = F.slice(F.split(F.col("text"), " "), -1, 1)

    def hits(cols, pred):
        return sorted(r.doc for r in df.filter(pred(cols)).collect())

    def repeats(c):
        return c["dup_word_frac"] > 0

    def long_word(c):
        return ~c["max_word_ok"]

    assert hits(repetition_cols("text", words_col=whole), repeats) == [2]
    assert hits(repetition_cols("text", words_col=last), repeats) == []
    assert hits(c4_cols("text", "lang", words_col=whole), long_word) == [3]
    assert hits(c4_cols("text", "lang", words_col=last), long_word) == []


# ---------------------------------------------------------------------------
# CDC merge semantics
# ---------------------------------------------------------------------------


def test_merge_cdc_semantics(spark):
    from nba_spurs_etl_spark.operators.merge import latest_by_key, merge_cdc

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    chg = spark.createDataFrame(
        [
            (2, "U", "b2", 21.0),   # update existing
            (3, "D", None, None),   # delete existing
            (4, "I", "d", 40.0),    # insert new
            (5, "U", "e", 50.0),    # upsert: U on missing key inserts
            (6, "D", None, None),   # delete of absent key: no-op
        ],
        ["k", "op", "s", "v"],
    )
    got = {r.k: (r.s, r.v) for r in merge_cdc(base, chg, ["k"]).collect()}
    assert got == {
        1: ("a", 10.0),
        2: ("b2", 21.0),
        4: ("d", 40.0),
        5: ("e", 50.0),
    }

    log = spark.createDataFrame(
        [(1, 1, "U", "x1"), (1, 3, "D", None), (1, 2, "U", "x2")],
        ["k", "ts", "op", "s"],
    )
    win = latest_by_key(log, ["k"], "ts").collect()
    assert len(win) == 1 and win[0].op == "D"  # highest ts wins


def test_snapshot_diff_key_only(spark):
    """Key-only snapshots (empty compare_cols) must still classify
    added/removed/unchanged — regression for differs=None crash."""
    from nba_spurs_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], ["k"])
    new = spark.createDataFrame([(2,), (3,)], ["k"])
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "added"}


def test_redact_pii_counts_and_ordering(spark):
    from nba_spurs_etl_spark.operators.textops import redact_pii

    rows = [
        (1, "mail me at a.b+c@x-corp.io or 555-0199 thanks"),
        (2, "digits 555-01 in an email p555-0123q@ex.org stay one email"),
        (3, "no pii here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert got[1].n_emails == 1 and got[1].n_phones == 1
    assert got[1].redacted == "mail me at <EMAIL> or <PHONE> thanks"
    # the phone-shaped run inside the email local part must not be
    # counted: emails are scrubbed first
    assert got[2].n_emails == 1 and got[2].n_phones == 0
    assert got[3].n_emails == 0 and got[3].n_phones == 0
    assert got[3].redacted == "no pii here"


# ---------------------------------------------------------------------------
# tf-cosine pairs vs pure-python model
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "cat", "dog"]),
            min_size=0,
            max_size=8,
        ),
        min_size=2,
        max_size=6,
    )
)
def test_tf_cosine_matches_model(spark, docs):
    import math
    from collections import Counter

    from nba_spurs_etl_spark.operators.similarity import tf_cosine_pairs

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): (r.dot, r.cosine)
        for r in tf_cosine_pairs(df, "doc_id", "text", n=2, threshold=0.0).collect()
    }

    def grams(ws):
        return Counter(
            " ".join(ws[i : i + 2]) for i in range(len(ws) - 1)
        )

    expect = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            ga, gb = grams(docs[a]), grams(docs[b])
            dot = sum(ga[t] * gb[t] for t in ga.keys() & gb.keys())
            if dot:
                na = math.sqrt(sum(v * v for v in ga.values()))
                nb = math.sqrt(sum(v * v for v in gb.values()))
                expect[(a, b)] = (dot, dot / (na * nb))

    assert set(got) == set(expect)
    for k, (dot, cos) in expect.items():
        assert got[k][0] == dot
        assert abs(got[k][1] - cos) < 1e-9


# ---------------------------------------------------------------------------
# funnel: strict ordering semantics on crafted sequences
# ---------------------------------------------------------------------------


def test_funnel_requires_strictly_increasing_stages(spark, tmp_path):
    import datetime as dt

    from nba_spurs_etl_spark.plans.catalog import queries

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, minute, etype):
        return (uid * 100 + minute, t0 + dt.timedelta(minutes=minute), uid, etype, 1.0, "{}")

    rows = [
        # user 1: full ordered funnel
        ev(1, 0, "signup"), ev(1, 1, "view"), ev(1, 2, "click"), ev(1, 3, "purchase"),
        # user 2: purchase BEFORE click -> stops at click
        ev(2, 0, "signup"), ev(2, 1, "view"), ev(2, 3, "click"), ev(2, 2, "purchase"),
        # user 3: no signup -> contributes to no stage
        ev(3, 0, "view"), ev(3, 1, "click"), ev(3, 2, "purchase"),
        # user 4: simultaneous signup+view (same ts) -> view NOT after signup
        ev(4, 0, "signup"), (4 * 100 + 99, t0, 4, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = str(tmp_path / "funnel_sf")
    (tmp_path / "funnel_sf").mkdir()
    df.write.parquet(sf + "/events.parquet")

    got = {r.stage: r.users for r in queries()["events_funnel"](spark, sf).collect()}
    assert got == {"signup": 3, "view": 2, "click": 2, "purchase": 1}


def test_kmeans_lloyd_refines_assignment(spark):
    from pyspark.sql import functions as F

    from nba_spurs_etl_spark.operators.clustering import kmeans_lloyd
    from nba_spurs_etl_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    one = kmeans_lloyd(emb, "vec_id", "embedding", k=4, iters=1)
    two = kmeans_lloyd(emb, "vec_id", "embedding", k=4, iters=2)
    n = emb.count()
    assert one.count() == n and two.count() == n  # total assignment
    assert two.select("cell").distinct().count() <= 4
    # Lloyd monotonicity: moving centroids to member means can only
    # shrink total inertia (up to fixed-point quantization noise)
    i1 = one.agg(F.sum("d2")).collect()[0][0]
    i2 = two.agg(F.sum("d2")).collect()[0][0]
    assert i2 <= i1 * 1.0001, (i1, i2)


def test_hll_daily_rollup_bounds_exact_distinct(spark):
    """The entry now carries the bracket IN the output (r08, VERDICT
    r07 item 4): exact_users rides along and sketch_within_bound is
    the published-error assertion the DuckDB oracle re-checks. Pin
    the frame's own claims against an independent exact rollup."""
    from pyspark.sql import functions as F

    from nba_spurs_etl_spark.functions.scalar import epoch_us
    from nba_spurs_etl_spark.plans.catalog import queries
    from nba_spurs_etl_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    got = {
        r["month"]: r
        for r in queries()["events_hll_daily_rollup"](spark, sf).collect()
    }
    exact = {
        str(r["month"]): r["n"]
        for r in load_table(spark, sf, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(
            F.trunc(
                F.date_add(
                    F.lit("1970-01-01").cast("date"),
                    (epoch_us("ts") / F.lit(86_400_000_000))
                    .cast("bigint")
                    .cast("int"),
                ),
                "month",
            ).cast("string").alias("month")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for m, r in got.items():
        assert r["exact_users"] == exact[m], (m, r, exact[m])
        assert r["sketch_within_bound"] is True, (m, r)


# ---------------------------------------------------------------------------
# approximate-ANN recall floors (VERDICT r02 item 5)
# ---------------------------------------------------------------------------


def test_ann_recall_floors(spark):
    """Recall@10 of the approximate top-k forms against the exact
    brute-force baseline at sf0.01, with asserted floors.

    Floors are set WELL below the measured values (lsh L=1 0.16,
    L=4 0.48, ivf nprobe=4 0.56, nprobe=8 0.74 on the 2026-08 corpus)
    because testdata regenerates between rounds; what must hold
    structurally is (a) a nonzero floor and (b) monotone improvement
    along each knob (more tables / more probes => more recall).
    The recall-vs-cost trade is recorded in docs/SCALE.md.
    """
    from collections import defaultdict

    from nba_spurs_etl_spark.operators import similarity
    from nba_spurs_etl_spark.sources.catalog import load_table

    from .conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    K = 10

    def topk_map(df):
        m = defaultdict(set)
        for r in df.collect():
            m[r.query_id].add(r.cand_id)
        return m

    exact = topk_map(
        similarity.brute_force_topk(emb, q, "vec_id", "embedding", k=K)
    )

    def recall(m):
        return sum(len(m[qid] & exact[qid]) for qid in exact) / (
            len(exact) * K
        )

    r_lsh1 = recall(topk_map(similarity.lsh_topk(
        emb, q, "vec_id", "embedding", k=K, planes=4, n_tables=1)))
    r_lsh4 = recall(topk_map(similarity.lsh_topk(
        emb, q, "vec_id", "embedding", k=K, planes=4, n_tables=4)))
    r_ivf4 = recall(topk_map(similarity.ivf_topk(
        emb, q, "vec_id", "embedding", k=K, n_cells=16, nprobe=4)))
    r_ivf8 = recall(topk_map(similarity.ivf_topk(
        emb, q, "vec_id", "embedding", k=K, n_cells=16, nprobe=8)))
    # trained (spherical k-means) cells at the SAME query cost — r07,
    # VERDICT r06 item 7; measured 0.62/0.84 vs md5 0.56/0.74 on the
    # 2026-08 corpus, floors again set well below
    r_ivf4_t = recall(topk_map(similarity.ivf_topk(
        emb, q, "vec_id", "embedding", k=K, n_cells=16, nprobe=4,
        train_sample=512)))
    r_ivf8_t = recall(topk_map(similarity.ivf_topk(
        emb, q, "vec_id", "embedding", k=K, n_cells=16, nprobe=8,
        train_sample=512)))

    assert r_lsh1 >= 0.05, r_lsh1
    assert r_lsh4 >= 0.25 and r_lsh4 >= r_lsh1, (r_lsh1, r_lsh4)
    assert r_ivf4 >= 0.30, r_ivf4
    assert r_ivf8 >= r_ivf4, (r_ivf4, r_ivf8)
    assert r_ivf4_t >= 0.35, r_ivf4_t
    assert r_ivf8_t >= 0.50 and r_ivf8_t >= r_ivf4_t, (r_ivf4_t, r_ivf8_t)

    # PQ scores every candidate through a compressed code, so its
    # recall is about quantization error, not candidate pruning: the
    # structural property is monotone improvement with finer subspaces
    # and bigger codebooks (measured 0.18 -> 0.54 on the 2026-08
    # corpus with untrained md5-sampled codewords)
    r_pq_coarse = recall(topk_map(similarity.pq_topk(
        emb, q, "vec_id", "embedding", k=K, m=4, n_codes=16)))
    r_pq_fine = recall(topk_map(similarity.pq_topk(
        emb, q, "vec_id", "embedding", k=K, m=16, n_codes=32)))
    assert r_pq_coarse >= 0.08, r_pq_coarse
    assert r_pq_fine >= 0.30 and r_pq_fine >= r_pq_coarse, (
        r_pq_coarse, r_pq_fine,
    )

    # IVF-PQ composes pruning and compression: recall loses a little
    # to each (missed cells + quantization; measured 0.46 vs 0.56
    # IVF-alone and 0.54 PQ-alone) but keeps both cost wins
    r_ivfpq = recall(topk_map(similarity.ivf_pq_topk(
        emb, q, "vec_id", "embedding", k=K,
        n_cells=16, nprobe=4, m=16, n_codes=32)))
    assert r_ivfpq >= 0.25, r_ivfpq


# ---------------------------------------------------------------------------
# similarity: degenerate-input guards (round-4 review)
# ---------------------------------------------------------------------------


def _emb4(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_topk_zero_norm_vectors_excluded_both_paths(spark):
    """A zero-norm vector (failed encode / padding) has no cosine
    direction: under ANSI the bare division aborts the job, and the
    numpy path would rank its NaN score first. Both paths must instead
    EXCLUDE it — and stay bit-identical to each other."""
    from nba_spurs_etl_spark.operators import similarity

    df = _emb4(spark, [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero-norm candidate
    ])
    q = df.filter(F.col("vec_id") == 0)
    jvm = {
        (r.query_id, r.cand_id, r.rnk)
        for r in similarity.brute_force_topk(
            df, q, "vec_id", "embedding", k=10
        ).collect()
    }
    arrow = {
        (r.query_id, r.cand_id, r.rnk)
        for r in similarity.brute_force_topk_arrow(
            df, q, "vec_id", "embedding", k=10
        ).collect()
    }
    assert jvm == arrow == {(0, 1, 1), (0, 2, 2)}

    # a zero-norm QUERY likewise disappears instead of crashing
    zq = df.filter(F.col("vec_id") == 3)
    assert similarity.brute_force_topk(
        df, zq, "vec_id", "embedding", k=10
    ).count() == 0
    assert similarity.brute_force_topk_arrow(
        df, zq, "vec_id", "embedding", k=10
    ).count() == 0

    # the cell-assignment paths share the guard (division in argmax)
    assert similarity.ivf_topk(
        df, q, "vec_id", "embedding", k=10, n_cells=2, nprobe=2
    ).count() == 2
    assert similarity.ivf_pq_topk(
        df, q, "vec_id", "embedding", k=10,
        n_cells=2, nprobe=2, m=2, n_codes=2,
    ).count() == 2


def test_topk_arrow_empty_query_set_returns_empty(spark):
    """No queries -> empty frame with the contract schema, matching the
    JVM path (previously a driver-side IndexError on the (0,) matrix)."""
    from nba_spurs_etl_spark.operators import similarity

    df = _emb4(spark, [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])])
    out = similarity.brute_force_topk_arrow(
        df, df.filter(F.col("vec_id") < 0), "vec_id", "embedding", k=5
    )
    assert out.columns == ["query_id", "cand_id", "cos_sim", "rnk"]
    assert out.count() == 0


def _best_cell(cents: str, vec_c: str, nrm_c: str) -> str:
    """Nearest-centroid id by cosine argmax fold over the literal
    centroid array, ties to smallest cid (SQL text): the executable
    spec of similarity._assign_cells_arrow. Each centroid is scored
    once, then the fold compares precomputed (cos, cid) structs."""
    from nba_spurs_etl_spark.operators import similarity as S

    return (
        f"aggregate(transform({cents}, bc_c -> struct("
        f"{S._cell_cos('bc_c', vec_c, nrm_c)} AS cos, bc_c.cid AS cid)), "
        "struct(-2.0D AS cos, CAST(NULL AS BIGINT) AS cid), "
        "(bc_acc, bc_s) -> CASE WHEN bc_s.cos > bc_acc.cos OR "
        "(bc_s.cos = bc_acc.cos AND bc_s.cid < bc_acc.cid) "
        "THEN bc_s ELSE bc_acc END).cid"
    )


def test_assign_cells_arrow_matches_best_cell_fold(spark):
    """_assign_cells_arrow (r08: the Arrow batch-product coarse
    quantizer behind ivf_topk / ivf_pq_topk) must agree with the
    _best_cell literal fold — the executable spec it replaced — on
    every row class the fold defines: real vectors (sf0.01 corpus),
    a ragged-dim vector (fold → NULL products → NULL cell), and a
    vector driving every cosine to NaN — which under Spark's
    non-IEEE NaN ordering (NaN above everything, NaN == NaN) the
    fold SELECTS, ties to the smallest cid."""
    from .conftest import SF_SMOKE
    from nba_spurs_etl_spark.operators import similarity as S
    from nba_spurs_etl_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cand = S._nonzero_norm(emb, "embedding")
    rows = S._pq_sample_rows(cand, "vec_id", "embedding", 8, with_norm=True)
    dim = len(rows[0]["cv"])
    extra = spark.createDataFrame(
        [
            (900001, [1.5] * (dim // 2)),        # ragged: fold gives NULL
            (900002, [float("inf")] * dim),      # all-NaN cosines -> NULL
            (900003, [-2.5] * dim),              # ordinary negative vector
        ],
        "vec_id long, embedding array<float>",
    )
    corpus = (
        cand.select("vec_id", "embedding")
        .unionByName(extra)
        .select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("candv"),
            F.expr(f"sqrt({S._dot_sql('embedding', 'embedding')})").alias(
                "candn"
            ),
        )
    )
    cents = S._centroid_literal(rows)
    fold = {
        r["cand_id"]: r["cell"]
        for r in corpus.withColumn(
            "cell", F.expr(_best_cell(cents, "candv", "candn"))
        ).collect()
    }
    arrow = {
        r["cand_id"]: r["cell"]
        for r in S._assign_cells_arrow(
            corpus, "candv", "candn", rows
        ).collect()
    }
    assert fold == arrow
    assert fold[900001] is None  # ragged dim
    # all-NaN cosines: Spark's NaN-is-greatest ordering makes the fold
    # pick the smallest centroid id, not NULL
    assert fold[900002] == min(r["cid"] for r in rows)
    assert fold[900003] is not None


def test_lsh_bucket_dim_guard_names_the_misconfiguration(spark):
    """planes * n_tables beyond the embedding dim must fail with a
    message naming the knobs, not ANSI's INVALID_ARRAY_INDEX (or, with
    ANSI off, silently zeroed buckets)."""
    from nba_spurs_etl_spark.operators import similarity

    df = _emb4(spark, [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.5, 0.5, 0.0, 0.0])])
    q = df.filter(F.col("vec_id") == 0)
    with pytest.raises(Exception, match="lsh_bucket"):
        similarity.lsh_topk(
            df, q, "vec_id", "embedding", k=5, planes=4, n_tables=3
        ).collect()

def test_shard_write_layout(spark, tmp_path):
    """The shard manifest must translate into the physical layout it
    promises: repartition(n, shard) + partitionBy -> one directory per
    shard, each holding exactly one data file, counts matching the
    manifest."""
    from nba_spurs_etl_spark.operators.curation import shard_plan
    from nba_spurs_etl_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    n_shards = 4
    manifest = {
        r.shard: r.n_docs
        for r in shard_plan(docs, "doc_id", "text", n_shards).collect()
    }
    assigned = docs.select(
        "doc_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("sh_"), F.col("doc_id").cast("string"))),
                    1, 15,
                ), 16, 10,
            ).cast("long") % n_shards
        ).cast("int").alias("shard"),
    )
    out = str(tmp_path / "shards")
    (
        assigned.repartition(n_shards, F.col("shard"))
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(out)
    )
    import glob

    for shard, n in manifest.items():
        files = glob.glob(f"{out}/shard={shard}/*.parquet")
        assert len(files) == 1, files  # one task wrote one shard file
        got = spark.read.parquet(f"{out}/shard={shard}").count()
        assert got == n, (shard, got, n)


# ---------------------------------------------------------------------------
# incremental aggregate state: retraction algebra
# ---------------------------------------------------------------------------


def test_incremental_state_retraction_and_merge(spark):
    from nba_spurs_etl_spark.operators import incremental as inc

    base = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 1.0)], ["k", "amt"]
    )
    s0 = inc.agg_state(base, ["k"], "amt")
    # changelog: insert into a, retract one of a's rows, retract b's
    # only row (full retraction), insert a brand-new key d.
    chg = spark.createDataFrame(
        [("a", 30.0, 1), ("a", 10.0, -1), ("b", 5.0, -1), ("d", 7.0, 1)],
        ["k", "amt", "sign"],
    )
    merged = inc.finalize(inc.merge_states(s0, inc.agg_state(chg, ["k"], "amt", sign="sign")))
    got = {r.k: (r.n_rows, r.sum_amount, r.avg_amount) for r in merged.collect()}
    # b fully retracted -> absent, like a from-scratch rebuild
    assert set(got) == {"a", "c", "d"}
    assert got["a"] == (2, 50.0, 25.0)
    assert got["c"] == (1, 1.0, 1.0)
    assert got["d"] == (1, 7.0, 7.0)


def test_incremental_merge_is_order_insensitive(spark):
    from nba_spurs_etl_spark.operators import incremental as inc

    p1 = spark.createDataFrame([("a", 1.25), ("b", 2.5)], ["k", "amt"])
    p2 = spark.createDataFrame([("a", 3.75)], ["k", "amt"])
    p3 = spark.createDataFrame([("b", 0.5), ("c", 9.0)], ["k", "amt"])
    states = [inc.agg_state(p, ["k"], "amt") for p in (p1, p2, p3)]
    fwd = sorted(
        tuple(r) for r in inc.finalize(inc.merge_states(*states)).collect()
    )
    rev = sorted(
        tuple(r)
        for r in inc.finalize(inc.merge_states(*reversed(states))).collect()
    )
    assert fwd == rev
    assert ("a", 2, 5.0, 2.5) in fwd


# ---------------------------------------------------------------------------
# triangle counts vs brute-force model
# ---------------------------------------------------------------------------


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda t: t[0] != t[1]
        ),
        max_size=20,
    )
)
@settings(max_examples=20, deadline=None)
def test_triangle_counts_match_model(spark, edges):
    from itertools import combinations

    from nba_spurs_etl_spark.operators.graph import triangle_counts

    pairs = sorted({(min(a, b), max(a, b)) for a, b in edges})
    if not pairs:
        return
    eset = set(pairs)
    model: dict[int, int] = {}
    nodes = sorted({n for p in pairs for n in p})
    for a, b, c in combinations(nodes, 3):
        if (a, b) in eset and (b, c) in eset and (a, c) in eset:
            for n in (a, b, c):
                model[n] = model.get(n, 0) + 1
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    got = {r.doc: r.triangles for r in triangle_counts(df).collect()}
    assert got == model


# ---------------------------------------------------------------------------
# global prefix sum: two-phase == naive single-window (exact), edge cases
# ---------------------------------------------------------------------------


def test_global_running_sum_matches_single_window(spark):
    """Bucket-major reassociation must be EXACT vs the one-task window,
    including ties on the bucket axis, nulls in the value, negative
    deltas, and a bucket count larger than the distinct-key count."""
    from pyspark.sql import Window

    from nba_spurs_etl_spark.operators.prefix import global_running_sum

    rows = [
        # (k, tb, v) — k has heavy ties so quantile boundaries repeat
        (1, 1, 10), (1, 2, None), (1, 3, -3),
        (2, 4, 7), (2, 5, 7), (2, 6, 7),
        (3, 7, 0), (3, 8, -10),
        (10, 9, 100), (10, 10, 1),
    ]
    df = spark.createDataFrame(rows, "k int, tb int, v int")
    got = {
        r["tb"]: r["run"]
        for r in global_running_sum(
            df, ["k", "tb"], F.col("v").cast("bigint"),
            out_col="run", num_buckets=7,
        ).collect()
    }
    w = (
        Window.orderBy("k", "tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["tb"]: r["run"]
        for r in df.withColumn(
            "run", F.sum(F.col("v").cast("bigint")).over(w)
        ).collect()
    }
    assert got == want


def test_global_running_sum_constant_key_degenerates_safely(spark):
    """A constant bucket axis collapses to one bucket (documented
    degradation) but stays correct."""
    from nba_spurs_etl_spark.operators.prefix import global_running_sum

    df = spark.createDataFrame(
        [(5, i, 1) for i in range(20)], "k int, tb int, v int"
    )
    out = global_running_sum(df, ["k", "tb"], "v", out_col="run").collect()
    assert sorted((r["tb"], r["run"]) for r in out) == [
        (i, i + 1) for i in range(20)
    ]


def test_interval_concurrency_half_open(spark):
    """Back-to-back intervals ([0,10) then [10,20)) never overlap; true
    overlaps count; the sweep ends at zero."""
    from nba_spurs_etl_spark.operators.prefix import interval_concurrency

    df = spark.createDataFrame(
        [(1, 0, 10), (2, 10, 20), (3, 5, 15)], "id int, s long, e long"
    )
    out = interval_concurrency(
        df, F.col("s"), F.col("e"), F.col("id"), num_buckets=3
    ).collect()
    by_key = {(r["t"], r["delta"], r["tb"]): r["concurrency"] for r in out}
    assert by_key[(0, 1, 1)] == 1    # [0,10) opens
    assert by_key[(5, 1, 3)] == 2    # [5,15) overlaps it
    assert by_key[(10, -1, 1)] == 1  # [0,10) closes BEFORE [10,20) opens
    assert by_key[(10, 1, 2)] == 2   # then [10,20) opens alongside [5,15)
    assert by_key[(20, -1, 2)] == 0  # all closed


# ---------------------------------------------------------------------------
# incremental minhash dedup: batch-vs-index == full-corpus restricted
# ---------------------------------------------------------------------------


def test_incremental_minhash_equals_full_restricted(spark):
    """Candidates from (new batch x historical index) U (new x new) must
    be SET-EQUAL to the full-corpus LSH pairs restricted to pairs that
    touch the batch — the invariant that makes incremental ingest safe
    to run forever without periodic full recomputes."""
    from nba_spurs_etl_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_bands,
        minhash_lsh_pairs,
    )

    base = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "the quick brown fox jumps over the lazy dog today",
        "completely different text about distributed query engines",
    ]
    rows = []
    for i in range(30):
        t = base[i % 3] + (" extra" if i % 7 == 0 else "")
        rows.append((i, t))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = docs.filter(F.col("doc_id") % 4 == 0)
    old = docs.filter(F.col("doc_id") % 4 != 0)

    index = minhash_bands(old, "doc_id", "text", num_hashes=8, band_size=2)
    inc = incremental_minhash_pairs(
        new, index, "doc_id", "text", num_hashes=8, band_size=2
    )
    got = {(r["doc_a"], r["doc_b"]) for r in inc.collect()}
    # src classification must match membership
    for r in inc.collect():
        both_new = r["doc_a"] % 4 == 0 and r["doc_b"] % 4 == 0
        assert r["src"] == ("new" if both_new else "cross")

    full = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8, band_size=2)
    want = {
        (r["doc_a"], r["doc_b"])
        for r in full.collect()
        if r["doc_a"] % 4 == 0 or r["doc_b"] % 4 == 0
    }
    assert got == want and got  # non-trivial: duplicates exist across sides


# ---------------------------------------------------------------------------
# multimodal: deterministic fake codec exercises the REAL pipeline paths
# ---------------------------------------------------------------------------


def test_image_pipeline_decode_resize_and_error_isolation(spark):
    """decode -> stats -> aspect-fit resize -> hash over mapInPandas,
    with malformed + codec-gated blobs isolated to error rows."""
    from nba_spurs_etl_spark.operators.multimodal import (
        decode_image,
        encode_fake_image,
        image_pipeline_features,
        resize_nearest,
    )

    # pure-python ground truth first
    img = encode_fake_image(6, 4, "s")
    w, h, px = decode_image(img)
    assert (w, h, len(px)) == (6, 4, 24)
    # nearest-neighbor 4x4 -> 2x2 picks rows/cols 0,2
    px16 = bytes(range(16))
    assert resize_nearest(px16, 4, 4, 2, 2) == bytes([0, 2, 8, 10])

    rows = [
        (1, encode_fake_image(448, 100, "wide")),   # landscape
        (2, encode_fake_image(100, 448, "tall")),   # portrait
        (3, b"\xff\xd8\xffJPEGDATA"),               # codec-gated
        (4, b"FIMG" + (5).to_bytes(2, "big") + (5).to_bytes(2, "big") + b"xx"),  # truncated
        (5, b"garbage"),                            # bad magic
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc"]: r
        for r in image_pipeline_features(df, "doc_id", "payload").collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (448, 100)
    assert (out[1]["resized_w"], out[1]["resized_h"]) == (224, 50)
    assert (out[2]["resized_w"], out[2]["resized_h"]) == (50, 224)
    assert out[1]["error"] is None and 0 <= out[1]["mean_px"] <= 255
    assert out[3]["error"].startswith("needs-codec:") and out[3]["width"] is None
    assert out[4]["error"].startswith("malformed:")
    assert out[5]["error"].startswith("malformed:")
    # determinism: same blob -> same resized hash across runs
    again = {
        r["doc"]: r["resized_hash"]
        for r in image_pipeline_features(df, "doc_id", "payload").collect()
    }
    assert again[1] == out[1]["resized_hash"]


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),   # bucket key (ties likely)
            st.integers(min_value=-1000, max_value=1000),  # value
        ),
        min_size=1,
        max_size=60,
    ),
    buckets=st.integers(min_value=1, max_value=12),
)
def test_global_running_sum_property(spark, rows, buckets):
    """For ANY key distribution and bucket count, the two-phase form
    equals the sequential model exactly."""
    from nba_spurs_etl_spark.operators.prefix import global_running_sum

    data = [(k, i, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, tb long, v long")
    got = {
        r["tb"]: r["run"]
        for r in global_running_sum(
            df, ["k", "tb"], "v", out_col="run", num_buckets=buckets
        ).collect()
    }
    acc, want = 0, {}
    for k, tb, v in sorted(data):
        acc += v
        want[tb] = acc
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    picks=st.lists(st.integers(min_value=0, max_value=3), min_size=4, max_size=14),
    thr=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_prefix_filtered_jaccard_equals_plain(spark, picks, thr):
    """Prefix filtering is an exact optimization: for arbitrary corpora
    (heavy boilerplate overlap included) and thresholds, output equals
    the plain inverted-index jaccard operator."""
    from nba_spurs_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "pack my box with five dozen liquor jugs now",
        "sphinx of black quartz judge my vow today ok",
    ]
    rows = [(i, base[p] + (" tail" if i % 3 == 0 else "")) for i, p in enumerate(picks)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold=thr).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs_prefix(df, "doc_id", "text", threshold=thr).collect()
    }
    assert pref == plain


def test_prefix_filtering_bounds_boilerplate_candidates(spark):
    """The win case for prefix filtering: a corpus where every doc
    shares hot boilerplate but no pair meets the threshold. The plain
    inverted index emits ~C(n,2) candidates from the hot tokens; the
    prefix index posts only each doc's rare tail, generating ZERO
    candidates — losslessly (unlike a frequency cap)."""
    from nba_spurs_etl_spark.operators.dedup import (
        exploded_shingles,
        jaccard_prefix_candidates,
        ngram_jaccard_pairs_prefix,
    )
    from pyspark.sql import functions as SF

    boiler = "this document is provided as is without any warranty of any kind"
    # the unique tail must dominate: prefix length is ~s/2 + 1, so with
    # 9 boilerplate trigrams the tail needs >= 9 unique words for the
    # rarest-first prefix to stay boilerplate-free (see prefix lemma)
    tail = " ".join(f"w{{0}}x{j}" for j in range(12))
    rows = [(i, f"{boiler} " + tail.format(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # plain inverted index: candidate pairs from every shared shingle
    posts = exploded_shingles(df, "doc_id", "text", 3)
    plain_cands = (
        posts.groupBy("shingle")
        .agg(SF.count(SF.lit(1)).alias("c"))
        .select(SF.sum(SF.col("c") * (SF.col("c") - 1) / 2).alias("pairs"))
        .first()["pairs"]
    )
    assert plain_cands > 10_000  # the quadratic boilerplate blow-up

    pref_cands = jaccard_prefix_candidates(
        df, "doc_id", "text", threshold=0.5
    ).count()
    assert pref_cands == 0
    # and the exact result agrees: no pair reaches 0.5
    assert ngram_jaccard_pairs_prefix(df, "doc_id", "text", threshold=0.5).count() == 0


def test_bloom_decontaminate_equals_exact_and_prefilters(spark):
    """The bloom-prefiltered decontamination must equal the broadcast
    form on corpora WITH contamination, and its exact-verify join must
    see only the bloom survivors (a small fraction of corpus grams)."""
    from nba_spurs_etl_spark.operators.curation import (
        decontaminate,
        decontaminate_bloom,
    )

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    rows = [(i, f"clean doc number {i} with its own words entirely w{i} x{i} y{i} z{i}")
            for i in range(1, 40)]
    rows += [(100, "alpha beta gamma delta epsilon zeta something else here now"),
             (101, "prefix words then delta epsilon zeta eta theta iota tail")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    kw = dict(n=5, min_hits=1)
    exact = {(r["doc"], r["hits"], r["contaminated"])
             for r in decontaminate(docs, bench, "doc_id", "text", **kw).collect()}
    bloom = {(r["doc"], r["hits"], r["contaminated"])
             for r in decontaminate_bloom(docs, bench, "doc_id", "text", **kw).collect()}
    assert bloom == exact
    assert any(c for _, _, c in exact)  # contamination actually present


def test_capped_sessionize_splits_long_islands(spark, tmp_path):
    """The 2h cap path never fires on the driver testdata (no island
    exceeds 2h), so pin it synthetically: one user firing every 20 min
    for 5h = ONE gap island split into 3 fixed 2h frames; a second user
    with a 40-min gap still splits on the gap rule."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nba_spurs_etl_spark.plans.catalog import queries

    t0 = 1_700_000_000_000_000  # epoch us
    rows = []
    # user 1: 16 events, 20-min cadence -> island of 5h -> chunks 0,1,2
    for i in range(16):
        rows.append((i, t0 + i * 1_200_000_000, 1, "view", 1.0, "{}"))
    # user 2: two events 40 min apart -> two gap islands, chunk 0 each
    rows.append((100, t0, 2, "view", 1.0, "{}"))
    rows.append((101, t0 + 2_400_000_000, 2, "view", 1.0, "{}"))
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows]),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows]),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    out = queries()["events_sessionize_capped"](spark, str(tmp_path)).collect()
    u1 = sorted(
        (r["island_no"], r["chunk"], r["n_events"])
        for r in out if r["user_id"] == 1
    )
    # 2h frames anchored at island start: events 0-5 (0..100min),
    # 6-11 (120..220min), 12-15 (240..300min)
    assert u1 == [(1, 0, 6), (1, 1, 6), (1, 2, 4)]
    u2 = sorted(
        (r["island_no"], r["chunk"], r["n_events"])
        for r in out if r["user_id"] == 2
    )
    assert u2 == [(1, 0, 1), (2, 0, 1)]


def test_edit_distance_pairs_symspell_blocking(spark):
    """Deletion blocking must find every pair within distance 1 —
    substitution, insertion, deletion, and exact duplicates — and
    nothing farther away."""
    from nba_spurs_etl_spark.operators.fuzzy import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "abcd"), (4, "xyz"), (5, "abc"),
         (6, "bc"), (7, "")],
        "id long, name string",
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(df, "id", "name").collect()
    )
    # ground truth from a python model
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    rows = {1: "abc", 2: "abd", 3: "abcd", 4: "xyz", 5: "abc", 6: "bc", 7: ""}
    want = sorted(
        (a, b, lev(rows[a], rows[b]))
        for a, b in itertools.combinations(sorted(rows), 2)
        if lev(rows[a], rows[b]) <= 1
    )
    assert got == want


# ---------------------------------------------------------------------------
# connected components: star-contraction variant + convergence guard
# ---------------------------------------------------------------------------


def _uf_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_components_on_long_chain(spark):
    """A 200-node path has diameter 199: one-hop min-label needs ~199
    rounds (and now FAILS LOUDLY at max_iter instead of silently
    returning wrong labels), while star-contraction converges in
    O(log n) rounds."""
    from nba_spurs_etl_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(199)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")

    got = {
        r["doc"]: r["component"]
        for r in connected_components_star(df).collect()
    }
    assert got == {i: 0 for i in range(200)}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=10)


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_star_components_match_union_find(spark, edges):
    from nba_spurs_etl_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = _uf_components(edges)
    got_star = {
        r["doc"]: r["component"]
        for r in connected_components_star(df).collect()
    }
    assert got_star == want
    # and the min-label form agrees wherever it converges (30 nodes,
    # max diameter 30 > default 25 is possible — raise max_iter)
    got_prop = {
        r["doc"]: r["component"]
        for r in connected_components(df, max_iter=40).collect()
    }
    assert got_prop == want


@settings(max_examples=10, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abcx", min_size=0, max_size=6),
        min_size=2,
        max_size=12,
    )
)
def test_edit_distance2_blocking_property(spark, words):
    """Delete-<=2 blocking must be exactly the naive levenshtein<=2
    self-join for arbitrary short strings (including empties and
    duplicates)."""
    import itertools

    from nba_spurs_etl_spark.operators.fuzzy import edit_distance_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    rows = list(enumerate(words))
    df = spark.createDataFrame(rows, "id long, name string")
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(df, "id", "name", max_dist=2).collect()
    )
    m = dict(rows)
    want = sorted(
        (a, b, lev(m[a], m[b]))
        for a, b in itertools.combinations(sorted(m), 2)
        if lev(m[a], m[b]) <= 2
    )
    assert got == want


def test_star_components_mega_hub(spark):
    """Single-hub star with 100k leaves — the shape VERDICT r03 flagged:
    with collect_set adjacency the hub row would hold a 100k-element
    array; the min+join rewrite keeps every row O(1). Must converge
    fast and label everything with the hub (node 0)."""
    from pyspark.sql import functions as F

    from nba_spurs_etl_spark.operators.dedup import (
        connected_components_star,
    )

    n = 100_000
    pairs = (
        spark.range(1, n + 1)
        .select(F.lit(0).alias("doc_a"), F.col("id").alias("doc_b"))
    )
    out = connected_components_star(pairs)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("component") == 0, 1)).alias("zeros"),
    ).first()
    assert agg["n"] == n + 1
    assert agg["zeros"] == n + 1


def test_delete2_length_guard(spark):
    """VERDICT r03 item 3: distance-2 deletion blocking must refuse
    document-length strings (quadratic key volume) with a row-level
    raise, and accept the boundary length exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from nba_spurs_etl_spark.operators.fuzzy import (
        MAX_D2_LEN,
        delete2_variants,
        edit_distance_pairs,
    )

    s64 = "".join(chr(33 + i) for i in range(MAX_D2_LEN))  # distinct chars
    ok = spark.createDataFrame([(1, s64)], "id long, name string")
    # boundary length passes (and produces the full key set:
    # 1 + L + L*(L-1)/2 distinct deletions for distinct characters)
    n_keys = ok.select(
        F.size(delete2_variants(F.col("name"))).alias("n")
    ).first()["n"]
    assert n_keys == 1 + MAX_D2_LEN + MAX_D2_LEN * (MAX_D2_LEN - 1) // 2

    bad = spark.createDataFrame(
        [(1, "x" * (MAX_D2_LEN + 1))], "id long, name string"
    )
    with pytest.raises(Exception, match="MAX_D2_LEN"):
        edit_distance_pairs(bad, "id", "name", max_dist=2).collect()
    # distance-1 blocking has no such ceiling (|s|+1 keys is linear)
    assert (
        edit_distance_pairs(bad, "id", "name", max_dist=1).count() == 0
    )

    # NULL strings are silently dropped, not aborted: length(NULL) is
    # NULL, and without an explicit isNull arm the guard's otherwise
    # branch would raise_error(NULL) and fail the whole job on the
    # first NULL in the matched column
    with_null = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, None)], "id long, name string"
    )
    rows = edit_distance_pairs(with_null, "id", "name", max_dist=2).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]


def test_decode_image_degenerate_dimensions():
    """ADVICE r03: w=0,h>0 passes the w*h==0 length check but breaks
    resize_nearest with an uncaught IndexError — decode must raise
    ValueError so per-row isolation turns it into an error row."""
    from nba_spurs_etl_spark.operators.multimodal import (
        FAKE_MAGIC,
        decode_image,
    )

    blob = FAKE_MAGIC + (0).to_bytes(2, "big") + (4).to_bytes(2, "big")
    with pytest.raises(ValueError, match="degenerate"):
        decode_image(blob)
    blob2 = FAKE_MAGIC + (4).to_bytes(2, "big") + (0).to_bytes(2, "big")
    with pytest.raises(ValueError, match="degenerate"):
        decode_image(blob2)


def _tiny_png(pixels: bytes, w: int, h: int) -> bytes:
    """Minimal valid grayscale PNG built by hand (no Pillow needed):
    signature + IHDR + one zlib IDAT of filter-0 scanlines + IEND."""
    import struct
    import zlib

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[r * w:(r + 1) * w] for r in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_image_real_codec_path(monkeypatch):
    """VERDICT r09 item 4: compressed formats decode through Pillow
    when it is installed, through the SAME decode_image contract as
    FIMG. Env-gated half: where PIL exists, a hand-built 2x2 grayscale
    PNG must decode to its exact pixels (pixel-stat parity on an
    embedded-bytes fixture). Seam-tested half (runs everywhere): the
    PIL branch's tuple contract, corrupt-bitstream normalization to
    ValueError, and degenerate-dimension guard, via a stub codec on
    the _pil_module import seam."""
    from nba_spurs_etl_spark.operators import multimodal as M

    px = bytes([10, 20, 30, 40])
    png = _tiny_png(px, 2, 2)

    if M._pil_module() is not None:
        assert M.decode_image(png) == (2, 2, px)
    else:
        with pytest.raises(NotImplementedError, match="png"):
            M.decode_image(png)

    # stub codec through the import seam: same contract, no Pillow
    class _Img:
        def __init__(self, size, data):
            self.size = size
            self._d = data

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def convert(self, mode):
            assert mode == "L"
            return self

        def tobytes(self):
            return self._d

    class _StubPIL:
        nxt = _Img((2, 2), px)

        @staticmethod
        def open(bio):
            if _StubPIL.nxt is None:
                raise OSError("cannot identify image file")
            return _StubPIL.nxt

    monkeypatch.setattr(M, "_pil_module", lambda: _StubPIL)
    assert M.decode_image(png) == (2, 2, px)
    # JPEG magic routes through the same branch
    assert M.decode_image(b"\xff\xd8\xff" + png[3:]) == (2, 2, px)
    # corrupt bitstream -> ValueError (the FIMG malformed contract),
    # never a raw codec exception that would fail the whole task
    _StubPIL.nxt = None
    with pytest.raises(ValueError, match="corrupt png"):
        M.decode_image(png)
    # degenerate dimensions and short pixel buffers also normalize
    _StubPIL.nxt = _Img((0, 2), b"")
    with pytest.raises(ValueError, match="degenerate"):
        M.decode_image(png)
    _StubPIL.nxt = _Img((2, 2), px[:3])
    with pytest.raises(ValueError, match="mismatch"):
        M.decode_image(png)
    # FIMG blobs never touch the codec seam
    from nba_spurs_etl_spark.operators.multimodal import encode_fake_image

    monkeypatch.setattr(
        M, "_pil_module",
        lambda: (_ for _ in ()).throw(AssertionError("FIMG hit codec")),
    )
    w, h, _ = M.decode_image(encode_fake_image(3, 2, "s"))
    assert (w, h) == (3, 2)


def test_weighted_sample_exact_k_matches_model(spark):
    """A-ES exact-k sampling must select exactly the k rows a direct
    Python model of key = ln(u)/w picks (well-separated fixture:
    distinct ids, distinct integer weights — boundary gaps are many
    orders of magnitude above double rounding), and must saturate to
    all rows when k >= n."""
    import hashlib
    import math

    from nba_spurs_etl_spark.operators.sampling import weighted_sample_exact_k

    rows = [(i, float(1 + (i * 37) % 100)) for i in range(1, 201)]
    df = spark.createDataFrame(rows, "id long, w double")

    def key(i, w):
        h = int(hashlib.md5(f"aes_{i}".encode()).hexdigest()[:15], 16)
        return math.log((float(h) + 1.0) / float(1 << 60)) / w

    want = {i for i, _ in sorted(
        rows, key=lambda r: (-key(r[0], r[1]), r[0])
    )[:25]}
    got = {
        r["id"] for r in weighted_sample_exact_k(df, "id", "w", k=25).collect()
    }
    assert got == want

    assert weighted_sample_exact_k(df, "id", "w", k=500).count() == 200
    # non-positive weights are excluded by contract
    dfz = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 2.0)], "id long, w double"
    )
    assert (
        weighted_sample_exact_k(dfz, "id", "w", k=10).count() == 1
    )


def test_audio_pipeline_decode_stats_and_error_isolation(spark):
    """FAUD decode is real: hand-computed stats on a crafted PCM blob,
    exact nearest-neighbor resample, and per-row error isolation for
    corrupt / codec-gated / degenerate-header blobs."""
    import math

    import numpy as np

    from nba_spurs_etl_spark.operators.multimodal import (
        FAKE_AUDIO_MAGIC,
        audio_pipeline_features,
        decode_audio,
        encode_fake_audio,
        resample_nearest_audio,
    )

    # crafted blob: sr=4, samples [100, -100, 200, -200]
    pcm = b"".join(
        int(v).to_bytes(2, "big", signed=True) for v in (100, -100, 200, -200)
    )
    blob = (
        FAKE_AUDIO_MAGIC
        + (4).to_bytes(4, "big")
        + (4).to_bytes(4, "big")
        + pcm
    )
    sr, s = decode_audio(blob)
    assert sr == 4 and list(s) == [100, -100, 200, -200]
    # nearest resample doubles each sample at 2x rate
    assert list(resample_nearest_audio(s, 4, 8)) == [
        100, 100, -100, -100, 200, 200, -200, -200,
    ]

    # overflow regime: ~12 min of 48 kHz audio. The index product must
    # stay inside int64 — an inflated form (i * src_rate * len) wrapped
    # negative here and silently indexed from the array end. Ground
    # truth via arbitrary-precision Python ints at probe positions.
    long_s = np.arange(2**25, dtype=np.int16)  # values wrap; indices don't
    out = resample_nearest_audio(long_s, 48_000, 8_000)
    n_out = (len(long_s) * 8_000) // 48_000
    assert len(out) == n_out
    for i in (0, 1, n_out // 2, n_out - 2, n_out - 1):
        assert out[i] == long_s[min((i * len(long_s)) // n_out, len(long_s) - 1)]

    # degenerate / truncated / wrong-magic all raise ValueError
    with pytest.raises(ValueError, match="degenerate"):
        decode_audio(FAKE_AUDIO_MAGIC + (0).to_bytes(4, "big") + (4).to_bytes(4, "big"))
    with pytest.raises(ValueError, match="truncated"):
        decode_audio(blob[:-2])
    with pytest.raises(ValueError, match="magic"):
        decode_audio(b"nope")
    with pytest.raises(NotImplementedError, match="codec"):
        decode_audio(b"RIFF....WAVE")

    df = spark.createDataFrame(
        [(1, blob), (2, b"corrupt"), (3, b"RIFF....WAVE"),
         (4, encode_fake_audio(8000, 32, "t"))],
        "doc_id long, payload binary",
    )
    got = {
        r["doc"]: r
        for r in audio_pipeline_features(df, "doc_id", "payload").collect()
    }
    r1 = got[1]
    assert r1["sample_rate"] == 4 and r1["n_samples"] == 4
    assert r1["duration_s"] == 1.0 and r1["peak"] == 200
    assert math.isclose(r1["rms"], math.sqrt(25000.0))
    assert r1["zero_crossings"] == 3 and r1["error"] is None
    assert got[2]["error"].startswith("malformed:")
    assert got[3]["error"].startswith("needs-codec:")
    assert got[4]["error"] is None and got[4]["n_samples"] == 32
    # np only used to silence the unused-import linter heuristics
    assert np.int16 is not None


def test_containment_pairs_asymmetric(spark):
    """A short doc fully quoted inside a long one: containment ~1.0 in
    the short->long direction only; jaccard misses it (union-dominated)."""
    from nba_spurs_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = [
        (1, "a b c d e"),                  # 3 shingles, all inside doc 2
        (2, "a b c d e f g h"),            # 6 shingles
        (3, "x y z w"),                    # unrelated
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["src"], r["dst"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    }
    assert got == {(1, 2): 1.0}
    # the reverse direction scores 3/6 and both jaccards 0.5 — below 0.8
    both = {
        (r["src"], r["dst"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", threshold=0.4).collect()
    }
    assert both[(2, 1)] == 0.5
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.8).collect()
    }
    assert (1, 2) not in jac  # symmetric measure misses the quote


def test_bm25_topk_ranks_exact_term_match_first(spark):
    from nba_spurs_etl_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "zebra runs fast"),
            (2, "the cat sat on the mat"),
            (3, "the dog sat on the log and the dog barked"),
            (4, "zebra zebra zebra in the zoo"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(100, "zebra"), (200, "dog")], "query_id long, term string"
    )
    got = {
        (r["query_id"], r["rank"]): r["doc"]
        for r in bm25_topk(docs, q, "doc_id", "text", k=2).collect()
    }
    # 'zebra': doc 4 has tf=3 (saturating but higher), doc 1 tf=1;
    # 'dog' appears only in doc 3
    assert got[(100, 1)] == 4 and got[(100, 2)] == 1
    assert got[(200, 1)] == 3 and (200, 2) not in got


def test_bm25_champion_pruning_bound_and_fixture_equality(spark):
    """Champion-list candidate pruning (max_postings_per_term):
    (a) survivors' scores are EXACT — on a synthetic corpus where the
    winner has mediocre per-term impacts but is nominated by one term,
    its rank matches the exact form (naive posting-capping broke this:
    a winner losing one term's contribution dropped out, measured
    recall 0.18); (b) the documented loss bound — a doc missed only if
    outside top-P of EVERY query term — via P=1 where only per-term
    nominees survive; (c) on the sf fixture workload P=512 EQUALS the
    exact form, the claim the hybrid entry's doc makes."""
    from nba_spurs_etl_spark.operators.search import bm25_topk
    from nba_spurs_etl_spark.sources.catalog import load_table

    # (a)+(b): 'alpha beta' query; doc 1 is the combined winner but is
    # per-term rank 2 for both terms (docs 2 and 3 dominate one term
    # each with huge tf)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta"),
            (2, "alpha alpha alpha alpha alpha alpha alpha alpha"),
            (3, "beta beta beta beta beta beta beta beta"),
            (4, "gamma gamma"),
            # 5th doc keeps n_docs above |terms|xP for P<=2 so the
            # adaptive bind decision (2 terms x P < 5) still takes the
            # nomination path these assertions exercise
            (5, "gamma delta"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(7, "alpha"), (7, "beta")], "query_id long, term string"
    )
    exact = [
        (r["rank"], r["doc"])
        for r in bm25_topk(docs, q, "doc_id", "text", k=4).collect()
    ]
    # P=2 nominates docs {2,1} for alpha and {3,1} for beta: all three
    # candidates scored exactly -> identical to the exact ranking
    p2 = [
        (r["rank"], r["doc"])
        for r in bm25_topk(
            docs, q, "doc_id", "text", k=4, max_postings_per_term=2
        ).collect()
    ]
    assert sorted(p2) == sorted(exact)
    # P=1 nominates only {2} and {3}: doc 1 is outside top-1 of EVERY
    # query term -> missed, exactly the documented bound; survivors
    # keep their exact relative order
    p1 = {
        r["doc"] for r in bm25_topk(
            docs, q, "doc_id", "text", k=4, max_postings_per_term=1
        ).collect()
    }
    assert p1 == {2, 3}

    # (c) fixture equality at the catalog's P
    from .conftest import SF_CORRECT

    fdocs = load_table(spark, SF_CORRECT, "documents")
    fq = (
        fdocs.filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(F.split(F.col("text"), " "), 1, 3)).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    fex = {tuple(r) for r in bm25_topk(fdocs, fq, "doc_id", "text",
                                       k=10).collect()}
    fpr = {tuple(r) for r in bm25_topk(
        fdocs, fq, "doc_id", "text", k=10, max_postings_per_term=512
    ).collect()}
    assert fex == fpr


def test_bm25_adaptive_nomination_skips_when_it_cannot_bind(spark):
    """VERDICT r09 item 1: the champion prune is adaptive — when
    |distinct query terms| x P >= n_docs the champion union's upper
    bound already covers the corpus, so nomination is pure overhead
    and bm25_topk goes straight to exact scoring. Pin the decision
    BOTH ways via the physical plan (the nomination window's _q45/_pr
    columns appear only on the binding path) and pin skip-path results
    == exact results."""
    from nba_spurs_etl_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta"),
            (2, "alpha alpha alpha alpha alpha alpha alpha alpha"),
            (3, "beta beta beta beta beta beta beta beta"),
            (4, "gamma gamma"),
            (5, "gamma delta"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(7, "alpha"), (7, "beta")], "query_id long, term string"
    )

    def plan(p):
        df = bm25_topk(docs, q, "doc_id", "text", k=4,
                       max_postings_per_term=p)
        return df, df._jdf.queryExecution().executedPlan().toString()

    # P=3: 2 terms x 3 = 6 >= 5 docs -> skip (no nomination window),
    # result identical to the exact form
    skipped, splan = plan(3)
    assert "_q45" not in splan and "_pr" not in splan
    exact = {tuple(r) for r in bm25_topk(
        docs, q, "doc_id", "text", k=4).collect()}
    assert {tuple(r) for r in skipped.collect()} == exact
    # P=2: 2 x 2 = 4 < 5 -> binds (nomination window present, over
    # the checkpointed hit aggregation)
    _, bplan = plan(2)
    assert "_q45" in bplan and "_pr" in bplan
    # the checkpointed hit aggregation scans as ExistingRDD[doc#...]
    # (the createDataFrame inputs are RDD scans too, over doc_id/query_id)
    ckpt_scan = "Scan ExistingRDD[doc#"
    assert ckpt_scan in bplan
    # the skip path is the PLAIN exact plan — no checkpoints (at
    # sf0.1 the eager checkpoints alone cost more than the exact
    # path's duplicate token scan)
    assert ckpt_scan not in splan


def test_bm25_contribution_association_bit_exact_cross_engine(spark):
    """ADVICE r09 (medium): the BM25 contribution must associate as
    idf * (impact/den) in BOTH engines — the bare SQL ``a * b / c``
    parses left-associated ``(a*b)/c``, which differs from
    ``a*(b/c)`` by 1 ulp on some inputs and can flip the
    floor(s*2^45+0.5) addend at a rounding boundary. Pin each engine
    bit-for-bit against a Python IEEE-double emulation of the
    impact-first association (Python floats are the same binary64),
    over a grid that includes at least one point where the two
    associations genuinely differ."""
    import duckdb
    import struct

    c = 0.7432167423402214  # stands in for idf: association-only pin
    grid = [
        (tf, dlen, avgdl)
        for tf in (1, 2, 3, 5, 7, 11, 63, 1000)
        for dlen in (1, 2, 9, 10, 100, 997)
        for avgdl in (1.0, 7.25, 23.196153846153846, 104.7)
    ]

    def py_ref(tf, dlen, avgdl):
        den = tf + 1.2 * (0.25 + (0.75 * dlen) / avgdl)
        return c * ((tf * 2.2) / den)

    refs = [py_ref(*g) for g in grid]
    # the grid must witness the ulp divergence the fix closes
    assert any(
        py_ref(tf, dlen, avgdl) != (c * (tf * 2.2)) / (
            tf + 1.2 * (0.25 + (0.75 * dlen) / avgdl)
        )
        for tf, dlen, avgdl in grid
    ), "grid has no association-sensitive point; strengthen it"

    from nba_spurs_etl_spark.operators.search import _impact

    sdf = spark.createDataFrame(
        [(i, float(tf), float(dlen), float(avgdl))
         for i, (tf, dlen, avgdl) in enumerate(grid)],
        "i long, tf double, dlen double, avgdl double",
    )
    got_spark = {
        r["i"]: r["s"]
        for r in sdf.select(
            "i",
            (F.lit(c) * _impact(
                F.col("tf"), F.col("dlen"), F.col("avgdl"), 1.2, 0.75
            )).alias("s"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE g(i BIGINT, tf DOUBLE, dlen DOUBLE, avgdl DOUBLE)"
    )
    con.executemany(
        "INSERT INTO g VALUES (?, ?, ?, ?)",
        [(i, float(tf), float(dlen), float(avgdl))
         for i, (tf, dlen, avgdl) in enumerate(grid)],
    )
    got_duck = dict(con.sql(
        f"SELECT i, {c!r} * ((tf * CAST(2.2 AS DOUBLE))"
        " / (tf + 1.2 * (0.25 + 0.75 * dlen / avgdl))) FROM g"
    ).fetchall())

    def bits(x):
        return struct.pack("<d", x)

    for i, ref in enumerate(refs):
        assert bits(got_spark[i]) == bits(ref), (i, grid[i])
        assert bits(got_duck[i]) == bits(ref), (i, grid[i])


def test_rrf_fuse_rank_math_and_single_tower_hits(spark):
    """RRF fusion pins: overlap beats single-tower rank 1, missing
    tower contributes 0, query present in only one ranker survives,
    equal fused scores tie-break on doc_id."""
    from nba_spurs_etl_spark.operators.search import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1)],
        "query_id long, doc_id long, rank int",
    )
    sem = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2), (3, 30, 1)],
        "query_id long, doc_id long, rank int",
    )
    rows = {
        (r["query_id"], r["doc_id"]): r
        for r in rrf_fuse(lex, sem, k=10, a_flag="in_lex",
                          b_flag="in_sem").collect()
    }
    # doc 11: 1/62 + 1/61 beats doc 10's 1/61 and doc 12's 1/62
    assert rows[(1, 11)]["fused_rank"] == 1
    assert rows[(1, 11)]["in_lex"] and rows[(1, 11)]["in_sem"]
    assert rows[(1, 10)]["fused_rank"] == 2  # 1/61 > 1/62
    assert rows[(1, 12)]["fused_rank"] == 3
    assert not rows[(1, 12)]["in_lex"] and rows[(1, 12)]["in_sem"]
    # single-tower queries survive with the other flag false
    assert rows[(2, 20)]["fused_rank"] == 1 and not rows[(2, 20)]["in_sem"]
    assert rows[(3, 30)]["fused_rank"] == 1 and not rows[(3, 30)]["in_lex"]
    # equal-score tie (same rank, different towers) breaks on doc_id
    lex2 = spark.createDataFrame(
        [(1, 7, 1)], "query_id long, doc_id long, rank int"
    )
    sem2 = spark.createDataFrame(
        [(1, 5, 1)], "query_id long, doc_id long, rank int"
    )
    t = {r["doc_id"]: r["fused_rank"] for r in rrf_fuse(lex2, sem2).collect()}
    assert t == {5: 1, 7: 2}


def test_rrf_fuse_duplicate_candidate_rows_reduce_to_best_rank(spark):
    """A contract-violating input with two rows for one (query, doc)
    must NOT fan out through the full-outer join into duplicate fused
    rows: the defensive reduction keeps the BEST (minimum) rank,
    deterministically (ADVICE r08)."""
    from nba_spurs_etl_spark.operators.search import rrf_fuse

    lex = spark.createDataFrame(
        # doc 10 listed twice (ranks 3 and 1) — min rank 1 must win
        [(1, 10, 3), (1, 10, 1), (1, 11, 2)],
        "query_id long, doc_id long, rank int",
    )
    sem = spark.createDataFrame(
        [(1, 11, 1)], "query_id long, doc_id long, rank int"
    )
    out = rrf_fuse(lex, sem, k=10).collect()
    assert len(out) == 2  # one fused row per distinct (query, doc)
    rows = {r["doc_id"]: r for r in out}
    # doc 11: 1/62 + 1/61 beats doc 10's 1/61 (rank 1, not 1/63)
    assert rows[11]["fused_rank"] == 1
    assert rows[10]["fused_rank"] == 2


def test_rrf_fuse_strict_mode_raises_on_duplicate_candidates(spark):
    """VERDICT r09 item 8: strict mode turns the silent min-rank
    reduction into a loud, named contract error (the r09a fuzz find
    surfaced only because the reduction changed a result — strict
    makes the next producer bug visible immediately). Unique inputs
    must behave identically with strict on or off."""
    import pytest

    from nba_spurs_etl_spark.operators.search import rrf_fuse

    dup = spark.createDataFrame(
        [(1, 10, 3), (1, 10, 1), (1, 11, 2)],
        "query_id long, doc_id long, rank int",
    )
    sem = spark.createDataFrame(
        [(1, 11, 1)], "query_id long, doc_id long, rank int"
    )
    with pytest.raises(Exception) as ei:
        rrf_fuse(dup, sem, k=10, strict=True).collect()
    assert "rrf_fuse strict" in str(ei.value)
    # duplicate on the OTHER side trips too
    with pytest.raises(Exception):
        rrf_fuse(sem, dup, k=10, strict=True).collect()
    # unique inputs: strict is a behavioral no-op
    uniq = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rank int"
    )
    loose = sorted(tuple(r) for r in rrf_fuse(uniq, sem, k=10).collect())
    tight = sorted(
        tuple(r) for r in rrf_fuse(uniq, sem, k=10, strict=True).collect()
    )
    assert loose == tight


def test_mislabel_flags_detects_planted_outlier(spark):
    """A vector sitting on the other class's prototype is flagged;
    in-class vectors are not; zero-norm and unlabeled rows drop."""
    from nba_spurs_etl_spark.operators.similarity import mislabel_flags

    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.9, 0.1]),
        (3, 1, [0.0, 1.0]),
        (4, 1, [0.1, 0.9]),
        (5, 0, [0.0, 1.0]),   # labeled 0, sits on class-1 prototype
        (6, 0, [0.0, 0.0]),   # zero norm: excluded
        (7, None, [1.0, 0.0]),  # unlabeled: excluded
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    got = {
        r["vec_id"]: r for r in mislabel_flags(
            df, "label", "vec_id", "embedding"
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[5]["is_mislabeled"] and got[5]["best_label"] == 1
    for vid in (1, 2, 3, 4):
        assert not got[vid]["is_mislabeled"], got[vid]


def test_weighted_sample_per_group_counts(spark):
    from nba_spurs_etl_spark.operators.sampling import (
        weighted_sample_exact_k,
        weighted_sample_exact_k_per_group,
    )

    rows = [
        (i, "g%d" % (i % 3), float(1 + i % 7)) for i in range(1, 61)
    ] + [(100, "tiny", 5.0)]  # group with fewer rows than k
    df = spark.createDataFrame(rows, "id long, g string, w double")
    out = weighted_sample_exact_k_per_group(df, "id", "w", "g", k=4)
    counts = {r["g"]: r["n"] for r in out.groupBy("g").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"g0": 4, "g1": 4, "g2": 4, "tiny": 1}
    # restricted to one group, per-group == global A-ES on that slice
    g0 = df.filter("g = 'g0'")
    per = {r["id"] for r in weighted_sample_exact_k_per_group(
        g0, "id", "w", "g", k=4, salt="s").collect()}
    glb = {r["id"] for r in weighted_sample_exact_k(
        g0, "id", "w", k=4, salt="s").collect()}
    assert per == glb


def test_ngram_novelty_extremes(spark):
    from nba_spurs_etl_spark.operators.curation import ngram_novelty

    ref = spark.createDataFrame(
        [(10, "the quick brown fox jumps")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # verbatim -> novelty 0
            (2, "completely different words here now"),  # disjoint -> 1
            (3, "too short"),                   # no 3-grams -> NULL
        ],
        "doc_id long, text string",
    )
    got = {r["doc"]: r for r in ngram_novelty(docs, ref, "doc_id", "text").collect()}
    assert got[1]["novelty"] == 0.0 and got[1]["known_grams"] == got[1]["n_grams"] > 0
    assert got[2]["novelty"] == 1.0 and got[2]["known_grams"] == 0
    assert got[3]["n_grams"] == 0 and got[3]["novelty"] is None


def test_cusum_changepoint_detects_step(spark):
    """A clean level shift: 10 hours at rate 2 then 10 hours at rate 8
    — the max cumulative deviation lands exactly at the shift
    boundary (end of the low regime)."""
    from nba_spurs_etl_spark.plans.catalog import queries
    import pyspark.sql.functions as F

    rows = []
    eid = 0
    for h in range(20):
        rate = 2 if h < 10 else 8
        for j in range(rate):
            eid += 1
            rows.append((eid, h * 3_600_000_000))
    df = spark.createDataFrame(rows, "event_id long, us long")
    ev = df.select("event_id", F.timestamp_micros(F.col("us")).alias("ts"))
    # inline twin of the catalog query over a crafted frame
    from pyspark.sql import Window

    hourly = (
        ev.select((F.unix_micros("ts") - F.unix_micros("ts") % 3_600_000_000).alias("b"))
        .groupBy("b").agg(F.count(F.lit(1)).alias("k"))
    )
    tot = hourly.agg((F.sum("k").cast("double") / F.count(F.lit(1))).alias("m"))
    w = Window.orderBy("b")
    top = (
        hourly.crossJoin(F.broadcast(tot))
        .select("b", F.abs(F.sum("k").over(w).cast("double")
                           - F.row_number().over(w) * F.col("m")).alias("d"))
        .orderBy(F.col("d").desc(), "b").limit(1).first()
    )
    # hour 9 (0-based) closes the low regime: |20 - 10*5| = 30 is max
    assert top["b"] == 9 * 3_600_000_000
    assert top["d"] == 30.0


def test_winsorized_stats_known_values(spark):
    from nba_spurs_etl_spark.plans.catalog import registry as _reg
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    # one group, values 1..100: p01 = element at ceil(1) = 1,
    # p99 = element at ceil(99) = 99; one row clipped high (100), none low
    rows = [(i, "g", float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "o_orderkey long, o_orderpriority string, o_totalprice double")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = df.select(
        "o_orderpriority", "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = ranked.groupBy("o_orderpriority").agg(
        F.min(F.when(F.col("rn") == F.greatest(F.lit(1), F.ceil(0.01 * F.col("n")).cast("bigint")), F.col("o_totalprice"))).alias("p01"),
        F.min(F.when(F.col("rn") == F.ceil(0.99 * F.col("n")).cast("bigint"), F.col("o_totalprice"))).alias("p99"),
    ).first()
    assert bounds["p01"] == 1.0 and bounds["p99"] == 99.0
    # winsorized mean: sum(1..99) + 99 (the clipped 100) = 5049 -> 50.49
    got = ranked.join(
        F.broadcast(df.sparkSession.createDataFrame([("g", 1.0, 99.0)], "o_orderpriority string, p01 double, p99 double")),
        "o_orderpriority",
    ).agg(
        (F.sum(F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99")).cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias("wm"),
        F.sum(F.when(F.col("o_totalprice") > F.col("p99"), 1).otherwise(0)).alias("hi"),
    ).first()
    assert got["wm"] == 50.49 and got["hi"] == 1


def test_exact_kth_smallest_matches_sorted(spark):
    """Two-phase selection returns exactly the k-th element of the
    sorted multiset — duplicate-heavy data, boundary ks, and the
    out-of-range raise."""
    import random

    from nba_spurs_etl_spark.operators.prefix import exact_kth_smallest

    rng = random.Random(7)
    vals = [round(rng.uniform(0, 1000), 2) for _ in range(3000)]
    vals += [float(rng.randint(0, 50)) for _ in range(3000)]  # heavy ties
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(7)
    s = sorted(vals)
    for k in [1, 2, 3000, 5999, 6000]:
        assert exact_kth_smallest(df, "v", k, num_buckets=16) == s[k - 1]
    with pytest.raises(ValueError):
        exact_kth_smallest(df, "v", 6001, num_buckets=16)


def test_exact_kth_smallest_empty_and_k0_contract(spark):
    """k < 1 and empty-input ranks are contract errors, and the median
    entry short-circuits an empty fact to the EMPTY relation — its
    oracle's ``WHERE rn = (n+1)//2`` matches nothing on zero rows
    (edge-fuzz find, r07a: lineitem truncated wholesale drove
    k = (0+1)//2 = 0 into an UnboundLocalError in the bucket loop).
    Pinned deterministically because the fuzzer's empty-table pick
    rotates with the salt."""
    from nba_spurs_etl_spark.operators.prefix import exact_kth_smallest

    empty = spark.createDataFrame([], "v double")
    with pytest.raises(ValueError, match="1-based"):
        exact_kth_smallest(empty, "v", 0, num_buckets=16)
    with pytest.raises(ValueError, match="exceeds row count"):
        exact_kth_smallest(empty, "v", 1, num_buckets=16)

    import duckdb

    from nba_spurs_etl_spark.plans.catalog import registry

    q = registry()["lineitem_median_twophase"]
    # atomic build (tmp dir + rename, the _materialize pattern): an
    # unconditional in-place write raced under pytest-xdist — another
    # worker's Spark job could read a half-written parquet
    import os

    # dir name embeds the source file's mtime (the test_empty_tables
    # _empty_dir_name pattern): regenerated testdata with a changed
    # lineitem schema must invalidate the cached empty copy instead of
    # silently validating against the stale schema (r08 review find)
    src = "/root/testdata/sf0.001/lineitem.parquet"
    empty_dir = (
        f"/tmp/spark_graft_empty_li_pin_{int(os.path.getmtime(src))}"
    )
    if not os.path.isdir(empty_dir):
        tmp = f"{empty_dir}.tmp.{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        con = duckdb.connect()
        con.sql(
            "COPY (SELECT * FROM read_parquet("
            "'/root/testdata/sf0.001/lineitem.parquet') WHERE FALSE) TO "
            f"'{tmp}/lineitem.parquet' (FORMAT PARQUET)"
        )
        con.close()
        try:
            os.rename(tmp, empty_dir)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    out = q.builder(spark, empty_dir)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["n", "k", "median"]


def test_salted_join_equals_plain_join_under_hot_key(spark):
    """Salting must be result-invariant even when one key holds most
    of the fact side (the case it exists for), and stable across
    partitionings (content-derived salt, no rand())."""
    import random

    from nba_spurs_etl_spark.operators.joins import salted_join

    rng = random.Random(11)
    rows = [(7, rng.randint(0, 10**6)) for _ in range(4000)]  # hot key
    rows += [(rng.randint(0, 50), rng.randint(0, 10**6)) for _ in range(1000)]
    big = spark.createDataFrame(rows, "k bigint, payload bigint")
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(52)], "sk bigint, name string"
    )
    plain = sorted(
        tuple(r)
        for r in big.join(small, big.k == small.sk).select(
            "k", "payload", "name"
        ).collect()
    )
    for parts in (1, 13):
        got = sorted(
            tuple(r)
            for r in salted_join(
                big.repartition(parts), small, "k", "sk", num_salts=8
            ).select("k", "payload", "name").collect()
        )
        assert got == plain


def test_label_propagation_invariant_to_partitioning(spark):
    """LPA's (count DESC, label ASC) tie-break makes the synchronous
    update deterministic: identical labels whatever the input
    partitioning."""
    import random

    from nba_spurs_etl_spark.operators.graph import label_propagation

    rng = random.Random(5)
    edges = {(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(120)}
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    ref = sorted(
        tuple(r) for r in label_propagation(df.coalesce(1), rounds=3).collect()
    )
    got = sorted(
        tuple(r)
        for r in label_propagation(df.repartition(17), rounds=3).collect()
    )
    assert got == ref and len(ref) > 0


def test_multimodal_null_payload_isolation(spark):
    """A NULL binary payload must not kill the task (bytes(None) is a
    TypeError no media handler catches). Each pass has a defined NULL
    contract matching its oracle: error row (image/audio pipelines),
    NULL-feature row (featurize: md5(NULL) = NULL), zero frame rows
    (sample_frames: range(0, NULL) unnests empty)."""
    from nba_spurs_etl_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, mm.encode_fake_image(4, 3, "s")), (2, None)],
        "doc_id long, payload binary",
    )
    img = {r["doc"]: r["error"] for r in
           mm.image_pipeline_features(df, "doc_id", "payload").collect()}
    assert img[1] is None and img[2] == "null-payload"

    adf = spark.createDataFrame(
        [(1, mm.encode_fake_audio(8000, 16, "s")), (2, None)],
        "doc_id long, payload binary",
    )
    aud = {r["doc"]: r["error"] for r in
           mm.audio_pipeline_features(adf, "doc_id", "payload").collect()}
    assert aud[1] is None and aud[2] == "null-payload"

    feats = {r["doc"]: r["byte_hash"] for r in
             mm.featurize_binary(df, "doc_id", "payload").collect()}
    assert feats[1] is not None and feats[2] is None

    frames = mm.sample_frames(df, "doc_id", "payload").collect()
    assert {r["doc"] for r in frames} == {1}

    # MPEG-2/2.5 sync variants are codec-gated, not 'malformed'
    mp3ish = spark.createDataFrame(
        [(1, b"\xff\xf3" + b"\x00" * 30)], "doc_id long, payload binary"
    )
    err = mm.audio_pipeline_features(mp3ish, "doc_id", "payload").collect()
    assert err[0]["error"].startswith("needs-codec")


def test_subtree_searches_subquery_sections():
    """_subtree must find nodes in subquery tree blocks, not only the
    main tree — SinglePartition hazards inside scalar subqueries were
    invisible to the audit (empty subtree -> no finding)."""
    from nba_spurs_etl_spark.plans.advisor import _subtree

    plan = (
        "* Project (1)\n"
        "+- Exchange (2)\n"
        "   +- HashAggregate (3)\n"
        "\n"
        "===== Subqueries =====\n"
        "\n"
        "Subquery:1\n"
        "+- Exchange (9)\n"
        "   +- Window (10)\n"
        "      +- Scan parquet (11)\n"
    )
    sub = _subtree(plan, "Exchange (9)")
    assert "Scan parquet" in sub
    assert "HashAggregate" not in sub


def test_set_priority_rejects_duplicates():
    from nba_spurs_etl_spark.plans import registry

    saved = list(registry._PRIORITY)
    name = saved[0]
    try:
        with pytest.raises(ValueError, match="duplicate"):
            registry.set_priority([name, name])
    finally:
        registry.set_priority(saved)


def test_asof_join_null_payload_null_time_same_row(spark):
    """DuckDB ASOF semantics: the payload comes from THE latest
    matching right row — a NULL value there stays NULL (not a
    resurrected older value), all payload columns come from the same
    row, and a NULL right_time is never a match."""
    left = spark.createDataFrame([(1, 3), (2, 0)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (2, None, 99.0)],
        "k long, rt long, v double",
    )
    out = {
        r["k"]: (r["price"], r["match_t"])
        for r in asof_join_backward(
            left, right, "k", "t", "rt", {"v": "price", "rt": "match_t"}
        ).collect()
    }
    # k=1: latest match is rt=2 whose v is NULL — price NULL, match_t 2
    # (per-column carries would stitch price=10 from rt=1 with match_t=2)
    assert out[1] == (None, 2)
    # k=2: the only right row has NULL rt — not a universal match
    assert out[2] == (None, None)


def test_latest_by_key_tie_break_deterministic(spark):
    from nba_spurs_etl_spark.operators.merge import latest_by_key

    rows = [(1, 5, "U", 100.0), (1, 5, "D", None), (2, 1, "I", 7.0)]
    df = spark.createDataFrame(rows, "k long, ts long, op string, val double")
    a = sorted(map(tuple, latest_by_key(df.coalesce(1), ["k"], "ts").collect()))
    b = sorted(map(tuple, latest_by_key(df.repartition(7), ["k"], "ts").collect()))
    assert a == b
    assert a[0][2] == "D"  # tie at ts=5 -> smallest op wins, every run


def test_kmeans_lloyd_string_ids(spark):
    """Centroid ids must keep the seed id's native type: casting
    string doc ids to long made every cell NULL and silently froze
    the clustering."""
    from nba_spurs_etl_spark.operators.clustering import kmeans_lloyd

    rows = [(f"doc_{i}", [float(i % 3), float(i)]) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id string, v array<float>")
    out = kmeans_lloyd(df, "doc_id", "v", k=2, iters=2).collect()
    assert len(out) == 6
    assert all(r["cell"] is not None for r in out)
    assert len({r["cell"] for r in out}) == 2


def test_split_label_null_id_not_test(spark):
    """NULL ids must not silently land in the TEST split (eval
    contamination); they get a NULL split instead."""
    from nba_spurs_etl_spark.operators.sampling import split_label

    df = spark.createDataFrame([(None,), ("a",)], "id string")
    got = {
        r["id"]: r["split"]
        for r in df.select("id", split_label("id").alias("split")).collect()
    }
    assert got[None] is None
    assert got["a"] in ("train", "validation", "test")


def test_rollup_coarser_rejects_non_nesting_width(spark):
    from nba_spurs_etl_spark.operators.rollups import rollup_coarser

    df = spark.createDataFrame([], "bucket timestamp, cnt long, "
                               "val_sum decimal(18,2), val_min string, "
                               "val_max string")
    with pytest.raises(ValueError, match="nest"):
        rollup_coarser(df, [], 90, finer_seconds=60)


def test_chargram_short_docs_match_oracle(spark, tmp_path):
    """Docs shorter than one trigram (and NULL text) must emit zero
    grams: Spark's sequence(1, 0) is a DESCENDING [1, 0] — without the
    guard each short doc emitted two spurious grams that DuckDB's
    empty generate_series never counts."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nba_spurs_etl_spark.plans.catalog import queries
    from nba_spurs_etl_spark.plans.registry import oracles

    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "text": pa.array(["", "ab", None, "abcdef", "xyz"]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = sorted(
        (r["gram"], r["cnt"])
        for r in queries()["text_chargram_dist"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    duck = sorted(con.sql(oracles()["text_chargram_dist"]).fetchall())
    assert got == duck
    assert got == [("abc", 1), ("bcd", 1), ("cde", 1), ("def", 1), ("xyz", 1)]


def test_quality_features_empty_text_matches_oracle(spark):
    """Empty text: alpha_ratio is 0/0 — bare division ABORTS under
    ANSI (Spark 4 throws DIVIDE_BY_ZERO even for doubles) and yields
    NULL in DuckDB; both sides define it as 0.0. The testdata corpus
    has no empty docs, so this drives the guard branch directly,
    end-to-end against the registered oracle."""
    import duckdb

    from nba_spurs_etl_spark.operators import textops
    from nba_spurs_etl_spark.plans.registry import oracles

    docs = spark.createDataFrame(
        [(1, ""), (2, "the cat sat"), (3, None)], "doc_id long, text string"
    )
    got = {
        r["doc"]: r
        for r in textops.quality_features(docs, "doc_id", "text").collect()
    }
    assert got[1]["alpha_ratio"] == 0.0
    assert got[1]["quality_score"] is not None
    assert got[3]["alpha_ratio"] is None  # NULL text propagates NULL

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, ''), (2, 'the cat sat'), (CAST(3 AS BIGINT), CAST(NULL AS VARCHAR))"
        ") t(doc_id, text)"
    )
    duck = {r[0]: r for r in con.sql(oracles()["text_quality"]).fetchall()}
    cols = ["doc", "n_tokens", "n_chars", "distinct_ratio", "mean_word_len",
            "stopword_ratio", "alpha_ratio", "quality_score"]
    for doc in (1, 2, 3):
        assert tuple(got[doc][c] for c in cols) == duck[doc], doc


def test_streaks_one_row_contract_on_empty_branch(spark):
    """The reference model's final SELECT is a row of scalar
    subqueries (streaks_and_rivals.sql:92-102): an all-wins input must
    still yield exactly ONE row, with NULL losing-streak columns — the
    previous crossJoin chain collapsed to zero rows."""
    from nba_spurs_etl_spark.plans import gold

    games = spark.createDataFrame(
        [
            ("SAS", "2024", "2024-01-01", "SAS vs. LAL", "5", "W"),
            ("SAS", "2024", "2024-01-02", "SAS @ DEN", "7", "W"),
        ],
        "team_abbreviation string, season string, game_date string, "
        "matchup string, plus_minus string, wl string",
    )
    out = gold.streaks_and_rivals({"games": games}).collect()
    assert len(out) == 1
    r = out[0]
    assert r["best_winning_streak_length"] == 2
    assert r["worst_losing_streak_season"] is None
    assert r["worst_losing_streak_length"] is None
    assert r["team_beat_by_most"] == "DEN"  # VARCHAR max: '7' > '5'
    assert r["team_lost_to_by_most"] == "LAL"  # VARCHAR min quirk


def test_epoch_bucket_idiom_matches_duckdb_on_negatives(spark):
    """The engine-parity time-bucketing idiom `(x / width)
    .cast('bigint')` truncates toward zero — and so does DuckDB's
    BIGINT `//` (it is NOT a floor for integer operands: -1 // 7 = 0).
    Pin the equivalence on negative (pre-1970) epochs so neither side
    is 'fixed' to floor semantics unilaterally."""
    import duckdb

    vals = [-604_800_000_001, -604_800_000_000, -1, 0, 1,
            604_799_999_999, 604_800_000_000, -86_400_000_000 * 3 - 7]
    df = spark.createDataFrame([(v,) for v in vals], "x bigint")
    got = {
        r["x"]: (r["wk"], r["day"])
        for r in df.select(
            "x",
            (F.col("x") / F.lit(604_800_000_000)).cast("bigint").alias("wk"),
            (F.col("x") / F.lit(86_400_000_000)).cast("bigint").alias("day"),
        ).collect()
    }
    con = duckdb.connect()
    duck = con.sql(
        "SELECT x, x // 604800000000, x // 86400000000 FROM (SELECT "
        "unnest($vals) AS x)", params={"vals": vals}
    ).fetchall()
    assert got == {x: (wk, day) for x, wk, day in duck}
    assert got[-1] == (0, 0)  # both truncate toward zero


def test_label_propagation_string_node_ids(spark):
    """The tie-break must not cast labels to numbers: string doc ids
    (the operator is generic over pair lists) previously hit ANSI
    CAST_INVALID_INPUT via -label; min_by over (-count, label) orders
    any comparable label type, still deterministically."""
    from nba_spurs_etl_spark.operators.graph import label_propagation

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    ref = sorted(
        tuple(r) for r in label_propagation(df.coalesce(1), rounds=3).collect()
    )
    got = sorted(
        tuple(r)
        for r in label_propagation(df.repartition(7), rounds=3).collect()
    )
    assert got == ref
    labels = dict(ref)
    # the a-b-c triangle converges to its smallest label
    assert labels["a"] == labels["b"] == labels["c"] == "a"
    assert set(labels) == {"a", "b", "c", "x", "y"}


def test_integer_pagerank_hub_headroom(spark):
    """The damped update must not overflow BIGINT on a hub: with the
    direct (85 * s) div 100 form, s = 2e17 of accumulated rank mass
    aborts under ANSI (85*s > 2^63); the decomposed form is exact and
    survives any BIGINT-sized s."""
    from nba_spurs_etl_spark.operators.graph import integer_pagerank

    leaves = 20
    scale = 10 ** 16
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, leaves + 1)], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["rank"]
        for r in integer_pagerank(pairs, iterations=1, scale=scale).collect()
    }
    base = scale * 15 // 100
    exp_hub = base + 85 * (leaves * scale) // 100  # exact, unbounded ints
    exp_leaf = base + 85 * (scale // leaves) // 100
    assert got[0] == exp_hub
    assert all(got[i] == exp_leaf for i in range(1, leaves + 1))


def test_global_running_sum_all_null_bucket_carries_offset(spark):
    """A later bucket whose own prefix is all-NULL must still report
    the carried offset (sequential SUM() OVER ignores NULLs but stays
    NULL only until the FIRST non-null anywhere); rows before any
    non-null value stay NULL."""
    from nba_spurs_etl_spark.operators.prefix import global_running_sum

    rows = [(1, None), (2, 5), (10, None), (11, None), (20, 7)]
    df = spark.createDataFrame(rows, "k bigint, x bigint")
    got = {
        r["k"]: r["run"]
        for r in global_running_sum(
            df.repartition(4), ["k"], "x", out_col="run", num_buckets=4
        ).collect()
    }
    assert got == {1: None, 2: 5, 10: 5, 11: 5, 20: 12}


def test_interval_concurrency_drops_degenerate_intervals(spark):
    """[t, t) is empty under half-open semantics: its boundaries must
    not appear (previously the -1 sorted before its own +1 and the
    sweep reported a negative concurrency)."""
    from nba_spurs_etl_spark.operators.prefix import interval_concurrency

    rows = [(5, 5, 1), (3, 8, 2), (8, 9, 3)]
    df = spark.createDataFrame(rows, "s bigint, e bigint, id bigint")
    out = interval_concurrency(
        df, F.col("s"), F.col("e"), F.col("id"), num_buckets=2
    ).collect()
    concs = [r["concurrency"] for r in sorted(out, key=lambda r: (r["t"], r["delta"], r["tb"]))]
    # intervals [3,8) and [8,9): boundaries 3:+1 ->1, 8:-1 ->0, 8:+1 ->1, 9:-1 ->0
    assert concs == [1, 0, 1, 0]
    assert all(c >= 0 for c in concs)


def test_global_running_sums_multi_matches_model(spark):
    """The one-pass multi-column prefix sum must equal a driver-side
    model prefix sum for every column, on duplicate-heavy keys."""
    import random

    from nba_spurs_etl_spark.operators.prefix import global_running_sums

    rng = random.Random(3)
    rows = [
        (rng.randint(0, 40), i, rng.randint(-5, 9), rng.randint(0, 3))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "k bigint, tie bigint, x bigint, y bigint")
    got = {
        (r["k"], r["tie"]): (r["cx"], r["cy"])
        for r in global_running_sums(
            df.repartition(9), ["k", "tie"], {"cx": "x", "cy": "y"},
            num_buckets=8,
        ).collect()
    }
    cx = cy = 0
    for k, tie, x, y in sorted(rows):
        cx += x
        cy += y
        assert got[(k, tie)] == (cx, cy)


def test_approx_sketches_within_error_bounds(spark):
    """approx_sketches now carries its brackets IN the output (r08 —
    the events_hll_daily_rollup pattern, so the entry has a full
    DuckDB oracle): exact_users rides along and the *_within_bound
    booleans assert the published sketch error bounds. Pin the frame's
    own claims against an independently-computed exact rollup."""
    from nba_spurs_etl_spark.plans.catalog import queries
    from nba_spurs_etl_spark.sources.catalog import load_table

    from .conftest import SF_CORRECT

    got = {
        r["event_type"]: r
        for r in queries()["approx_sketches"](spark, SF_CORRECT).collect()
    }
    ev = load_table(spark, SF_CORRECT, "events")
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for et, r in got.items():
        assert r["exact_users"] == exact[et]["users"], (et, r)
        assert r["events"] == exact[et]["cnt"], (et, r)
        assert r["users_within_bound"] is True, (et, r)
        assert r["p50_within_bound"] is True, (et, r)
        assert r["p99_within_bound"] is True, (et, r)


def test_exact_kth_smallest_recursive_descent(spark):
    """With a tiny takeordered_limit the selector must recurse through
    bucket re-histogramming and still return the exact order
    statistic — including on a column dominated by one constant value
    (an un-splittable bucket must short-circuit, not loop)."""
    import random

    from nba_spurs_etl_spark.operators.prefix import exact_kth_smallest

    rng = random.Random(19)
    vals = [round(rng.uniform(0, 100), 3) for _ in range(4000)]
    vals += [42.0] * 3000  # constant-heavy region
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(5)
    s = sorted(vals)
    for k in [1, 500, 3500, 5200, 7000]:
        got = exact_kth_smallest(
            df, "v", k, num_buckets=8, takeordered_limit=64
        )
        assert got == s[k - 1], (k, got, s[k - 1])


def test_exact_kth_smallest_sentinel_heavy_peels_max(spark):
    """A default/sentinel-heavy column (>= 63/64 of rows share the
    max) collapses every quantile boundary to that value: one
    non-constant bucket. The selector must PEEL the max class — rank
    in the max class answers immediately, rank below it recurses on
    the strictly-smaller slice — never fall through to a driver-side
    TakeOrdered of up to j rows."""
    from nba_spurs_etl_spark.operators.prefix import exact_kth_smallest

    vals = [float(i) for i in range(30)] + [999.0] * 4000
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(3)
    s = sorted(vals)
    # k in the sub-max region, at the boundary, and inside the max mass
    for k in [1, 15, 30, 31, 2000, 4030]:
        got = exact_kth_smallest(
            df, "v", k, num_buckets=8, takeordered_limit=16
        )
        assert got == s[k - 1], (k, got, s[k - 1])


def test_substring_dedup_spans_interval_semantics(spark):
    """Constructed corpus pinning the span contract: overlapping and
    touching gram runs merge into one maximal interval, disjoint runs
    stay separate spans, a substring repeated only WITHIN one doc is
    not marked (cross-doc contract), and docs shorter than k never
    error (sequence(1,0) guard)."""
    from nba_spurs_etl_spark.operators.dedup import substring_dedup_spans

    shared = "0123456789abcdefghij"  # exactly k=20 chars
    docs = [
        # doc 1/2 share `shared` at different offsets -> one exact span each
        (1, "AAAA" + shared + "BBBBBBBB"),
        (2, shared + "CCCCCCCCCCCCCCCCCCCCCCCC"),
        # doc 3: two copies of `shared` back to back -> 40-char run shared
        # with docs 1/2 only gram-wise; its two occurrences touch, so the
        # intervals merge into ONE span of 40
        (3, shared + shared),
        # doc 4: within-doc-only repeat, never appears elsewhere -> no rows
        (4, "zyxwvutsrqponmlkjihg" * 2),
        # doc 5: shorter than k -> no rows, no sequence(1,0) blow-up
        (5, "tiny"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r["doc"], r["span_start"], r["span_end"], r["span_len"])
        for r in substring_dedup_spans(df, "doc_id", "text", k=20).collect()
    }
    assert out == {
        (1, 5, 24, 20),
        (2, 1, 20, 20),
        (3, 1, 40, 40),
    }


def test_dsir_topk_prefers_target_like_docs(spark):
    """Raw docs sharing the target's bigram distribution must outrank
    raw docs with disjoint vocabulary, n_feats must equal the doc's
    bigram count, and sub-2-word docs are excluded by contract."""
    from nba_spurs_etl_spark.operators.curation import dsir_topk

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta epsilon zeta") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),        # target-like
            (2, "beta gamma delta epsilon"),      # target-like
            (3, "red blue green yellow purple"),  # disjoint
            (4, "one two three four five six"),   # disjoint
            (5, "word"),                          # no bigram -> excluded
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc"]: (r["n_feats"], r["rank"])
        for r in dsir_topk(raw, target, "doc_id", "text", k=10).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1][0] == 3 and rows[3][0] == 4  # n-1 bigrams
    # both target-like docs rank above both disjoint docs
    assert max(rows[1][1], rows[2][1]) < min(rows[3][1], rows[4][1])


def test_decontaminate_neardup_flags_light_edits(spark):
    """A corpus doc that is a light edit of an eval doc (high shingle
    jaccard, NOT verbatim-identical) must be flagged against that eval
    doc; unrelated docs must not appear."""
    from nba_spurs_etl_spark.operators.curation import decontaminate_neardup

    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the fence and the birds sing in the tree "
            "as morning light spreads across the quiet valley and the "
            "river runs past the old stone bridge toward the distant sea")
    eval_df = spark.createDataFrame(
        [(1000, base)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # one word changed -> near-dup, not exact (fixture chosen
            # so the 4x4 banding deterministically collides: LSH recall
            # is probabilistic over texts, fixed given a text)
            (1, base.replace("river", "stream")),
            (2, "completely different text about spark query planning "
                "and shuffle partitioning strategies at scale"),
        ],
        "doc_id long, text string",
    )
    rows = decontaminate_neardup(
        corpus, eval_df, "doc_id", "text", threshold=0.5
    ).collect()
    assert [(r["doc"], r["eval_doc"]) for r in rows] == [(1, 1000)]
    assert 0.5 <= rows[0]["jaccard"] < 1.0


def test_bpe_merge_table_greedy_trace(spark):
    """Hand-derived merge sequence on a 2-doc corpus: (a,b) wins round
    1 with count 3; round 2 is a count tie broken lexicographically
    toward (ab,ab); round 3 merges (ab,c); round 4 finds no pairs left
    and the table ends early — also pinning left-to-right greedy
    application ('abab' -> [ab, ab], not [a, ba, b])."""
    from nba_spurs_etl_spark.operators.textops import bpe_merge_table

    df = spark.createDataFrame(
        [(1, "abab"), (2, "abc")], "doc_id long, text string"
    )
    rows = [
        (r["round"], r["merged"], r["cnt"])
        for r in bpe_merge_table(df, "text", rounds=4).orderBy("round").collect()
    ]
    assert rows == [(1, "ab", 3), (2, "abab", 1), (3, "abc", 1)]


def test_bpe_merge_table_newline_is_a_token(spark):
    """Line terminators are ordinary characters to the tokenizer: the
    wrap regex runs in DOTALL mode, so 'ab\\ncd' + 'ab cd' counts pair
    (a,b) twice — Java's default '.' skips \\n (and \\r, NEL, U+2028,
    U+2029), which used to glue newline-adjacent chars into one
    pseudo-token with raw separators inside and undercount (a,b)."""
    from nba_spurs_etl_spark.operators.textops import bpe_merge_table

    df = spark.createDataFrame(
        [(1, "ab\ncd"), (2, "ab cd"), (3, "x\ry")],
        "doc_id long, text string",
    )
    rows = [
        (r["round"], r["merged"], r["cnt"])
        for r in bpe_merge_table(df, "text", rounds=1)
        .orderBy("round")
        .collect()
    ]
    # (a,b) and (c,d) both appear twice; lexicographic tie-break on the
    # SEP-joined pair id picks (a,b)
    assert rows == [(1, "ab", 2)]


def test_winnowing_guarantee_and_density(spark):
    """Pins the MOSS guarantee on random-ish text: two docs sharing a
    substring of length >= w+k-1 select at least one COMMON
    fingerprint inside it; consecutive selected positions are <= w
    apart (at least one pick per window); and the winnowed spans
    pipeline reports the shared region for both docs."""
    import random

    from nba_spurs_etl_spark.operators.dedup import (
        substring_dedup_spans_winnowed,
        winnowed_gram_index,
    )

    k, w = 20, 8
    rng = random.Random(7)
    rand = lambda n: "".join(rng.choice("abcdefghij") for _ in range(n))
    shared = rand(k + w - 1)  # exactly the guarantee threshold
    d1 = rand(60) + shared + rand(60)
    d2 = rand(55) + shared + rand(65)
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    fp = winnowed_gram_index(df, "doc_id", "text", k=k, w=w).collect()
    by_doc = {1: set(), 2: set()}
    pos_by_doc = {1: [], 2: []}
    for r in fp:
        by_doc[r["doc"]].add(r["gh"])
        pos_by_doc[r["doc"]].append(r["pos"])
    assert by_doc[1] & by_doc[2], "shared >= w+k-1 match must share a fingerprint"
    for doc, ps in pos_by_doc.items():
        ps = sorted(ps)
        gaps = [b - a for a, b in zip(ps, ps[1:])]
        assert max(gaps) <= w, (doc, max(gaps))
    spans = substring_dedup_spans_winnowed(
        df, "doc_id", "text", k=k, w=w
    ).collect()
    docs_with_span = {r["doc"] for r in spans}
    assert docs_with_span == {1, 2}
    # each reported span must overlap the true shared region
    starts = {1: 61, 2: 56}
    for r in spans:
        lo, hi = starts[r["doc"]], starts[r["doc"]] + len(shared) - 1
        assert r["span_start"] <= hi and r["span_end"] >= lo, dict(r.asDict())


def test_exact_dedup_null_text_not_grouped(spark):
    """Rows with NULL text (PERMISSIVE-mode corrupt records surface as
    all-NULL rows) must NOT collapse into one phantom duplicate group
    — md5(NULL) is NULL and groupBy treats NULLs as equal, so without
    the filter a keep-one splice would silently drop N-1 unrelated
    corrupt rows as 'duplicates'."""
    from nba_spurs_etl_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None), (5, "other")],
        "doc_id long, text string",
    )
    rows = exact_dedup(df, "doc_id", "text").collect()
    assert all(r["content_hash"] is not None for r in rows)
    by_keep = {r["keep_id"]: r["dup_cnt"] for r in rows}
    assert by_keep == {1: 2, 5: 1}  # NULLs excluded entirely


def test_banding_parameter_validation(spark):
    """Invalid banding raises instead of silently changing recall:
    a band_size that does not divide num_hashes ignored trailing
    hashes (or emitted ZERO bands when band_size > num_hashes, making
    every pair generator return empty), and simhash's post-validation
    clip voided the pigeonhole exact-recall guarantee whenever
    max_hamming >= bits."""
    from nba_spurs_etl_spark.operators.dedup import (
        minhash_bands,
        simhash_pairs,
    )

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide"):
        minhash_bands(df, "doc_id", "text", num_hashes=16, band_size=5)
    with pytest.raises(ValueError, match="must divide"):
        minhash_bands(df, "doc_id", "text", num_hashes=16, band_size=20)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(df, "doc_id", "text", bits=16, max_hamming=16)


def test_similarity_family_handles_empty_corpus(spark):
    """Empty (or all-NULL/zero-norm) embedding corpora must yield the
    EMPTY top-k relation, not an analysis error: the codebook/centroid
    samples collect zero rows and an empty centroid literal types as
    array<void>, which the lambda scorers cannot field-extract
    (edge-fuzz find, r06 — surfaced when the fuzzer truncated
    embeddings wholesale). Pinned here deterministically because the
    fuzzer's empty-table pick rotates with the salt."""
    from nba_spurs_etl_spark.operators.clustering import kmeans_lloyd
    from nba_spurs_etl_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
        ivf_pq_topk,
        ivf_topk,
        pq_topk,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    zeros = spark.createDataFrame(
        [(1, [0.0] * 8, 0), (2, None, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    for corpus in (empty, zeros):
        q = corpus.limit(3)
        assert brute_force_topk(corpus, q, "vec_id", "embedding").count() == 0
        assert (
            brute_force_topk_arrow(corpus, q, "vec_id", "embedding").count()
            == 0
        )
        assert ivf_topk(corpus, q, "vec_id", "embedding").count() == 0
        assert pq_topk(corpus, q, "vec_id", "embedding", m=4).count() == 0
        assert (
            ivf_pq_topk(corpus, q, "vec_id", "embedding", m=4).count() == 0
        )
        out = kmeans_lloyd(corpus, "vec_id", "embedding", k=4)
        # kmeans excludes NULL vectors but legitimately clusters the
        # all-zero one (L2 distance needs no normalization) — only the
        # truly empty corpus yields the empty assignment
        assert out.count() == (0 if corpus is empty else 1)
        assert [f.name for f in out.schema.fields] == ["vec_id", "cell", "d2"]


def test_trained_codebooks_deterministic_and_empty_safe(spark):
    """The trained-codebook path (r07) must be exactly reproducible —
    the index literals are regenerated on every query build, so any
    nondeterminism would make the SAME query return different rows run
    to run — and must inherit the empty-corpus contract."""
    from nba_spurs_etl_spark.operators.similarity import (
        ivf_pq_topk,
        ivf_topk,
        pq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from nba_spurs_etl_spark.sources.catalog import load_table

    from .conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    b1 = train_pq_codebooks(emb, "vec_id", "embedding", m=4, n_codes=8,
                            sample_n=64, iters=3)
    b2 = train_pq_codebooks(emb, "vec_id", "embedding", m=4, n_codes=8,
                            sample_n=64, iters=3)
    assert b1 == b2 and len(b1) == 4 and len(b1[0]) == 8
    c1 = train_ivf_centroids(emb, "vec_id", "embedding", n_cells=8,
                             sample_n=64, iters=3)
    c2 = train_ivf_centroids(emb, "vec_id", "embedding", n_cells=8,
                             sample_n=64, iters=3)
    assert c1 == c2 and len(c1) == 8
    # spherical centroids are unit-norm
    for r in c1:
        n = sum(x * x for x in r["cv"]) ** 0.5
        assert abs(n - 1.0) < 1e-9

    q = emb.filter(F.col("vec_id") % 100 == 0)
    r1 = sorted(map(tuple, ivf_topk(
        emb, q, "vec_id", "embedding", k=5, n_cells=8, nprobe=2,
        train_sample=64, train_iters=3).collect()))
    r2 = sorted(map(tuple, ivf_topk(
        emb, q, "vec_id", "embedding", k=5, n_cells=8, nprobe=2,
        train_sample=64, train_iters=3).collect()))
    assert r1 == r2 and r1

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    eq = empty.limit(3)
    assert ivf_topk(empty, eq, "vec_id", "embedding",
                    train_sample=64).count() == 0
    assert pq_topk(empty, eq, "vec_id", "embedding", m=4,
                   train_sample=64).count() == 0
    assert ivf_pq_topk(empty, eq, "vec_id", "embedding", m=4,
                       train_sample=64).count() == 0


def test_grid_radius_join_equals_bruteforce(spark):
    """The 3x3-neighbor grid composition loses no pair and adds none:
    equality with the naive cross-join form on random integer points,
    including exact-boundary distances (dist2 == r^2 kept)."""
    import random

    from nba_spurs_etl_spark.operators.joins import grid_radius_join

    rng = random.Random(88)
    left = [(i, rng.randrange(0, 1000), rng.randrange(0, 1000))
            for i in range(60)]
    right = [(j, rng.randrange(0, 1000), rng.randrange(0, 1000))
             for j in range(80)]
    # plant an exact-boundary pair (dist2 == r^2 = 22500: dx=90 dy=120)
    left.append((990, 500, 500))
    right.append((991, 590, 620))
    l = spark.createDataFrame(left, "lid long, sx long, sy long")
    r = spark.createDataFrame(right, "rid long, cx long, cy long")
    got = {
        (x["lid"], x["rid"], x["dist2"])
        for x in grid_radius_join(l, r, "sx", "sy", "cx", "cy", 150)
        .select("lid", "rid", "dist2").collect()
    }
    want = {
        (li, rj, (lx - rx) ** 2 + (ly - ry) ** 2)
        for (li, lx, ly) in left
        for (rj, rx, ry) in right
        if (lx - rx) ** 2 + (ly - ry) ** 2 <= 150 * 150
    }
    assert got == want
    assert (990, 991, 22500) in got


def test_index_cache_key_invalidates_on_mtime_and_size(spark, tmp_path):
    """The corpus-snapshot key behind the label-centroid cache and the
    bm25 bind memo: a rebuilt frame over unchanged files gets the same
    key, while touching a source file's mtime OR rewriting it at a
    different size gives a new one."""
    import os

    from nba_spurs_etl_spark.operators import similarity as S

    src = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.parquet(src)
    k0 = S._index_cache_key(spark.read.parquet(src), "p")
    assert k0 is not None
    assert S._index_cache_key(spark.read.parquet(src), "p") == k0
    data_file = next(
        f for f in os.listdir(src)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    fp = os.path.join(src, data_file)
    # mtime bump invalidates
    st = os.stat(fp)
    os.utime(fp, (st.st_atime, st.st_mtime + 5))
    cand = spark.read.parquet(src)  # fresh plan over the touched file
    k_before = S._index_cache_key(cand, "p")
    assert k_before != k0
    # size participates in the key (ADVICE r08): an mtime-preserving
    # rewrite at a DIFFERENT size must miss
    st = os.stat(fp)
    with open(fp, "ab") as f:  # same mtime, different size
        f.write(b"\x00")
    os.utime(fp, (st.st_atime, st.st_mtime))  # restore mtime exactly
    k_after = S._index_cache_key(cand, "p")
    assert k_before != k_after


def test_canon_plan_str_stable_across_lambda_builds(spark):
    """Every higher-order lambda gets a fresh variable name from a
    JVM-global counter, so the unresolved plans of two identical
    builds differ; the canonicalized analyzed plan must not."""
    from nba_spurs_etl_spark.operators.similarity import canon_plan_str

    def build():
        df = spark.createDataFrame(
            [(1, [1.0, 2.0], [3.0, 4.0])],
            "id long, a array<double>, b array<double>",
        )
        dot = F.aggregate(
            F.zip_with("a", "b", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return df.filter(dot > 1.0)

    a, b = build(), build()
    assert canon_plan_str(a) is not None
    assert canon_plan_str(a) == canon_plan_str(b)


def test_mislabel_label_centroids_cached_across_builds(spark):
    """The label-centroid cache earns its keep: a second build of
    embedding_mislabel_flags reuses the collected centroids and
    launches fewer jobs than a build with the cache cleared."""
    from nba_spurs_etl_spark.operators import similarity as S

    from .conftest import jobs_of_build_and_drain

    S._SAMPLE_CACHE.clear()
    jobs_of_build_and_drain(spark, "embedding_mislabel_flags")
    assert len(S._SAMPLE_CACHE) == 1
    warm = jobs_of_build_and_drain(spark, "embedding_mislabel_flags")
    S._SAMPLE_CACHE.clear()
    cleared = jobs_of_build_and_drain(spark, "embedding_mislabel_flags")
    assert warm < cleared


def test_pq_family_builds_cache_no_samples(spark):
    """The PQ/IVF codebook sample is collected per build: nothing is
    left in the in-process cache."""
    from nba_spurs_etl_spark.operators import similarity as S
    from nba_spurs_etl_spark.plans.catalog import queries

    from .conftest import SF_SMOKE

    S._SAMPLE_CACHE.clear()
    for _ in range(2):
        queries()["similarity_topk_ivf_pq"](spark, SF_SMOKE).count()
    assert S._SAMPLE_CACHE == {}


def test_doubles_sql_roundtrips_edge_values_bit_exact(spark):
    """The rendered-literal fast path (_doubles_sql -> F.expr) must be
    bit-identical to the F.lit slow path it replaced, INCLUDING the
    values Python repr / SQL parsing could plausibly mangle:
    subnormals, -0.0, +/-inf, NaN, extreme magnitudes (ADVICE r08 —
    the docstring claimed this was verified but nothing pinned it)."""
    import math
    import struct

    from nba_spurs_etl_spark.operators.similarity import _doubles_sql

    edges = [
        5e-324,                 # smallest positive subnormal
        -5e-324,
        2.2250738585072014e-308,  # smallest normal
        1.7976931348623157e+308,  # largest finite
        -1.7976931348623157e+308,
        0.0,
        -0.0,
        float("inf"),
        float("-inf"),
        float("nan"),
        1e+300,
        -1e-300,
        0.1,                    # classic non-terminating binary fraction
        1.0 + 2**-52,           # 1 ulp above 1
        (2**53 - 1) * 1.0,      # largest exact integer double
    ]

    def bits(x):
        return struct.pack("<d", x)

    got = spark.range(1).select(
        F.expr(_doubles_sql(edges)).alias("a")
    ).first()["a"]
    assert len(got) == len(edges)
    for want, have in zip(edges, got):
        if math.isnan(want):
            assert math.isnan(have)
        else:
            # byte-compare: == would pass 0.0 for -0.0
            assert bits(have) == bits(want), (want, have)

    # the nested form parses to the same tree shape it encodes
    nested = spark.range(1).select(
        F.expr(_doubles_sql([[0.1, -0.0], [5e-324, 1e+300]])).alias("a")
    ).first()["a"]
    assert [bits(v) for row in nested for v in row] == [
        bits(v) for v in (0.1, -0.0, 5e-324, 1e+300)
    ]


def test_grid_radius_join_negative_coordinates(spark):
    """Signed fixed-point coordinates (raw lon/lat centi-units without
    a +180 offset) bucket by pure-integer FLOOR division, so |dx| <= w
    puts every in-radius pair in adjacent cells BY CONSTRUCTION — no
    non-negative precondition (the ADVICE r08 item). Brute-force
    equality over points straddling the origin pins it."""
    import random

    from nba_spurs_etl_spark.operators.joins import grid_radius_join

    rng = random.Random(907)
    left = [(i, rng.randrange(-500, 500), rng.randrange(-500, 500))
            for i in range(60)]
    right = [(j, rng.randrange(-500, 500), rng.randrange(-500, 500))
             for j in range(80)]
    # plant a cross-origin pair inside the radius whose floor cells
    # differ on both axes (-100 -> cell -1, 5 -> cell 0):
    # dist2 = 105^2 * 2 = 22050 <= 22500
    left.append((990, -100, -100))
    right.append((991, 5, 5))
    l = spark.createDataFrame(left, "lid long, sx long, sy long")
    r = spark.createDataFrame(right, "rid long, cx long, cy long")
    got = {
        (x["lid"], x["rid"], x["dist2"])
        for x in grid_radius_join(l, r, "sx", "sy", "cx", "cy", 150)
        .select("lid", "rid", "dist2").collect()
    }
    want = {
        (li, rj, (lx - rx) ** 2 + (ly - ry) ** 2)
        for (li, lx, ly) in left
        for (rj, rx, ry) in right
        if (lx - rx) ** 2 + (ly - ry) ** 2 <= 150 * 150
    }
    assert got == want
    assert (990, 991, 105 * 105 * 2) in got


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every member of a dup group gets the group's split; singletons
    split by their own id (identical to plain assign_splits for them);
    NULL ids keep the NULL-split contract."""
    from pyspark.sql import functions as F

    from nba_spurs_etl_spark.operators.sampling import (
        assign_splits,
        assign_splits_leakage_safe,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 41)] + [(None,)], "doc_id long"
    )
    # components: docs 1..10 one cluster, 11..12 another
    groups = spark.createDataFrame(
        [(i, 1) for i in range(1, 11)] + [(11, 11), (12, 11)],
        "doc long, component long",
    )
    out = assign_splits_leakage_safe(docs, "doc_id", groups)
    rows = {r["doc"]: r for r in out.collect()}
    assert len({rows[i]["split"] for i in range(1, 11)}) == 1
    assert rows[11]["split"] == rows[12]["split"]
    assert rows[None]["split"] is None and rows[None]["component"] is None
    # singletons (outside any group) match the plain per-id splitter
    # under the same salt
    plain = {
        r["doc"]: r["split"]
        for r in assign_splits(docs, "doc_id", salt="lsplit").collect()
    }
    for i in range(13, 41):
        assert rows[i]["component"] == i
        assert rows[i]["split"] == plain[i]


def test_rrf_fuse_n_math_flags_and_contracts(spark):
    """N-way RRF (rrf_fuse_n): fused order matches a hand-computed
    3-ranker model (overlap beats any single tower, ties break on
    doc_id), per-tower flags are exact, per-ranker duplicate rows
    reduce to best rank first, and the named contract errors fire
    (<2 rankers, duplicate names)."""
    import pytest

    from nba_spurs_etl_spark.operators.search import rrf_fuse_n

    def fr(rows):
        return spark.createDataFrame(
            rows, "query_id long, doc_id long, rank int"
        )

    a = fr([(1, 10, 1), (1, 11, 2)])
    b = fr([(1, 11, 1), (1, 12, 2)])
    c = fr([(1, 11, 3), (1, 13, 1)])
    out = {r["doc_id"]: r for r in rrf_fuse_n(
        [("a", a), ("b", b), ("c", c)], k=10
    ).collect()}
    # doc 11: 1/62 + 1/61 + 1/63 (all three) — clear winner
    assert out[11]["fused_rank"] == 1
    assert (out[11]["in_a"], out[11]["in_b"], out[11]["in_c"]) == (
        True, True, True,
    )
    # docs 10 and 13 both have a single rank-1 addend (1/61): exact
    # fixed-point tie -> doc_id ASC tiebreak
    assert out[10]["fused_rank"] == 2 and out[13]["fused_rank"] == 3
    # doc 12: single 1/62
    assert out[12]["fused_rank"] == 4
    assert (out[12]["in_a"], out[12]["in_b"], out[12]["in_c"]) == (
        False, True, False,
    )
    # python model of the quantized sum reproduces the exact order
    fp = float(1 << 45)
    model = {
        10: int(1.0 / 61 * fp + 0.5),
        11: int(1.0 / 62 * fp + 0.5) + int(1.0 / 61 * fp + 0.5)
        + int(1.0 / 63 * fp + 0.5),
        12: int(1.0 / 62 * fp + 0.5),
        13: int(1.0 / 61 * fp + 0.5),
    }
    want = sorted(model, key=lambda d: (-model[d], d))
    got = [d for d, _ in sorted(
        ((r["doc_id"], r["fused_rank"]) for r in out.values()),
        key=lambda t: t[1],
    )]
    assert got == want
    # duplicate rows inside one ranker reduce to best rank
    dup = fr([(1, 10, 5), (1, 10, 1)])
    out2 = {r["doc_id"]: r for r in rrf_fuse_n(
        [("a", dup), ("b", fr([(1, 10, 1)]))], k=10
    ).collect()}
    one = {r["doc_id"]: r for r in rrf_fuse_n(
        [("a", fr([(1, 10, 1)])), ("b", fr([(1, 10, 1)]))], k=10
    ).collect()}
    assert out2[10]["fused_rank"] == one[10]["fused_rank"] == 1
    with pytest.raises(ValueError, match="at least two"):
        rrf_fuse_n([("a", a)])
    with pytest.raises(ValueError, match="duplicate ranker names"):
        rrf_fuse_n([("a", a), ("a", b)])


def test_jaccard_topk_matches_brute_force(spark):
    """jaccard_topk equals a python brute-force model (distinct word
    3-gram shingles, |A∩B|/|A∪B|, sim DESC then doc ASC, self
    excluded, short docs shingle to nothing)."""
    from nba_spurs_etl_spark.operators.search import jaccard_topk

    texts = {
        0: "a b c d e f",
        1: "a b c d x y",
        2: "x y z a b c",
        3: "p q r s t u",
        4: "a b",            # < 3 words: no shingles
        5: "c d e f g h",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    qdf = spark.createDataFrame(
        [(0, texts[0]), (3, texts[3])], "query_id long, text string"
    )

    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    want = {}
    for q in (0, 3):
        sims = []
        for d, t in texts.items():
            if d == q or not sh(t):
                continue
            inter = len(sh(texts[q]) & sh(t))
            if inter == 0:
                continue
            sims.append((-inter / len(sh(texts[q]) | sh(t)), d))
        if sims:  # a query with no overlapping doc emits no rows
            want[q] = [d for _, d in sorted(sims)]
    got = {}
    for r in jaccard_topk(docs, qdf, "doc_id", "text", k=10).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc"]))
    got = {q: [d for _, d in sorted(v)] for q, v in got.items()}
    assert got == want


def test_query_likelihood_dirichlet_semantics(spark):
    """QLD pins against a hand-computed Dirichlet model (mu=2000):
    higher tf wins within equal length, and between docs with EQUAL
    matched tf the SHORTER doc wins (the length-normalization part
    ln(mu/(dlen+mu)) — the behavior that most distinguishes QLD from
    BM25's tf saturation). Zero-match docs are not candidates."""
    import math

    from nba_spurs_etl_spark.operators.search import (
        _FP45,
        query_likelihood_topk,
    )

    texts = {
        1: "alpha beta gamma delta",                  # tf(alpha)=1, len 4
        2: "alpha alpha beta gamma",                  # tf(alpha)=2, len 4
        3: "alpha beta gamma delta epsilon zeta "
           "eta theta iota kappa",                    # tf=1, len 10
        4: "omega psi chi",                           # no match
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    q = spark.createDataFrame(
        [(7, "alpha")], "query_id long, term string"
    )
    got = [
        (r["rank"], r["doc"])
        for r in query_likelihood_topk(
            docs, q, "doc_id", "text", k=10
        ).collect()
    ]
    # python model (same fixed-point arithmetic)
    mu = 2000.0
    n_tokens = float(sum(len(t.split()) for t in texts.values()))
    cf = sum(t.split().count("alpha") for t in texts.values())
    def score(doc):
        tf = texts[doc].split().count("alpha")
        dlen = len(texts[doc].split())
        return (
            math.floor(math.log(1.0 + tf / (mu * (cf / n_tokens)))
                       * _FP45 + 0.5)
            + 1 * math.floor(math.log(mu / (dlen + mu)) * _FP45 + 0.5)
        )
    want = sorted((d for d in texts if "alpha" in texts[d]),
                  key=lambda d: (-score(d), d))
    assert [d for _, d in sorted(got)] == want
    # and the model's qualitative claims hold on this fixture
    assert want[0] == 2                       # tf wins
    assert want.index(1) < want.index(3)      # shorter doc wins at tf=1
    assert 4 not in want                      # zero-match excluded


def test_bm25_bind_memo_is_workload_and_data_keyed(spark, tmp_path):
    """r10 review find: a LocalRelation canonicalizes WITHOUT its data
    (two different createDataFrame query sets with one schema print
    identically), so the adaptive-bind memo must refuse to cache
    file-less workloads — a stale bind decision diverges from the
    oracle's bindflag. Pins: (a) in-memory query frames never
    memoize and each gets its own fresh (correct) decision; (b) a
    file-backed workload does memoize."""
    from nba_spurs_etl_spark.operators import search as S

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(6)],
        "doc_id long, text string",
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    S._BIND_MEMO.clear()

    def plan(qdf):
        df = S.bm25_topk(docs, qdf, "doc_id", "text", k=3,
                         max_postings_per_term=2)
        return df._jdf.queryExecution().executedPlan().toString()

    qa = spark.createDataFrame(
        [(1, "alpha"), (1, "beta")], "query_id long, term string"
    )  # 2 terms x P=2 = 4 < 6 -> binds
    qb = spark.createDataFrame(
        [(1, "alpha"), (1, "beta"), (1, "gamma"), (1, "delta")],
        "query_id long, term string",
    )  # 4 x 2 = 8 >= 6 -> skip
    assert "_q45" in plan(qa)
    assert "_q45" not in plan(qb)  # a memo hit would wrongly prune
    assert S._BIND_MEMO == {}  # in-memory workloads never cached

    # file-backed workload: decision memoizes (one entry, reused)
    qsrc = str(tmp_path / "q.parquet")
    qb.write.parquet(qsrc)
    qf = spark.read.parquet(qsrc)
    assert "_q45" not in plan(qf)
    assert len(S._BIND_MEMO) == 1
    key = next(iter(S._BIND_MEMO))
    plan(qf)
    assert list(S._BIND_MEMO) == [key]


def test_query_likelihood_one_row_per_doc_on_duplicate_ids(spark):
    """r10 review find: the score grain is (query_id, doc) — an
    out-of-contract corpus (one doc id, two different texts, two
    dlens) must still emit ONE candidate row per (query, doc), the
    same row set the oracle's GROUP BY query_id, doc produces (the
    engine previously grouped by dlen too, emitting two rank slots)."""
    from nba_spurs_etl_spark.operators.search import query_likelihood_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (1, "alpha alpha alpha alpha alpha delta epsilon"),
            (2, "alpha zeta"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(9, "alpha")], "query_id long, term string"
    )
    rows = query_likelihood_topk(docs, q, "doc_id", "text", k=10).collect()
    assert sorted(r["doc"] for r in rows) == [1, 2]
    assert sorted(r["rank"] for r in rows) == [1, 2]
