"""Lexical search: BM25 scoring and top-k retrieval.

The keyword complement to ``operators/similarity.py``'s embedding ANN:
a training-data pipeline needs lexical retrieval for eval-set mining,
hard-negative selection, and contamination forensics ("which corpus
docs would a benchmark query retrieve?"). Scoring is Robertson/
Sparck-Jones BM25 with the Lucene-style non-negative idf
``ln(1 + (N - df + 0.5)/(df + 0.5))``.

Scale shape (the part that matters at 100 TB):
- the query term set is tiny by construction and BROADCAST; the
  corpus TOKEN stream is filtered to query terms map-side BEFORE any
  aggregation, so the only rows that ever shuffle are token hits —
  term frequencies then come from one linear groupBy over those hits
  (an earlier row-local array-HOF formulation avoided even that
  shuffle but did O(distinct x len) work per doc: quadratic in doc
  length, measured 2x slower on the 5k-doc fixture and hopeless on
  book-length docs);
- document frequencies are computed over the same pruned stream (df
  is corpus-wide per term — pruning to query terms loses nothing);
- the final top-k is a per-query window over candidate docs only.

No reference analog (the reference has no text search); public
algorithm, original implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: fixed-point quantization scale shared by the score sum and the
#: posting-cap impact rank: 45 fractional bits (see the summation
#: comment in bm25_topk)
_FP45 = float(1 << 45)

#: adaptive-bind decisions memoized per corpus snapshot + workload
#: plan + P (see the decision comment in bm25_topk); in-process only —
#: the decision is two exact integers, cheap to recompute in a fresh
#: process
_BIND_MEMO: dict = {}


def _hit_stream(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    query_id_col: str,
    query_terms_col: str,
):
    """The retrieval kernel every lexical tower shares: returns
    ``(qt, base, matched)`` — the distinct (query_id, term) workload,
    the split-once (doc, _w) projection, and the per-(doc, term, dlen)
    term frequencies over query-term hits only. One definition so the
    scorers (BM25, query likelihood) can never desynchronize on the
    tokenization/pruning discipline (r10 review find: the kernel had
    been duplicated verbatim).

    - The query term set is tiny by construction and BROADCAST; the
      corpus TOKEN stream is filtered to query terms map-side BEFORE
      any aggregation, so the only rows that ever shuffle are token
      hits — tf is one linear map-combinable groupBy over those hits.
    - Split ONCE, below the explode: projecting size(split(text))
      ABOVE a Generate re-splits the full text once per OUTPUT TOKEN
      (O(len^2) per doc — measured 0.8 s of the 2.8 s sf0.1 exact
      bm25 path); with the array materialized in the Generate's child
      the post-explode size(_w) is O(1) per row and the whole stage
      stays in one codegen span.
    """
    from .dedup import spread_for_compute

    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_terms_col).alias("term"),
    ).distinct()
    # spread BEFORE tokenization (guide §2.5 input skew): a
    # single-row-group corpus file scans as one task, serializing the
    # split+explode token stream — and everything above it up to the
    # first exchange — onto one core; well-laid-out inputs (>=
    # parallelism files) pass through shuffle-free
    base = spread_for_compute(docs, id_col).select(
        F.col(id_col).alias("doc"),
        F.split(F.col(text_col), " ").alias("_w"),
    )
    tokens = base.select(
        "doc",
        F.size("_w").alias("dlen"),
        F.explode("_w").alias("term"),
    )
    matched = (
        tokens.join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("doc", "term", "dlen")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return qt, base, matched


def _impact(tf, dlen, avgdl, k1: float, b: float):
    """The per-posting tf-part of the BM25 contribution —
    ``tf*(k1+1) / (tf + k1*(1-b+b*dlen/avgdl))`` — as a Column. The
    FULL contribution is ``idf(term) * _impact(...)``; idf is constant
    within a term, so ranking a term's postings by impact alone IS
    ranking them by contribution (the posting-cap invariant)."""
    return (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dlen / avgdl)
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    query_id_col: str = "query_id",
    query_terms_col: str = "term",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_postings_per_term: int | None = None,
) -> DataFrame:
    """(query_id, doc, rank): top-k docs per query by BM25.

    ``queries`` is (query_id, term) — one row per query term. The
    score itself is excluded from the output by contract: the ranking
    is ulp-robust (score gaps dwarf libm ln jitter), the raw double is
    not, and cross-engine oracles compare bit-exactly. Ties break on
    doc id.

    ``max_postings_per_term`` turns on champion-list candidate pruning
    (the impact-ordered-index scale lever — Manning et al., IR, ch.7):
    each query term nominates its ``P`` highest-impact postings —
    ranked by the quantized tf-part of the contribution (idf is
    constant within a term, so per-term impact order IS contribution
    order), ties (doc, tf desc, dlen) — and a query scores only docs
    nominated by at least one of ITS OWN terms. Candidates are scored
    over ALL their postings, so every surviving doc's score is EXACT
    (capping
    the scoring itself was measured to destroy the ranking — a winner
    that loses one term's contribution drops out; champion lists
    change only WHICH docs compete, never their scores). df/idf stay
    exact too (computed over the full hit stream, one map-combinable
    aggregate). The candidate set is at most |query terms| x P
    (query, doc) pairs REGARDLESS of corpus size — broadcastable, a
    function of the workload — so the scoring aggregation and
    per-query window stop growing with the corpus (the unpruned
    fixture workload walls 18.5 s at 10x because every term matches
    ~78% of the corpus). Documented loss bound: a doc is missed for
    query q only if it falls outside the top-P postings of EVERY one
    of q's terms, so any doc whose score could reach the top-k
    survives whenever P >> k per term
    (equality with the exact form on the fixture is pinned by
    tests/test_operators.py). None = exact (no prune). The prune is
    part of the result contract — oracles must mirror it exactly,
    which the 45-bit quantization of the impact rank key makes
    cross-engine deterministic.

    The prune is ADAPTIVE (VERDICT r09 item 1): nomination runs only
    when it can bind — ``|distinct query terms| * P < corpus row
    count``. The champion-doc union is bounded above by |terms| x P,
    so when that bound already covers the corpus the nomination
    window, the semi-joins, AND the eager checkpoints they require
    are pure overhead (measured ~2 s at sf0.1's 5k docs, where the
    pruned form cost 5.4 s vs the exact path's ~2.8 s) and the engine
    returns the plain exact plan. The decision is data-derived from
    two exact integers both engines compute identically — the raw row
    count is metadata-only on parquet — so the oracle re-derives the
    identical skip (``bindflag`` CTE in
    plans/pipeline_ext.py::_bm25_lex_ctes). Skipping is
    result-CHANGING in general (a per-query candidate set can bind
    even when the global union does not), so the branch condition is
    part of the contract, not a pure optimization."""
    qt, base, matched = _hit_stream(
        docs, queries, id_col, text_col, query_id_col, query_terms_col
    )
    dfreq = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # avgdl as exact-integer SUM / COUNT, not F.avg: a float mean's
    # addend order follows partition arrival, so engines (and runs)
    # disagree by an ulp — which shifts EVERY score and flips
    # sub-jitter rank gaps (differential-fuzzer find). dlen is an
    # integer, so the sum is exact and the single IEEE division is
    # bit-reproducible; the oracle mirrors SUM/COUNT.
    # corpus stats over the DISTINCT (id, dlen) set — a duplicated doc
    # row must not weight avgdl or inflate n_docs, and deduping the
    # narrow (id, length) pair instead of (id, text) keeps the full
    # text out of the exchange (mirrors the oracle's
    # SELECT DISTINCT doc, dlen)
    stats = base.select(
        F.col("doc").alias("_id"),
        F.size("_w").alias("_dlen"),
    ).distinct().agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("_dlen").cast("double") / F.count("_dlen")).alias("avgdl"),
    )

    postings = matched
    cands = None
    prune_binds = False
    if max_postings_per_term is not None:
        # adaptive bind decision (see docstring), made BEFORE any
        # materialization so the skip path stays the plain exact plan
        # (no checkpoints — at sf0.1 the eager checkpoints alone cost
        # more than the exact path's duplicate token scan). Nomination
        # can bind only when the champion union's upper bound
        # (|distinct query terms| x P) is smaller than the corpus ROW
        # count. The raw row count — not the deduped stats.n_docs —
        # is deliberate: it is metadata-only on a parquet scan (no
        # data read) and the oracle mirrors it verbatim (COUNT(*)
        # FROM d in the bindflag CTE). Both operands are exact
        # integers, so the branch can never flip on an engine ulp;
        # the query-term count is workload-sized by contract.
        # ONE job for both scalars (a cross join of two one-row
        # aggregates): two sequential .count() jobs cost ~0.7 s of
        # scheduler round-trips at sf0.1 — most of what the adaptive
        # skip is trying to save. The decision is additionally
        # memoized with the ANN index cache's corpus-snapshot key
        # discipline, applied to BOTH frames: docs AND qt each
        # contribute (plan hash, input files, mtimes+sizes). Keying
        # the workload side by its own _index_cache_key — not just a
        # canon string — matters because a LocalRelation canonicalizes
        # WITHOUT its data (two different createDataFrame query sets
        # with one schema print identically), which would let a stale
        # bind decision survive a workload change and silently diverge
        # from the oracle's bindflag (r10 review find). File-less
        # query frames therefore never memoize; the decision is
        # recomputed (cheap, exact) instead.
        from .similarity import _index_cache_key

        _dk = _index_cache_key(docs, "bm25_bind_docs")
        _qk = _index_cache_key(qt, "bm25_bind_qt")
        _memo_key = (
            (_dk, _qk, int(max_postings_per_term))
            if _dk is not None and _qk is not None
            else None
        )
        prune_binds = _BIND_MEMO.get(_memo_key) if _memo_key else None
        if prune_binds is None:
            _dec = (
                docs.agg(F.count(F.lit(1)).alias("_n_rows"))
                .crossJoin(
                    qt.agg(F.countDistinct("term").alias("_n_terms"))
                )
                .first()
            )
            prune_binds = (
                int(_dec["_n_terms"]) * int(max_postings_per_term)
                < int(_dec["_n_rows"])
            )
            if _memo_key:
                if len(_BIND_MEMO) >= 64:
                    _BIND_MEMO.clear()
                _BIND_MEMO[_memo_key] = prune_binds
    if prune_binds:
        # materialize the hit aggregation ONCE: the pruned plan reads
        # `matched` three times (nomination window, pruned postings,
        # df) and each read would otherwise re-run the corpus token
        # explode+groupBy (a frame read several times downstream of
        # an expensive subtree re-runs it per read). The checkpointed
        # frame is hit-sized (query-term matches only), never
        # corpus-sized.
        matched = matched.localCheckpoint(eager=True)
        dfreq = matched.groupBy("term").agg(
            F.count(F.lit(1)).alias("df")
        )
        # stats feeds both the nomination window and the scoring
        # expression — one row; checkpoint it too or each read re-runs
        # its corpus scan
        stats = stats.localCheckpoint(eager=True)
        # champion-list candidate generation (see docstring): rank
        # each term's postings by the QUANTIZED impact — the same
        # 45-bit floor the score sum uses, so the rank key is an exact
        # integer and the P-boundary cut is bit-identical cross-engine
        # (a raw-double order key could flip by an ulp) — with tf/dlen
        # as trailing tiebreaks so the cut is a TOTAL order even on
        # out-of-contract input (a duplicated doc id with two
        # DIFFERENT texts yields two rows for one (doc, term); that
        # class violates the documented doc-id PK contract and its
        # SCORES are engine-divergent in the exact form too — the
        # fuzzers duplicate full rows, which both engines fold
        # identically — so the tiebreaks are defense-in-depth for
        # determinism, not a parity claim). The window
        # partitions by term, so Spark's WindowGroupLimit keeps at
        # most P rows per term per input partition map-side; the
        # DISTINCT champion-doc set (<= |terms| x P rows, a function
        # of the WORKLOAD, not the corpus) then broadcast-semi-prunes
        # the posting stream — docs keep either ALL their postings or
        # none, which is what keeps surviving scores exact.
        wt = Window.partitionBy("term").orderBy(
            F.col("_q45").desc(),
            F.col("doc").asc(),
            F.col("tf").desc(),
            F.col("dlen").asc(),
        )
        nominated = (
            matched.crossJoin(F.broadcast(stats))
            .withColumn(
                "_q45",
                F.floor(
                    _impact(
                        F.col("tf"), F.col("dlen"), F.col("avgdl"), k1, b
                    )
                    * F.lit(_FP45)
                    + 0.5
                ).cast("long"),
            )
            .withColumn("_pr", F.row_number().over(wt))
            .filter(F.col("_pr") <= max_postings_per_term)
            .select("term", "doc")
        )
        # doc-level prune first (champion of ANY term — result-neutral
        # superset of the per-query filter below, applied earlier so
        # the qt fan-out streams over fewer rows), then the exact
        # per-(query, doc) candidate filter after the fan-out. Both
        # are broadcast semi-joins: map-side filters, no shuffle of
        # the posting stream.
        postings = matched.join(
            F.broadcast(nominated.select("doc").distinct()),
            "doc",
            "left_semi",
        )
        cands = (
            nominated.join(F.broadcast(qt), "term")
            .select("query_id", "doc")
            .distinct()
        )

    contrib = postings.join(F.broadcast(qt), "term")
    if cands is not None:
        contrib = contrib.join(
            F.broadcast(cands), ["query_id", "doc"], "left_semi"
        )
    contrib = (
        contrib.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc",
            "term",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * _impact(
                    F.col("tf"), F.col("dlen"), F.col("avgdl"), k1, b
                )
            ).alias("s"),
        )
    )
    # fixed-point SUM, not a float F.sum: a float sum's addend order
    # follows partition arrival, so two docs with near-identical
    # contribution multisets can land an ulp apart in either direction
    # and flip against the doc-id tiebreak non-reproducibly — between
    # engines AND between runs (differential-fuzzer find). Quantizing
    # each contribution to 45 fractional bits (the exact-cents idiom,
    # headroom: |s| < 40 -> sums well inside int64) makes the sum an
    # exact integer — order-free, MAP-COMBINABLE (a sorted-list fold
    # measured 1.6x slower at 10x: whole lists shuffled), and
    # bit-identical in the oracle. Ranking uses the integer directly;
    # rank gaps below 2^-45 are genuine ties and break on doc id.
    scored = contrib.groupBy("query_id", "doc").agg(
        F.sum(
            F.floor(F.col("s") * F.lit(_FP45) + 0.5).cast("long")
        ).alias("score")
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc", "rank")
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 10,
    k0: int = 60,
    a_flag: str = "in_a",
    b_flag: str = "in_b",
    strict: bool = False,
) -> DataFrame:
    """Reciprocal-rank fusion of two rankers: (query_id, doc_id,
    fused_rank, <a_flag>, <b_flag>).

    Inputs are (query_id, doc_id, rank) frames — one row per retrieved
    candidate, rank 1-based within its query. Fused score is the
    standard RRF sum ``1/(k0 + rank)`` over the rankers that retrieved
    the candidate (Cormack/Clarke/Buettcher, SIGIR'09; k0=60 is the
    paper's constant). The score stays INTERNAL (house ulp discipline):
    with exactly two addends IEEE addition is order-free, each addend
    ``1.0/(k0 + rank)`` is one division of exact integers, and ties
    break on doc_id — so the RANK is bit-reproducible cross-engine
    even though the raw double is never exposed.

    ``strict=True`` (opt-in, for debug/fuzz harnesses) raises a named
    contract error when an input carries duplicate (query_id, doc_id)
    rows instead of silently reducing them to their best rank.

    Shape: both inputs are k-bounded per query by construction, so the
    full-outer join and per-query window run on |Q| x O(k) rows —
    nothing corpus-sized. TWO rankers exactly, by design: the binary
    form keeps the float sum order-free, and nesting fuse calls does
    NOT compute N-way RRF (the outer call would score 1/(k0 +
    fused_rank) of the intermediate fusion, not the sum of the N
    original reciprocal ranks). For N rankers, union the N (query,
    doc, rank) frames with a ranker tag and sum 1/(k0 + rank) per
    (query, doc) in one aggregation over sorted-tag contributions.
    """
    # Defensive contract enforcement (ADVICE r08): inputs promise at
    # most one row per (query_id, doc_id); a duplicated candidate
    # would fan out through the full-outer join into duplicate fused
    # rows with inflated ranks. Reduce to the BEST (minimum) rank per
    # key — deterministic (unlike dropDuplicates' arbitrary survivor),
    # a plan-level no-op in spirit for the cataloged producers (both
    # emit row_number-unique rows), and O(|Q| x k) rows either way.
    # ``strict`` (ADVICE/VERDICT r09 item 8) turns the silent
    # reduction into a LOUD contract error: the r09a fuzz find (a
    # duplicated corpus id occupying two cosine rank slots) surfaced
    # only because the reduction changed a result — under strict mode
    # the next such producer bug raises with the offending key instead
    # of being quietly folded. Opt-in (debug/fuzz harnesses): the
    # check rides the same aggregation, but production fusion keeps
    # the documented reduce-to-best semantics.
    def _best(df: DataFrame, q: str, d: str, r: str) -> DataFrame:
        g = df.groupBy(
            F.col("query_id").alias(q), F.col("doc_id").alias(d)
        ).agg(F.min("rank").alias(r), F.count(F.lit(1)).alias("_n"))
        if strict:
            # a filter cannot be pruned away (unlike an unused
            # assert_true projection), and raise_error evaluates only
            # on offending rows
            g = g.filter(
                F.when(
                    F.col("_n") > 1,
                    F.raise_error(
                        F.format_string(
                            "rrf_fuse strict: %s duplicate candidate "
                            "rows for (query_id=%s, doc_id=%s) — "
                            "ranker outputs must be unique per "
                            "(query, doc)",
                            "_n", q, d,
                        )
                    ).cast("boolean"),
                ).otherwise(F.lit(True))
            )
        return g.drop("_n")

    an = _best(a, "_qa", "_da", "_ra")
    bn = _best(b, "_qb", "_db", "_rb")
    j = an.join(
        bn,
        (F.col("_qa") == F.col("_qb")) & (F.col("_da") == F.col("_db")),
        "full_outer",
    )
    fused = j.select(
        F.coalesce("_qa", "_qb").alias("query_id"),
        F.coalesce("_da", "_db").alias("doc_id"),
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(k0)) + F.col("_ra")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(k0)) + F.col("_rb")), F.lit(0.0)
            )
        ).alias("_score"),
        F.col("_ra").isNotNull().alias(a_flag),
        F.col("_rb").isNotNull().alias(b_flag),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= k)
        .select("query_id", "doc_id", "fused_rank", a_flag, b_flag)
    )


def jaccard_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    n: int = 3,
    k: int = 10,
) -> DataFrame:
    """(query_id, doc, rank): top-k docs per query by word n-gram
    Jaccard similarity — the character/ngram retrieval tower that
    catches near-verbatim overlap BM25 underweights (stopword-heavy
    quotes) and embeddings miss (OOV strings). Standard third ranker
    in multi-tower RRF fusion.

    Shingling mirrors dedup_ngram_jaccard's: DISTINCT word n-grams per
    side, similarity = |A∩B| / (|A|+|B|-|A∩B|). Both counts are exact
    integers, so the single IEEE division is bit-reproducible
    cross-engine (house ulp discipline: the double never leaves the
    operator; ranks tie-break on doc id THEN similarity is already a
    total order per (sim, doc)).

    Scale shape: query shingles are workload-sized and BROADCAST; the
    corpus shingle stream is semi-pruned to query shingles map-side
    before the intersection aggregation (the same only-hits-shuffle
    kernel as bm25_topk), so candidate work scales with hits, not
    |corpus| x |queries|. Self-matches (query retrieving its own doc
    id) are excluded, matching the cosine tower's convention.
    """
    from .dedup import shingles_from_tokens, spread_for_compute

    def side(df: DataFrame, ident, txt: str, out_id: str):
        # two-step projection: shingles_from_tokens must see a
        # MATERIALIZED token array — an inline split re-tokenizes per
        # gram under interpreted HOF evaluation, O(words^2) per doc
        # (operators/dedup.py:49). Corpus side spread before the
        # shingle explode (guide §2.5 — single-file scans serialize
        # the gram stage onto one core); the query side is
        # workload-sized, its explode is cheap either way.
        toks = df.select(
            ident.alias(out_id), F.split(F.col(txt), " ").alias("_w")
        )
        return toks.select(
            out_id,
            F.explode(shingles_from_tokens(F.col("_w"), n)).alias("sh"),
        ).distinct()

    qs = side(queries, F.col(query_id_col), query_text_col, "query_id")
    ds = side(spread_for_compute(docs, id_col), F.col(id_col), text_col, "doc")
    q_sizes = qs.groupBy("query_id").agg(F.count(F.lit(1)).alias("qn"))
    d_sizes = ds.groupBy("doc").agg(F.count(F.lit(1)).alias("dn"))
    inter = (
        ds.join(F.broadcast(qs), "sh")
        .filter(F.col("doc") != F.col("query_id"))
        .groupBy("query_id", "doc")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = (
        inter.join(F.broadcast(q_sizes), "query_id")
        .join(d_sizes, "doc")
        .select(
            "query_id",
            "doc",
            (
                F.col("c").cast("double")
                / (F.col("qn") + F.col("dn") - F.col("c"))
            ).alias("sim"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc", "rank")
    )


def rrf_fuse_n(
    rankers: list,
    k: int = 10,
    k0: int = 60,
) -> DataFrame:
    """N-way reciprocal-rank fusion: (query_id, doc_id, fused_rank,
    in_<name>...) — the generalization rrf_fuse's docstring specifies
    but deliberately does not compute (nesting binary fusions scores
    1/(k0+fused_rank) of an intermediate, not the sum of the original
    reciprocal ranks).

    ``rankers`` is a list of (name, frame) pairs, each frame
    (query_id, doc_id, rank). Fused score = sum over retrieving
    rankers of 1/(k0 + rank). With MORE THAN TWO addends a float sum's
    value depends on addend order (IEEE addition is commutative but
    not associative), and Spark's aggregation order follows partition
    arrival — so each addend is quantized to 45 fractional bits
    (bm25_topk's exact-cents idiom; addends are <= 1/(k0+1), sums of N
    rankers stay far inside int64) and the SUM is an exact integer:
    order-free, map-combinable, bit-identical in the oracle. Ranks
    tie-break on doc_id. Per-ranker duplicate (query_id, doc_id) rows
    reduce to their best rank first (same defensive contract as
    rrf_fuse).

    Shape: inputs are k-bounded per query by construction, so the
    union + aggregation + per-query window run on |Q| x O(N*k) rows —
    nothing corpus-sized.
    """
    if len(rankers) < 2:
        raise ValueError("rrf_fuse_n needs at least two rankers")
    names = [nm for nm, _ in rankers]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate ranker names: {names}")
    tagged = None
    for i, (nm, df) in enumerate(rankers):
        t = (
            df.groupBy("query_id", "doc_id")
            .agg(F.min("rank").alias("rank"))
            .select(
                "query_id",
                "doc_id",
                "rank",
                F.lit(i).alias("_tag"),
            )
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    fused = tagged.groupBy("query_id", "doc_id").agg(
        F.sum(
            F.floor(
                F.lit(1.0) / (F.lit(float(k0)) + F.col("rank"))
                * F.lit(_FP45)
                + 0.5
            ).cast("long")
        ).alias("_score"),
        *[
            F.max((F.col("_tag") == i).cast("boolean")).alias(
                f"in_{nm}"
            )
            for i, nm in enumerate(names)
        ],
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= k)
        .select(
            "query_id", "doc_id", "fused_rank",
            *[f"in_{nm}" for nm in names],
        )
    )


def query_likelihood_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    query_id_col: str = "query_id",
    query_terms_col: str = "term",
    k: int = 10,
    mu: float = 2000.0,
) -> DataFrame:
    """(query_id, doc, rank): top-k docs per query by Dirichlet-
    smoothed query likelihood (Zhai & Lafferty, SIGIR'01) — the
    language-modeling complement to BM25's probabilistic ranking;
    the two disagree most on long documents and rare terms, which is
    why retrieval suites ship both.

    Score decomposition (the standard sparse form):
    ``sum_t ln(1 + tf/(mu*P(t|C))) + |q| * ln(mu/(dlen+mu))`` where
    ``P(t|C) = cf_t/|C|`` (collection term frequency over total corpus
    tokens). The first sum has addends only for MATCHED terms, so the
    candidate set stays the only-hits set — same broadcast + map-side
    prune kernel as bm25_topk; the second part depends only on the
    doc's length and the query's term count. CONTRACT: candidates are
    docs matching >= 1 query term (the zero-match score
    ``|q|*ln(mu/(dlen+mu))`` would otherwise rank every short doc for
    every query, turning top-k into a corpus-wide sort for no
    retrieval value).

    House ulp discipline: collection stats are exact-integer
    SUM/COUNT; each per-term addend AND the per-doc length part are
    quantized to 45 fractional bits before the (order-free, integer,
    map-combinable) sum — with |q| > 2 addends a float sum's order
    follows partition arrival. The raw double never leaves the
    operator; ties break on doc id. Oracle mirrors every literal and
    the quantization (plans/pipeline_ext.py).
    """
    qt, base, matched = _hit_stream(
        docs, queries, id_col, text_col, query_id_col, query_terms_col
    )
    # per-query term counts (the |q| of the length part): distinct
    # terms, mirroring qt's grain
    qsz = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("qn"))
    # collection frequency per query term (sum of tf over the pruned
    # hit stream — pruning to query terms loses nothing) and total
    # corpus token count |C| over the DISTINCT (doc, dlen) set (same
    # duplicate-row discipline as bm25's stats)
    cfreq = matched.groupBy("term").agg(F.sum("tf").alias("cf"))
    stats = base.select(
        F.col("doc").alias("_id"),
        F.size("_w").alias("_dlen"),
    ).distinct().agg(
        F.sum("_dlen").cast("double").alias("n_tokens"),
    )

    contrib = (
        matched.join(F.broadcast(qt), "term")
        .join(F.broadcast(cfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc",
            "dlen",
            F.log(
                F.lit(1.0)
                + F.col("tf")
                / (F.lit(mu) * (F.col("cf") / F.col("n_tokens")))
            ).alias("s"),
        )
    )
    # score grain is (query_id, doc) — NOT (query_id, doc, dlen): an
    # out-of-contract corpus (duplicated doc id with two different
    # texts, i.e. two dlens) must still emit ONE row per (query, doc)
    # so the engine and the oracle agree on the row set (r10 review
    # find — the oracle's GROUP BY query_id, doc with MIN(dlen) would
    # otherwise see one row where the engine emitted two). MIN is the
    # deterministic pick of the group's dlen; on in-contract corpora
    # dlen is constant per doc and MIN is the value.
    scored = (
        contrib.groupBy("query_id", "doc")
        .agg(
            F.sum(
                F.floor(F.col("s") * F.lit(_FP45) + 0.5).cast("long")
            ).alias("match_part"),
            F.min("dlen").alias("dlen"),
        )
        .join(F.broadcast(qsz), "query_id")
        .select(
            "query_id",
            "doc",
            (
                F.col("match_part")
                + F.col("qn")
                * F.floor(
                    F.log(F.lit(mu) / (F.col("dlen") + F.lit(mu)))
                    * F.lit(_FP45)
                    + 0.5
                ).cast("long")
            ).alias("score"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc", "rank")
    )
