"""Deduplication operators for large-scale document corpora.

The reference has only a driver-side dict dedup
(``/root/reference/dags/spurs_historic_games.py:226-229``, free agents
by player_id); these operators generalize deduplication to the shapes a
100 TB training-data pipeline needs. All of them are pure DataFrame
compositions (no UDFs), and all hashing goes through the cross-engine
md5 scheme (``functions.scalar.md5_long``) so every operator has a full
DuckDB oracle.

Scale design (100 TB):
- **Exact**: hash-groupBy on a 60-bit content hash — one shuffle keyed
  by hash, perfectly partitionable; no skew (hashes are uniform).
- **Shingle-based ops** (jaccard / minhash): the classic failure mode
  is hot shingles (stop-phrases shared by millions of docs) exploding
  the inverted-index self-join. ``max_shingle_freq`` drops shingles
  occurring in more than N docs *before* the join — the standard
  frequency-cap used by production near-dup pipelines; the cap is a
  groupBy+filter, so it runs map-side-combined and removes skew
  deterministically.
- **MinHash+LSH**: signature computation is a single explode +
  groupBy-min (partial-aggregated map-side); banding turns the O(n^2)
  pair space into per-band buckets; only same-bucket pairs are joined.
- **SimHash**: signature is one groupBy over token hashes; candidate
  pairing blocks on bit-bands of the signature (same LSH bucket trick
  as minhash) — EXACT, not approximate, because num_bands > max_hamming
  pigeonholes every in-radius pair into at least one identical band.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import md5_long, md5_long_expr

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def tokens(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def shingles_from_tokens(w: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED token array.

    Guarded for short docs: Spark's sequence(1, 0) yields a DESCENDING
    [1, 0], so texts with < n tokens must short-circuit to [].

    Callers must bind ``w`` to a projected column, not an inline
    ``split(...)`` expression: higher-order functions evaluate
    interpreted (outside codegen's subexpression elimination), so an
    inline split re-tokenizes the text once per gram — O(words^2) per
    doc, measured 3x on the gram stage.
    """
    # idx i in [1 .. len-n+1]; slice(w, i, n) is the i-th n-gram
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )
    return F.array_distinct(
        F.when(F.size(w) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )
    )


def shingles(col: str | Column, n: int = 3) -> Column:
    """Column-level shingles over raw text (prefer the two-step
    projection via ``shingles_from_tokens`` in row-heavy paths)."""
    return shingles_from_tokens(tokens(col), n)


def spread_for_compute(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition by id only when the scan under-parallelizes.

    A single-row-group parquet file scans as ONE task, serializing the
    CPU-heavy shingle/token hashing onto one core. Inputs that already
    span >= defaultParallelism files (any well-laid-out 100 TB table)
    pass through with no extra shuffle.

    The probe is ``inputFiles()`` (file-index lookup, cached per path),
    NOT ``df.rdd.getNumPartitions()`` — the RDD conversion re-analyzes
    the plan and cost ~150 ms per call on the bench driver. File count
    under-estimates splits for multi-row-group files, which only makes
    the guard more conservative (widening when splits were available
    costs one small shuffle, not correctness).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        return df.repartition(target, F.col(id_col))
    return df


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    max_shingle_freq: int | None = None,
    assume_unique_docs: bool = False,
) -> DataFrame:
    """(id, shingle) pairs; optionally drop shingles hotter than
    ``max_shingle_freq`` docs (skew + noise control at scale).

    The input is deduplicated to the DISTINCT (id, text) document set
    first: every consumer computes SET statistics (jaccard,
    containment, minhash, prefix filtering), and a duplicated doc row
    would double its (doc, shingle) stream — measured jaccard drifts
    past 1.0 in the counting forms and the prefix lemma's row-count
    arithmetic under-covers the distinct positions, silently dropping
    true pairs (differential-fuzzer find). The oracles'
    _SHINGLES_CTE mirrors the DISTINCT. The per-row shingle list is
    already distinct, so gram-grain streams stay single-shuffle.

    ``assume_unique_docs=True`` elides the doc-grain distinct exchange
    — at 100 TB that exchange is one extra full pass over the corpus,
    pure waste when the input is already PK-validated upstream (the
    silver-ingest path raises on duplicate keys, and any sane lakehouse
    table enforces id uniqueness at ingest). Default is the safe grain.
    """
    df = spread_for_compute(df, id_col)
    base = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    if not assume_unique_docs:
        base = base.distinct()
    pairs = base.select(
        F.col("doc"), tokens(F.col("_t")).alias("_w")
    ).select(
        "doc", F.explode(shingles_from_tokens(F.col("_w"), n)).alias("shingle")
    )
    if max_shingle_freq is not None:
        hot = (
            pairs.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_cnt"))
            .filter(F.col("df_cnt") <= max_shingle_freq)
            .select("shingle")
        )
        pairs = pairs.join(hot, "shingle")
    return pairs


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def pair_combos(docs: Column) -> Column:
    """All (doc_a < doc_b) combinations of a sorted id array, as structs.

    Array-HOF pair emission over a posting list — the shared kernel of
    the inverted-index (jaccard) and LSH-bucket (minhash) pair
    generators: one shuffle keyed by the grouping key, never a
    self-join that shuffles the exploded list twice.
    """
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical content by 60-bit md5 hash; keep the min id.

    Returns (content_hash, keep_id, dup_cnt). One uniform-keyed shuffle;
    at 100 TB hash the *content*, never sort the text itself.

    NULL content is excluded: md5(NULL) is NULL and groupBy treats
    NULLs as equal, so without the filter every row with missing text
    (e.g. PERMISSIVE-mode corrupt records surfacing as all-NULL rows)
    would collapse into ONE phantom duplicate group and a downstream
    keep-one splice would silently drop them as 'duplicates'. Absent
    content is not evidence of identical content.
    """
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            md5_long(text_col).alias("content_hash"), F.col(id_col).alias("doc")
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram jaccard near-dup
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All (a < b) pairs with shingle-set Jaccard >= threshold.

    Inverted-index self-join: |common| per pair from one groupBy over
    the shingle join; set sizes joined back in; jaccard = c/(na+nb-c).
    """
    pairs = exploded_shingles(df, id_col, text_col, n, max_shingle_freq)
    sizes = pairs.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    # Posting-list pair generation: group docs per shingle and emit the
    # (a < b) combinations with array HOFs — one shuffle keyed by
    # shingle instead of a self-join that shuffles the pair list twice.
    # max_shingle_freq bounds the posting list, so the quadratic emit
    # per shingle is capped (the standard near-dup frequency cut).
    # (Deriving sizes from the shingle-grouped buckets to reuse that
    # exchange was measured SLOWER here — AQE does not line the two
    # consumers up for ReusedExchange, and the re-exploded doc shuffle
    # costs more than the second narrow scan it saves.)
    common = (
        pairs.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(F.explode(pair_combos(F.col("docs"))).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Directed containment pairs: (src, dst, containment) where
    C(src→dst) = |S_src ∩ S_dst| / |S_src| >= threshold.

    The asymmetric companion to ``ngram_jaccard_pairs``: a short doc
    fully quoted inside a long one has containment ~1.0 in that
    direction but low jaccard (the union is dominated by the long
    doc), so symmetric measures miss subset-duplication — quotes,
    boilerplate wrapping, chunk-of-a-longer-doc reposts. Standard
    text-dedup practice (e.g. the containment variant of broder-style
    resemblance) scores both directions from ONE symmetric
    intersection count.

    Plan: identical inverted-index kernel as jaccard (one shuffle
    keyed by shingle, array-HOF pair emission, posting cap). The
    intersection is counted ONCE per canonical (doc_a < doc_b) pair
    and the two directed rows explode AFTER that aggregation — both
    alternatives are strictly worse: exploding the directions before
    the count doubles the dominant posting-pair exchange, and a
    union-of-selects over the symmetric counts would make Spark
    recompute the whole posting aggregation once per branch (no
    cross-branch subtree reuse above an exchange); the plan pin
    ``test_containment_single_posting_pass`` holds it to one pass.
    """
    pairs = exploded_shingles(df, id_col, text_col, n, max_shingle_freq)
    sizes = pairs.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    sym = (
        pairs.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(F.explode(pair_combos(F.col("docs"))).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    directed = sym.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"),
                    F.col("doc_b").alias("dst"),
                    F.col("common"),
                ),
                F.struct(
                    F.col("doc_b").alias("src"),
                    F.col("doc_a").alias("dst"),
                    F.col("common"),
                ),
            )
        ).alias("d")
    ).select("d.src", "d.dst", "d.common")
    return (
        directed.join(
            sizes.select(F.col("doc").alias("src"), F.col("n_sh")), "src"
        )
        .select(
            "src",
            "dst",
            (F.col("common").cast("double") / F.col("n_sh")).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, h): md5-folded DISTINCT shingles — 8-byte shuffle
    keys/arrays instead of n-gram strings (same fold
    ``tf_cosine_pairs`` uses; a 60-bit collision merging two shingles
    is the accepted 2^-60 risk).

    Set grain is guaranteed upstream: ``exploded_shingles`` dedupes
    the (id, text) document rows, and each row's shingle list is
    distinct, so (doc, h) needs no extra distinct exchange here.
    """
    return exploded_shingles(df, id_col, text_col, n).select(
        "doc", md5_long(F.col("shingle")).alias("h")
    )


def jaccard_prefix_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs under prefix filtering
    (All-Pairs/PPJoin candidate generation), exposed separately so the
    reduction is measurable: under a global rarest-first token order,
    two sets with J >= t must share a token among the first
    ``s - ceil(t*s) + 1`` tokens of each s-token set (prefix lemma:
    an overlap of ceil(t*s) cannot hide entirely in the last
    ceil(t*s) - 1 positions). Only prefix tokens are posted to the
    inverted index — and because the order is rarest-first, the tokens
    that survive are precisely the SHORT posting lists: corpus-wide
    boilerplate (the quadratic blow-up in the plain inverted index)
    sorts to the suffix and never generates a candidate.

    The epsilon inside ceil() guards float round-up: a longer prefix is
    always safe (superset), a shorter one breaks exactness.

    PPJoin positional + length pruning (round 6): candidates keep the
    PREFIX POSITIONS they were generated from, and two lossless
    integer filters run before any full token array is shuffled:

    - *positional upper bound*: let t* be the smallest shared prefix
      token of (a, b), at positions (ra, rb). No common token can sort
      below t* — a common token u < t* would sit inside BOTH prefixes
      (the prefix is the lowest-ranked slice of the same global
      order), making it a shared prefix token smaller than t*. Common
      tokens form an increasing matching in both sorted lists, so
      |a ∩ b| <= 1 + min(sa - ra, sb - rb). Pairs whose bound cannot
      reach the Jaccard overlap requirement alpha = t(sa+sb)/(1+t)
      are dropped exactly.
    - *length filter*: |a ∩ b| <= min(sa, sb), so min(sa, sb) >= alpha
      or the pair is impossible.

    Both mins aggregate at the same token (positions increase with the
    global token order on both sides), so groupBy-min is the per-pair
    first co-occurrence — the same state a scanning PPJoin keeps.
    """
    from pyspark.sql import Window

    pairs = _hashed_shingles(df, id_col, text_col, n)
    dfreq = pairs.groupBy("h").agg(F.count(F.lit(1)).alias("df_cnt"))
    w = Window.partitionBy("doc").orderBy("df_cnt", "h")
    w_all = Window.partitionBy("doc")
    ranked = pairs.join(dfreq, "h").select(
        "doc",
        "h",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("s"),
    )
    prefix_len = (
        F.col("s") - F.ceil(F.lit(threshold) * F.col("s") - F.lit(1e-9)) + 1
    )
    prefix = ranked.filter(F.col("rk") <= prefix_len)
    pa = prefix.select(
        F.col("doc").alias("doc_a"),
        "h",
        F.col("rk").alias("rka"),
        F.col("s").alias("sa"),
    )
    pb = prefix.select(
        F.col("doc").alias("doc_b"),
        "h",
        F.col("rk").alias("rkb"),
        F.col("s").alias("sb"),
    )
    alpha = (
        F.lit(threshold)
        * (F.col("sa") + F.col("sb"))
        / F.lit(1.0 + threshold)
        - F.lit(1e-9)
    )
    return (
        pa.join(pb, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("rka").alias("ra"),
            F.min("rkb").alias("rb"),
            F.min("sa").alias("sa"),
            F.min("sb").alias("sb"),
        )
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("sa") - F.col("ra"), F.col("sb") - F.col("rb")
                )
                >= alpha
            )
            & (F.least("sa", "sb") >= alpha)
        )
        .select("doc_a", "doc_b")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT jaccard pairs via prefix filtering — same output as
    ``ngram_jaccard_pairs``, different cost shape.

    Candidates from ``jaccard_prefix_candidates``; verification is
    row-local (each side's full hashed-token array joined once,
    |intersect| via ``array_intersect`` — no second posting shuffle).

    When to use which (measured, sf0.1 documents + adversarial 10x):
    - This corpus is duplicate-CLIQUE shaped (candidates ~= true
      pairs), so there is nothing to filter and the plain counting form
      wins ~1.7x (21.8 s vs 34.3 s at 10x) — the per-candidate array
      payload costs more than posting-count aggregation.
    - On BOILERPLATE-heavy corpora (hot shingles shared by docs that
      are NOT near-dups) the plain index emits O(hot^2) candidate
      pairs; prefix filtering drops hot tokens from the index
      losslessly — ``tests/test_operators.py`` pins a 200-doc
      boilerplate corpus where plain generates ~20k candidates and
      prefix generates none. ``max_shingle_freq`` attacks the same
      blow-up by DROPPING hot shingles (changes the answer at the
      margin); prefix filtering is the exact alternative.
    """
    pairs = _hashed_shingles(df, id_col, text_col, n)
    cand = jaccard_prefix_candidates(df, id_col, text_col, n, threshold)
    sets = pairs.groupBy("doc").agg(
        F.sort_array(F.collect_list("h")).alias("toks"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    sa = sets.select(
        F.col("doc").alias("doc_a"), F.col("toks").alias("ta"),
        F.col("n_sh").alias("na"),
    )
    sb = sets.select(
        F.col("doc").alias("doc_b"), F.col("toks").alias("tb"),
        F.col("n_sh").alias("nb"),
    )
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                inter.cast("double") / (F.col("na") + F.col("nb") - inter)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------


#: Prime modulus for the affine minhash family (same one Spark MLlib's
#: MinHashLSH uses); < 2^31 so coeff * base stays well inside int64.
MH_PRIME = 2038074743


def mh_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for h_i(x) = (a*x + b) % P.

    md5-derived so the DuckDB oracle can inline the identical integer
    literals; a in [1, P-1], b in [0, P-1].
    """
    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"mh_a_{i}".encode()).hexdigest()[:15], 16)
        b = int(hashlib.md5(f"mh_b_{i}".encode()).hexdigest()[:15], 16)
        out.append((a % (MH_PRIME - 1) + 1, b % MH_PRIME))
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """(doc, mh_0..mh_{k-1}): per-doc minimum of k affine shingle hashes.

    ONE md5 per shingle (the expensive part), then k cheap codegen-side
    affine rehashes (a_i*base + b_i) % P — the classic universal-hash
    construction, ~k× less hashing than k salted md5s. One explode +
    one groupBy with k MIN aggregates — partial-aggregated map-side, so
    the shuffle carries k longs per doc, not the shingles.
    """
    pairs = exploded_shingles(df, id_col, text_col, n, max_shingle_freq)
    # SQL text, not Column chains (see the SQL-text note in
    # operators/similarity.py)
    hashed = pairs.selectExpr(
        "doc", f"{md5_long_expr('shingle')} % {MH_PRIME} AS base"
    )
    return hashed.groupBy("doc").agg(
        *[
            F.expr(f"min(({a} * base + {b}) % {MH_PRIME}) AS mh_{i}")
            for i, (a, b) in enumerate(mh_coeffs(num_hashes))
        ]
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """(doc, band, bkey) LSH band-bucket rows of minhash signatures —
    the persistable dedup INDEX: store it partitioned/bucketed by
    (band, bkey) and new batches join against it without touching the
    historical corpus text (``incremental_minhash_pairs``).

    The band rows are emitted by ONE explode over an inline
    (band, bkey) struct array — not a per-band union, which would
    re-evaluate the whole signature subtree once per band.
    """
    if num_hashes % band_size != 0:
        # a silent remainder would change the collision-probability
        # curve the caller sized (trailing hashes ignored), and
        # band_size > num_hashes would emit ZERO bands — every pair
        # generator downstream then returns empty with no error
        raise ValueError(
            f"band_size={band_size} must divide num_hashes={num_hashes} "
            f"(r x b banding; got remainder {num_hashes % band_size})"
        )
    sig = minhash_signatures(df, id_col, text_col, num_hashes, n, max_shingle_freq)
    band_structs = []
    for b in range(num_hashes // band_size):
        cols = ", ".join(
            f"CAST(mh_{b * band_size + j} AS STRING)" for j in range(band_size)
        )
        key = md5_long_expr(f"concat_ws('_', '{b}', {cols})")
        band_structs.append(f"struct({b} AS band, {key} AS bkey)")
    # one SQL string (see the SQL-text note in operators/similarity.py)
    return sig.selectExpr(
        "doc", f"explode(array({', '.join(band_structs)})) AS bb"
    ).selectExpr("doc", "bb.band AS band", "bb.bkey AS bkey")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding of minhash signatures.

    Bands of ``band_size`` rows are hashed to a bucket key; docs sharing
    any band bucket become a candidate pair. With k=16, r=4: pairs at
    jaccard s collide with prob 1-(1-s^4)^4 (~0.5 at s~0.55).
    Returns distinct (doc_a < doc_b) candidates.

    Scale/plan notes: candidates come from posting-list combination
    emission per bucket (one shuffle keyed by bucket), not a
    bands-self-join, which would evaluate the signature subtree twice
    more and shuffle the band rows twice (see ``minhash_bands`` for the
    band-row emission shape). Identical-doc mega-buckets are the only
    skew source; their quadratic pair emission is inherent to the op's
    output contract.
    """
    bands = minhash_bands(
        df, id_col, text_col, num_hashes, band_size, n, max_shingle_freq
    )
    return (
        bands.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(F.explode(pair_combos(F.col("docs"))).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def incremental_minhash_pairs(
    new_df: DataFrame,
    index_bands: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Dedup a NEW batch against a persisted corpus index + itself.

    The production shape for a growing corpus: signatures/bands are
    computed ONLY for the arriving batch; the historical side is the
    stored ``minhash_bands`` output (at scale: bucketed by
    (band, bkey), so this join co-locates with zero index shuffle and
    the per-ingest cost is O(|batch|), never O(|corpus|).

    Returns distinct (doc_a, doc_b, src) candidates where at least one
    side is new: src='cross' pairs (doc_a = historical, doc_b = new)
    via a bucket equi-join that STREAMS hot buckets (same rationale as
    ``simhash_pairs``: an index bucket can be large, and a join never
    materializes its pair list in one row), src='new' pairs inside the
    batch via the posting-list kernel. The union equals the full-corpus
    ``minhash_lsh_pairs`` restricted to pairs touching the batch —
    pinned by ``tests/test_operators.py``.
    """
    nb = minhash_bands(
        new_df, id_col, text_col, num_hashes, band_size, n, max_shingle_freq
    ).localCheckpoint(eager=False)  # consumed twice; compute once
    return incremental_pairs_from_bands(nb, index_bands)


def incremental_pairs_from_bands(
    new_bands: DataFrame, index_bands: DataFrame
) -> DataFrame:
    """``incremental_minhash_pairs`` with the batch's band rows already
    computed — the streaming entry point (``streaming.dedup_stream``
    computes bands once per micro-batch and also appends them to the
    index, so the signature work is never done twice)."""
    nb = new_bands
    cross = (
        index_bands.alias("i")
        .join(
            nb.alias("n"),
            (F.col("i.band") == F.col("n.band"))
            & (F.col("i.bkey") == F.col("n.bkey"))
            & (F.col("i.doc") != F.col("n.doc")),
        )
        .select(
            # normalize to doc_a < doc_b like minhash_lsh_pairs, so the
            # incremental union is set-equal to the full-corpus pairs
            # restricted to the batch
            F.least(F.col("i.doc"), F.col("n.doc")).alias("doc_a"),
            F.greatest(F.col("i.doc"), F.col("n.doc")).alias("doc_b"),
            F.lit("cross").alias("src"),
        )
        .distinct()
    )
    intra = (
        nb.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(F.explode(pair_combos(F.col("docs"))).alias("p"))
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.lit("new").alias("src"),
        )
        .distinct()
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(doc, simhash): per-doc ``bits``-wide simhash over distinct tokens.

    Bit b is set when more token hashes have bit b set than not —
    expressed as one groupBy with ``bits`` conditional sums (all
    JVM-side, map-combined).
    """
    tok = spread_for_compute(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens(text_col))).alias("token"),
    ).select("doc", md5_long(F.concat(F.lit("sh_"), F.col("token"))).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc").agg(*bit_sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc", sim.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    num_bands: int | None = None,
) -> DataFrame:
    """(doc_a < doc_b, hamming) within a hamming radius — banded.

    NOT approximate: with ``num_bands > max_hamming`` (the default,
    ``max_hamming + 1``), pigeonhole guarantees any pair within the
    radius differs in at most ``max_hamming`` bits, so at least one of
    the bands is bit-identical on both sides — the banded candidate set
    is a superset of the answer and the hamming post-filter makes the
    result EXACTLY the all-pairs semantics (same oracle).

    Plan shape: one explode emits (band, band-value) rows, then a
    bucket EQUI-join on (band, bval) with a ``doc_a < doc_b`` residual
    generates candidates — a shuffled hash join keyed by bucket, never
    a cartesian/nested-loop over the corpus. A join (streamed pair
    emission) is deliberately chosen over the posting-list array kernel
    (``pair_combos``) that minhash uses: simhash buckets can run HOT —
    a low-entropy band of a correlated corpus concentrates a large
    doc fraction into one bucket, and an array-of-structs pair emission
    would materialize that bucket's O(|bucket|^2) pairs inside a single
    row (measured: unbounded task memory at 5k docs / 16-bit sigs,
    where 77% of all pairs sit within hamming<=3). The join streams
    those pairs through the hamming filter instead. The banded frame is
    lazily localCheckpoint'ed so the signature aggregation runs once,
    not once per join side.

    Scale sizing: each band carries ``bits / num_bands`` signature bits,
    so a band has ``2^(bits/num_bands)`` possible values and an n-doc
    corpus puts ~``n / 2^(bits/num_bands)`` docs in a bucket. 16-bit
    signatures (4-bit bands, 16 values) are fixture-sized; use >= 48-bit
    signatures (12-bit bands, 4096 values) at 100 TB, as
    ``dedup_simhash_banded`` registers — wider bands shrink both the
    bucket join's probe side and the true output volume.
    """
    if num_bands is None:
        num_bands = max_hamming + 1
    # clip BEFORE the pigeonhole check: validating first and clipping
    # after silently voided the exact-recall guarantee whenever
    # max_hamming >= bits (e.g. bits=16, max_hamming=16 clipped 17
    # bands to 16 <= max_hamming — an all-bits-differing pair within
    # the radius shares no band and is dropped with no error)
    num_bands = min(num_bands, bits)
    if num_bands <= max_hamming:
        raise ValueError(
            f"num_bands={num_bands} (<= bits={bits}) must exceed "
            f"max_hamming={max_hamming} for exact recall (pigeonhole); "
            "use wider signatures or a smaller radius"
        )
    sig = simhash_signatures(df, id_col, text_col, bits)
    # contiguous bit slices [lo, hi) covering all `bits` bits
    bounds = [round(i * bits / num_bands) for i in range(num_bands + 1)]
    band_structs = []
    for i in range(num_bands):
        lo, width = bounds[i], bounds[i + 1] - bounds[i]
        bval = F.shiftright(F.col("simhash"), lo).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        band_structs.append(
            F.struct(F.lit(i).alias("band"), bval.cast("long").alias("bval"))
        )
    bands = (
        sig.select("doc", "simhash", F.explode(F.array(*band_structs)).alias("bb"))
        .select(
            "doc",
            "simhash",
            F.col("bb.band").alias("band"),
            F.col("bb.bval").alias("bval"),
        )
        .localCheckpoint(eager=False)
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).alias("hamming")
    # First-match emission: a pair sharing k bands would surface k times;
    # instead of a distinct (a full extra shuffle of the pair volume),
    # emit only at the LOWEST matching band — the residual predicate
    # checks every earlier band slice differs, all from the two simhash
    # values already in the row (pure codegen, no extra data movement).
    first_match = F.lit(True)
    for j in range(num_bands - 1):
        lo, width = bounds[j], bounds[j + 1] - bounds[j]
        mask = F.lit((1 << width) - 1)
        sa = F.shiftright(F.col("a.simhash"), lo).bitwiseAND(mask)
        sb = F.shiftright(F.col("b.simhash"), lo).bitwiseAND(mask)
        first_match = first_match & ((F.col("a.band") <= F.lit(j)) | (sa != sb))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc") < F.col("b.doc"))
            & first_match,
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"), ham)
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def _dot_sql(a: str, b: str) -> str:
    """Sequential left-fold dot product in double over the array
    expressions ``a`` and ``b`` — deterministic and reproducible by
    DuckDB's list_reduce (same fold order). SQL text (see the SQL-text
    note in operators/similarity.py)."""
    return (
        f"aggregate(zip_with({a}, {b}, (dot_x, dot_y) -> "
        "CAST(dot_x AS DOUBLE) * CAST(dot_y AS DOUBLE)), "
        "0.0D, (dot_acc, dot_t) -> dot_acc + dot_t)"
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.99,
    lsh_planes: int | None = None,
) -> DataFrame:
    """(a < b) pairs with cosine >= threshold.

    Norms are hoisted (computed once per vector, not once per pair —
    bit-identical result, 3x less fold work). ``lsh_planes=None`` is
    the exact all-pairs form; with planes set, pairs are restricted to
    the same sign-LSH bucket (2^planes buckets) — the scale path: the
    O(n^2) pair space shrinks by ~2^planes while true near-dups
    (cosine ~ 1) almost always share sign patterns.
    """
    from .similarity import lsh_bucket  # local import, avoids cycle

    v = F.col(vec_col)
    cols = [
        F.col(id_col).alias("doc"),
        v.alias("v"),
        F.expr(f"sqrt({_dot_sql(vec_col, vec_col)})").alias("nrm"),
    ]
    if lsh_planes is not None:
        cols.append(lsh_bucket(v, lsh_planes).alias("bucket"))
    # zero-norm vectors have no cosine to anything; under ANSI mode
    # (Spark 4 default) one such row would abort the job with
    # DIVIDE_BY_ZERO. The oracle applies the same nrm > 0 predicate.
    base = df.select(*cols).filter(F.col("nrm") > 0)
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.doc") < F.col("b.doc")
    if lsh_planes is not None:
        cond = cond & (F.col("a.bucket") == F.col("b.bucket"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.expr(f"{_dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm)").alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# duplicate-group clustering (connected components over dup pairs)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """(doc, component) for every doc appearing in the pair list, where
    component = min doc id of its connected component.

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors; converges in
    O(component diameter) rounds — dup clusters from LSH are near-
    cliques, so 2-3 rounds in practice. This is the one iterative
    algorithm in the engine; per-round lineage is truncated with
    localCheckpoint (on a cluster: set a checkpoint dir, or switch to
    the large-star/small-star variant for graphs with long chains).

    Deterministic output (min over a set), so the DuckDB oracle is a
    recursive-CTE transitive closure + MIN.
    """
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # EAGER checkpoints + isEmpty probe (r12 adjudication of the r11
    # lazy+count fusion, VERDICT r11 item 1): the lazy variant ran one
    # job per round instead of two, but the driver's r11 PERF measured
    # three consumer entries 15-30% slower, and the repo's interleaved
    # paired A/B (6 ABBA pairs per entry, one session; per-entry
    # ratios in revert commit 0d14f39) confirmed it — lazy+count
    # medians were 1.04-1.13x the eager+isEmpty shape on 6 of 7
    # consumer entries. The fused probe is a full-scan count() whose
    # aggregate sits on the critical path every round; the eager
    # shape's extra job is an isEmpty over already-materialized rows
    # (~one empty task) and the materialization job itself pipelines
    # better. Fewer jobs did NOT
    # mean less wall-clock here; reverted on measurement.
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    converged_at = None
    # Seed with round 0 already applied: label = min(self, neighbors) —
    # one groupBy instead of a distinct + a full propagation round.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("doc"),
            F.least("src", "nbr_min").alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.src == labels.doc)
            .groupBy(F.col("dst").alias("doc"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # `moved` rides along in the checkpointed frame, so convergence
        # detection is an isEmpty on materialized rows — no re-join.
        new_labels = (
            labels.join(nbr_min, "doc", "left")
            .select(
                "doc",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                F.coalesce(
                    F.col("nbr_label") < F.col("label"), F.lit(False)
                ).alias("moved"),
            )
            .localCheckpoint(eager=True)
        )
        converged = new_labels.filter("moved").isEmpty()
        labels = new_labels.drop("moved")
        if converged:
            converged_at = True
            break
    if converged_at is None:
        # One-hop-per-round propagation needs ~diameter rounds; dup
        # graphs are near-cliques (2-3 rounds), but a path-shaped
        # component longer than max_iter would previously return
        # silently WRONG labels. Fail loudly and point at the O(log n)
        # alternative instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); use "
            "connected_components_star for long-chain graphs"
        )
    return labels.select("doc", F.col("label").alias("component"))


def _undirect(e: DataFrame) -> DataFrame:
    """Both directions of an edge list: (u, v) for every v ∈ N(u)."""
    return e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star_step(edges: DataFrame) -> DataFrame:
    """One large-star round: every node u attaches each strictly-greater
    neighbor v to m = min({u} ∪ N(u)).

    Array-free: the closed-neighborhood minimum is a plain
    ``groupBy(u).agg(min(v))`` (map-side-combinable, O(1) state per
    key) re-attached to the >-filtered edge list by an equi-join on u —
    a 10M-neighbor hub is 10M small rows across tasks, never one
    10M-element array in one task.
    """
    und = _undirect(edges)
    mins = (
        und.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("u", "_mn").alias("m"))
    )
    return (
        und.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star_step(edges: DataFrame) -> DataFrame:
    """One small-star round: every node u attaches each
    strictly-smaller neighbor (and itself) to m = min of that closed
    set. Same min+join shape as ``_large_star_step`` — no arrays.
    """
    und = _undirect(edges)
    mins = (
        und.groupBy("u")
        .agg(
            F.min(F.when(F.col("v") < F.col("u"), F.col("v"))).alias("_mn")
        )
        .select("u", F.least("u", F.coalesce("_mn", "u")).alias("m"))
    )
    return (
        und.filter(F.col("v") < F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("t"), F.col("m"))
        .unionByName(mins.select(F.col("u").alias("t"), F.col("m")))
        .filter(F.col("t") != F.col("m"))
        .select(F.col("t").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """(doc, component) via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds on ANY graph shape, including the
    long chains where one-hop min-label propagation needs O(diameter).

    Per round, from the undirected adjacency of the current edge set:
    - large-star: every node u emits (v, m) for each neighbor v > u,
      where m = min({u} ∪ N(u)) — far nodes shortcut to the current
      minimum;
    - small-star: every node u emits (v, m) for each v in
      {w ∈ N(u): w < u} ∪ {u} itself, m = min over that same closed
      set — the local star flattens.

    Both steps preserve connectivity and only ever decrease attachment
    targets, so the edge set converges to per-component stars rooted at
    the component minimum; convergence is detected by edge-set
    fixpoint (count + 64-bit xor-hash — order-independent, and wide
    enough that a false fixpoint is ~2^-64 per round). Each round is
    two shuffles over the shrinking edge set (a groupBy-min plus an
    equi-join keyed on the same node id), checkpointed to truncate
    lineage.

    HUB-SAFE BY CONSTRUCTION: per-node neighborhood minima come from
    ``groupBy(u).agg(min(v))`` and are re-attached to the edge list by
    an equi-join — no ``collect_set`` adjacency arrays anywhere. By the
    late rounds a component root's neighborhood IS the whole component;
    an array representation would put a |component|-element array in a
    single row/task (the same hot-bucket OOM ``simhash_pairs``
    documents), while min+join keeps every row O(1) no matter how large
    the hub grows. Plan pinned by ``test_star_step_plans_are_array_free``.

    Same output contract as ``connected_components`` (equality pinned
    by property tests against a union-find model, including a 100k-leaf
    single-hub star).
    """
    # ONE materialization of the upstream pair pipeline: both the edge
    # set and the final node list derive from this checkpoint. Deriving
    # nodes from `pairs` directly would re-execute the whole upstream
    # plan (for the catalog entry, a second full MinHash-LSH pass —
    # measured ~1.5 s of the entry at sf0.1, and an entire extra corpus
    # scan at real scale).
    # EAGER checkpoints (r12 adjudication, VERDICT r11 item 1): the
    # r11 lazy variant piggybacked materialization on the fingerprint
    # probe (one job per round instead of two), but the driver
    # measured dedup_components_star 0.70x and the repo's interleaved
    # paired A/B (revert commit 0d14f39) confirmed lazy+fused-probe
    # medians 1.08x this eager shape — the full-scan fingerprint
    # aggregate on the critical path costs more than the extra cheap
    # probe job. Reverted on measurement; see connected_components for the full
    # adjudication note.
    base = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = base.filter(F.col("u") != F.col("v"))

    def fingerprint(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                # order-independent xor over canonical 64-bit pair
                # hashes (xxhash64, not 32-bit Murmur3: with 32 bits a
                # colliding xor between consecutive differing edge sets
                # would silently stop contraction early)
                F.expr(
                    "bit_xor(xxhash64(least(u, v), greatest(u, v)))"
                ),
                F.lit(0),
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    fp = fingerprint(edges)
    for _ in range(max_rounds):
        edges = _small_star_step(_large_star_step(edges)).localCheckpoint(
            eager=True
        )
        new_fp = fingerprint(edges)
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds"
        )
    # at the fixpoint, edges are (node, root) stars; roots label themselves
    nodes = (
        base.select(F.col("u").alias("doc"))
        .unionByName(base.select(F.col("v").alias("doc")))
        .distinct()
    )
    return (
        nodes.join(edges, nodes["doc"] == edges["u"], "left")
        .select("doc", F.coalesce(F.col("v"), F.col("doc")).alias("component"))
    )


# ---------------------------------------------------------------------------
# duplicated-substring spans (character-level, cross-document)
# ---------------------------------------------------------------------------


def substring_dedup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Character-offset spans of cross-document duplicated substrings.

    Document-level dedup (jaccard / minhash / simhash above) removes
    whole near-copies; it cannot touch the boilerplate CASE — license
    headers, navigation chrome, quoted passages — verbatim substrings
    repeated across otherwise-distinct documents. Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better") show
    removing such spans, not documents, is what moves LM quality, using
    a corpus-wide suffix array. A suffix array is a single sequential
    build — the opposite of a Spark job — so this operator reaches the
    same spans Spark-first:

    1. every character ``k``-gram of every doc becomes a
       ``(doc, pos, md5_long(gram))`` row (one explode; the hash keeps
       the shuffle key 8 bytes instead of ``k`` chars);
    2. grams appearing in >= ``min_docs`` DISTINCT docs form the "hot"
       set (one map-combined groupBy; the exchange is re-usable for the
       probe join, and AQE picks a broadcast probe when the hot set is
       small);
    3. each doc's hot positions merge into maximal intervals
       ``[pos, pos+k-1]`` by gaps-and-islands (a new island iff the gap
       to the previous hot position exceeds ``k``, i.e. the covered
       character ranges neither overlap nor touch) — a per-doc window,
       partition-parallel.

    Any shared substring of length >= k is fully covered by shared
    k-grams, so the emitted spans are exactly the maximal duplicated
    regions detectable at granularity k (matches shorter than k are
    invisible by contract — same knob as the suffix-array method's
    minimum match length).

    Returns ``(doc, span_start, span_end, span_len, n_grams)`` with
    1-based inclusive character offsets; downstream removal is a
    row-local ``substring`` splice.

    Scale (100 TB): the gram index is corpus_chars rows — at full
    granularity that is the dominant cost. Production runs winnow it
    (Schleimer et al. 2003, MOSS): keep only the minimal hash in each
    window of ``w`` consecutive grams, an O(1)-state row-local
    selection that samples ~2/(w+1) of positions yet still guarantees
    every match of length >= w+k-1 is caught. The hot-set groupBy is
    hash-uniform (no skew); stop-phrase grams that would explode a
    pair-join never do here — positions are only *marked*, never
    joined doc-to-doc, so hot grams cost O(occurrences), not
    O(occurrences^2).
    """
    grams = char_gram_index(df, id_col, text_col, k)
    return _spans_from_gram_index(grams, k, gap=k, min_docs=min_docs)


def char_gram_index(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc, pos, gh): every character ``k``-gram of every doc, as
    1-based position + 60-bit hash (the full-granularity substring
    index ``substring_dedup_spans`` consumes; ``winnowed_gram_index``
    is its sampled form)."""
    return (
        spread_for_compute(df, id_col)
        .select(F.col(id_col).alias("doc"), F.col(text_col).alias("t"))
        .filter(F.length("t") >= k)
        .select(
            "doc",
            # sequence(1, 0) would yield a DESCENDING [1, 0] — the
            # length guard above keeps the upper bound >= 1
            F.explode(
                F.sequence(F.lit(1), F.length("t") - (k - 1))
            ).alias("pos"),
            "t",
        )
        .select(
            "doc",
            F.col("pos").cast("long").alias("pos"),
            # substring() needs the SQL-expr form: the DataFrame API
            # rejects column-valued start positions
            md5_long(F.expr(f"substring(t, pos, {k})")).alias("gh"),
        )
    )


def _spans_from_gram_index(
    grams: DataFrame, k: int, gap: int, min_docs: int
) -> DataFrame:
    """Hot-gram marking + per-doc gaps-and-islands interval merge over
    a (doc, pos, gh) gram index (full or winnowed)."""
    from pyspark.sql import Window

    hot = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    marked = grams.join(hot, "gh").select("doc", "pos")
    w = Window.partitionBy("doc").orderBy("pos")
    islands = marked.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) > gap, 1).otherwise(0),
    ).withColumn("isl", F.sum("brk").over(w))
    return islands.groupBy("doc", "isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
        (F.max("pos") + k - F.min("pos")).alias("span_len"),
        F.count(F.lit(1)).alias("n_grams"),
    ).select("doc", "span_start", "span_end", "span_len", "n_grams")


def winnowed_gram_index(
    df: DataFrame, id_col: str, text_col: str, k: int = 20, w: int = 8
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, MOSS):
    from every window of ``w`` consecutive character k-grams keep the
    minimal hash, rightmost occurrence on ties.

    This is the scale path ``substring_dedup_spans`` documents: the
    selection keeps an expected ~2/(w+1) of positions, is a row-local
    O(1)-state rule (here: a struct-min over a ``w``-row trailing
    window, partition-parallel per doc), and carries the winnowing
    guarantee — any substring match of length >= w+k-1 still shares at
    least one selected fingerprint between the two documents, because
    both sides select the minimum of the same hash window
    (self-synchronizing: the rule depends only on match-local
    content). Docs with fewer than ``w`` grams have no complete window
    and emit nothing — matches shorter than w+k-1 are outside the
    guarantee by contract.

    Returns the sampled (doc, pos, gh) index — drop-in for the
    full-granularity ``char_gram_index`` wherever approximate recall
    at 1/~4 the index size is the right trade (dedup, clone detection,
    contamination audits).
    """
    from pyspark.sql import Window

    g = char_gram_index(df, id_col, text_col, k)
    win = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    # min over (gh, -pos): smallest hash, rightmost position on ties
    m = F.min(
        F.struct(F.col("gh").alias("g"), (-F.col("pos")).alias("np"))
    ).over(win)
    return (
        g.withColumn("m", m)
        .filter(F.col("pos") >= w)  # complete windows only
        .select(
            "doc",
            (-F.col("m.np")).alias("pos"),
            F.col("m.g").alias("gh"),
        )
        .distinct()
    )


def substring_dedup_spans_winnowed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    w: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """``substring_dedup_spans`` over the winnowed index — the shape
    that actually runs at 100 TB.

    Same hot-mark + interval-merge pipeline, but candidate positions
    are winnowing fingerprints, so the index (and the hot-set shuffle)
    is ~2/(w+1) the size. Consecutive selected positions inside one
    duplicated region are at most ``w`` apart (winnowing picks at
    least one position per window), so islands break on gaps > k + w
    instead of > k. The result is approximate by contract: spans are
    anchored at selected fingerprints (boundaries can be off by up to
    w-1 grams, sub-(w+k-1) matches can be missed); every reported
    span is still genuinely duplicated — hot fingerprints are exact
    hash matches across docs.
    """
    grams = winnowed_gram_index(df, id_col, text_col, k, w)
    return _spans_from_gram_index(grams, k, gap=k + w, min_docs=min_docs)
