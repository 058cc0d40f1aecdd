"""Text analysis operators over document corpora.

Language-ID, quality scoring, token counting and fingerprinting — the
per-document metrics a training-data pipeline computes before
filtering. All pure column expressions (whole-stage-codegen'd, no
Python), all with exact DuckDB oracles.

Scale: every operator here is embarrassingly parallel per-row (no
shuffle at all) — the ideal 100 TB shape. The only care needed is
keeping the expressions in codegen (they are: split/filter/aggregate
array ops), never per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import md5_long

# tiny per-language stopword lists for the n-gram/stopword heuristic.
# Order matters: ties resolve to the first language listed.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "von"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "que", "pour"],
}

# BPE-ish token pattern: letter runs, digit runs, or single punctuation
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def words(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def whitespace_token_count(col: str | Column) -> Column:
    return F.size(words(col)).cast("bigint")


def regex_token_count(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(TOKEN_REGEX)).cast("bigint")


def stopword_hits(col: str | Column, stopwords: list[str]) -> Column:
    """Number of tokens (with multiplicity) that are stopwords."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(words(col), lambda t: F.array_contains(sw, t))).cast(
        "bigint"
    )


def lang_id(col: str | Column) -> Column:
    """Stopword-vote language guess; 'und' when no list scores > 0."""
    hits = {lang: stopword_hits(col, sw) for lang, sw in LANG_STOPWORDS.items()}
    best = F.greatest(*hits.values())
    out = F.lit("und")
    for lang in reversed(list(LANG_STOPWORDS)):  # first lang wins ties
        out = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(
            out
        )
    return out


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc quality metrics + a composite score in [0, 1].

    Features follow the usual corpus-filtering recipe: length, mean
    word length, stopword ratio, alpha ratio, repetition (distinct
    token ratio). The score is a fixed linear blend — deterministic,
    no model. Exact-arithmetic note: ratios are double divisions of
    exact integers, bit-identical across engines.
    """
    w = words(text_col)
    n_tok = F.size(w).cast("bigint")
    n_chars = F.length(text_col).cast("bigint")
    distinct_ratio = F.size(F.array_distinct(w)).cast("double") / n_tok
    mean_word_len = (n_chars - (n_tok - 1)).cast("double") / n_tok
    stop_ratio = stopword_hits(text_col, LANG_STOPWORDS["en"]).cast("double") / n_tok
    # empty text: 0 alpha chars of 0 is defined as 0.0 — the bare
    # division aborts under ANSI (Spark 4 throws DIVIDE_BY_ZERO even
    # for doubles) and DuckDB yields NULL, silently dropping the doc
    # from score filters; the oracle carries the same CASE. (The token
    # denominators are safe: split('') is [''] in both engines.)
    alpha_chars = F.length(
        F.regexp_replace(
            F.col(text_col) if isinstance(text_col, str) else text_col,
            "[^A-Za-z]",
            "",
        )
    ).cast("double")
    alpha_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        alpha_chars / n_chars
    )
    # clamp helpers keep the blend in [0,1]
    len_score = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.25) * len_score
        + F.lit(0.25) * distinct_ratio
        + F.lit(0.25) * F.least(stop_ratio * 2, F.lit(1.0))
        + F.lit(0.25) * alpha_ratio
    )
    return df.select(
        F.col(id_col).alias("doc"),
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars"),
        distinct_ratio.alias("distinct_ratio"),
        mean_word_len.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        score.alias("quality_score"),
    )


def fingerprint(col: str | Column) -> Column:
    """Order-insensitive content fingerprint: 60-bit hash of the sorted
    distinct token list (catches shuffled/reordered duplicates that
    exact hashing misses)."""
    return md5_long(F.concat_ws(" ", F.array_sort(F.array_distinct(words(col)))))


#: Rolling-hash base/modulus (Rabin-Karp): B > any per-token hash bucket,
#: P prime < 2^31 so acc*B + h stays inside int64 in both engines.
RH_BASE = 1_000_003
RH_PRIME = 2_147_483_629


def rolling_fingerprint(col: str | Column) -> Column:
    """Order-SENSITIVE polynomial rolling hash over the token stream:
    acc = (acc * B + h(token)) mod P, folded left-to-right.

    The classic Rabin-Karp document fingerprint — two docs with the
    same words in different order get different fingerprints (the
    complement of :func:`fingerprint`). Per-token h is the md5 fold
    bucketed below P; the fold is a sequential ``aggregate``, which
    DuckDB's list_reduce replays in the identical order, so the oracle
    is exact integer arithmetic on both engines.
    """
    return F.aggregate(
        F.transform(words(col), lambda t: md5_long(t) % RH_PRIME),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * RH_BASE + h) % RH_PRIME,
    )


def text_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass per-doc profile: token counts, lang guess, fingerprints
    (order-insensitive + rolling).

    NULL-text docs are excluded: there is nothing to profile, and the
    per-row expressions disagree across engines on NULL (Spark's
    split(NULL) vs DuckDB's NULL propagation through md5/list ops —
    differential-fuzzer find). Callers wanting a row per doc should
    left-join the profile back.
    """
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        whitespace_token_count(text_col).alias("ws_tokens"),
        regex_token_count(text_col).alias("re_tokens"),
        lang_id(text_col).alias("lang_guess"),
        fingerprint(text_col).alias("fingerprint"),
        rolling_fingerprint(text_col).alias("rolling_fp"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition metrics
# ---------------------------------------------------------------------------


def repetition_cols(
    text_col: str | Column, words_col: Column | None = None
) -> dict[str, Column]:
    """The Gopher-rule repetition expressions, exposed column-level so
    composed pipelines can filter without a join against the feature
    frame (see ``corpus_pipeline``).

    Pass ``words_col`` bound to a PROJECTED token array wherever rows
    are hot: the expressions scan the word list O(words * distinct)
    times inside interpreted HOFs, and an inline split() re-tokenizes
    per scan (no codegen subexpression elimination there)."""
    w = words_col if words_col is not None else words(text_col)
    n = F.size(w)
    nd = F.size(F.array_distinct(w))
    top = F.array_max(
        F.transform(
            F.array_distinct(w),
            lambda dw: F.size(F.filter(w, lambda x: x == dw)),
        )
    )
    # guard: sequence(1, 0) is a DESCENDING [1, 0] in Spark, so 1-word
    # docs must short-circuit (same trap as dedup.shingles)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    nb = F.size(bigrams)
    ndb = F.size(F.array_distinct(bigrams))
    dup_word_frac = (n - nd).cast("double") / n
    top_word_frac = top.cast("double") / n
    dup_bigram_frac = F.when(n >= 2, (nb - ndb).cast("double") / nb).otherwise(
        F.lit(0.0)
    )
    keep = (
        (dup_word_frac <= 0.63) & (top_word_frac <= 0.12) & (dup_bigram_frac <= 0.2)
    )
    return {
        "n_words": n.cast("bigint"),
        "dup_word_frac": dup_word_frac,
        "top_word_frac": top_word_frac,
        "dup_bigram_frac": dup_bigram_frac,
        "gopher_keep": keep,
    }


def repetition_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc repetition metrics in the Gopher-rules style.

    duplicate-word fraction, most-common-word fraction, duplicate-bigram
    fraction — the signals that catch boilerplate/spam which exact and
    near-dup hashing miss (repetition WITHIN a doc, not across docs).
    All array HOFs, zero shuffle; fractions are one IEEE division of
    exact integer counts so the DuckDB oracle is bit-identical. The
    per-distinct-word count scan is O(words * distinct) per doc — fine
    for document-sized inputs, and per-row-parallel at any corpus size.
    """
    c = repetition_cols(text_col, words_col=F.col("_w"))
    return df.withColumn("_w", words(text_col)).select(
        F.col(id_col).alias("doc"), *[v.alias(k) for k, v in c.items()]
    )


# ---------------------------------------------------------------------------
# C4-style heuristic filters
# ---------------------------------------------------------------------------


def c4_cols(
    text_col: str | Column, lang_col: str, words_col: Column | None = None
) -> dict[str, Column]:
    """The C4-rule flag expressions, column-level (see ``c4_filters``).
    ``words_col``: see ``repetition_cols`` — bind a projected array."""
    w = words_col if words_col is not None else words(text_col)
    n = F.size(w)
    sum_len = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    max_len = F.array_max(F.transform(w, F.length))
    lang = F.col(lang_col)
    stop_ok = F.lit(True)
    for lg, sw in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(s) for s in sw])
        hits = F.size(
            F.filter(F.array_distinct(w), lambda x: F.array_contains(arr, x))
        )
        stop_ok = F.when(lang == lg, hits >= 1).otherwise(stop_ok)
    min_words_ok = n >= 20
    word_len_ok = (sum_len * 2 >= n * 5) & (sum_len <= n * 8)
    max_word_ok = max_len <= 15
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    no_brace = ~text.contains("{")
    keep = min_words_ok & word_len_ok & max_word_ok & no_brace & stop_ok
    return {
        "min_words_ok": min_words_ok,
        "word_len_ok": word_len_ok,
        "max_word_ok": max_word_ok,
        "no_brace": no_brace,
        "stopword_ok": stop_ok,
        "c4_keep": keep,
    }


def c4_filters(
    df: DataFrame, id_col: str, text_col: str, lang_col: str
) -> DataFrame:
    """Per-doc C4-style boolean filter flags + the composite keep.

    Rules (document-local, zero shuffle, exact integer logic):
    - ``min_words_ok``: >= 20 words;
    - ``word_len_ok``: mean word length in [2.5, 8] — compared as
      ``2*sum_len >= 5*n`` and ``sum_len <= 8*n``, pure int64;
    - ``max_word_ok``: longest word <= 15 chars (URL/blob smell);
    - ``no_brace``: no '{' (code/JSON leakage);
    - ``stopword_ok``: >= 1 distinct stopword of the doc's own language
      (waived for languages without a stoplist, e.g. zh).
    """
    c = c4_cols(text_col, lang_col, words_col=F.col("_w"))
    return df.withColumn("_w", words(text_col)).select(
        F.col(id_col).alias("doc"), *[v.alias(k) for k, v in c.items()]
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# dialect-safe patterns (identical semantics in Java regex and RE2)
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_PHONE = "[0-9]{3}-[0-9]{4}"


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Scrub emails/phone-shaped tokens; count what was removed.

    Emails are redacted FIRST so a digit run inside a local part is
    never double-counted as a phone; the phone count runs over the
    email-redacted text for the same reason. Pure regexp expressions,
    zero shuffle; the patterns avoid constructs where Java regex and
    RE2 diverge (no backrefs, no lookaround) so the oracle is exact.
    """
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    n_emails = F.regexp_count(text, F.lit(PII_EMAIL)).cast("bigint")
    no_email = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    n_phones = F.regexp_count(no_email, F.lit(PII_PHONE)).cast("bigint")
    redacted = F.regexp_replace(no_email, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col).alias("doc"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# document chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping word-window chunks: one doc row -> ceil(n/stride) rows.

    The context-window prep step of a training pipeline: fixed-size
    windows every ``stride`` words (overlap = size - stride). A single
    generator expression (sequence -> transform -> posexplode), so the
    expansion happens inside the scan stage with no shuffle and no
    Python; chunk text is built by slice + concat_ws, never substring
    arithmetic on the raw string. The token array is PROJECTED to a
    column first: HOF lambdas run interpreted (no codegen
    subexpression elimination), so an inline split would re-tokenize
    the doc once per chunk — O(words^2/stride) per doc, the dedup.py:55
    hazard.
    """
    w = F.col("_w")
    starts = F.sequence(F.lit(1), F.size(w), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.cast("int").alias("start_word"),
            F.concat_ws(" ", F.slice(w, s, size)).alias("chunk_text"),
            F.least(F.lit(size), F.size(w) - s + 1).cast("int").alias("chunk_words"),
        ),
    )
    return df.select(
        F.col(id_col).alias("doc"), words(text_col).alias("_w")
    ).select(
        "doc", F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        "doc",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.start_word").alias("start_word"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.chunk_words").alias("chunk_words"),
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction (merge-table training)
# ---------------------------------------------------------------------------

#: Unit separator — guaranteed absent from document text (asserted by
#: the entry's fixture contract); tokens in the BPE state string are
#: individually wrapped as SEP+tok+SEP so a merge's string replacement
#: can never match inside a longer token and consecutive matches never
#: share boundary characters.
BPE_SEP = "\x1f"


def bpe_merge_table(
    df: DataFrame,
    text_col: str,
    rounds: int = 6,
    prefix_chars: int = 120,
) -> DataFrame:
    """Byte-pair-encoding merge table trained on the corpus (Sennrich
    et al. 2016; byte/char-level as in GPT-2's tokenizer): ``rounds``
    greedy merges, each picking the globally most frequent adjacent
    token pair (ties to the lexicographically smallest pair).

    Returns ``(round, merged, cnt)`` — the merge table itself, i.e.
    the trained-tokenizer artifact.

    Spark-first formulation: the per-doc tokenization STATE is a
    string — each token wrapped as SEP+tok+SEP and concatenated — so
    applying a merge is one row-local literal ``replace``
    (left-to-right non-overlapping, which IS BPE's greedy application
    order), never an array rebuild. The wrapped form makes the
    replacement boundary-safe: pair (a,b) matches only
    ``SEP a SEP SEP b SEP``, which cannot occur inside a longer token
    and leaves the next occurrence's leading SEP intact.

    Each round is one map-combined pair-count aggregation over the
    corpus plus a driver-collected single winner row — the merge table
    is bounded driver metadata, exactly like k-means centroids
    (operators/clustering.py); all heavy work stays distributed. With
    the winners as literals every round's state is a pure expression
    (a chain of ``replace`` calls) over the once-materialized wrapped
    prefix sample, so each round is a single distributed aggregation
    over cached narrow state — no driver-built rows in the result.

    ``prefix_chars`` caps per-doc work (vocab statistics saturate
    quickly; the cap is the standard sample-the-corpus trade). Scale
    (100 TB): per round, the only exchange carries (pair, partial
    count) — map-combined, pair cardinality is bounded by |vocab|^2
    and in practice by active pairs; the argmax is a TakeOrdered, not
    a global sort. Rounds are inherently sequential (each merge
    changes the statistics — the algorithm, not the engine).
    """
    sep = BPE_SEP
    spark = df.sparkSession

    # The SEP-wrapped prefix sample is identical across rounds — only
    # the merge chain applied on top of it changes — so materialize it
    # once (localCheckpoint) instead of re-scanning the corpus and
    # re-running the per-char wrap regex every round (measured ~0.56 s
    # of a ~0.74 s round at sf0.1). Bounded state: prefix_chars ×
    # n_docs chars (the training sample itself), partitioned like the
    # input — on a cluster this is a cached narrow projection, not a
    # driver collect.
    # NOT spread (r11, measured): a paired A/B at sf0.1 found a
    # repartitioned training state no faster (plain 5.0 s vs spread
    # 5.9 s median in the same window) — each round is bounded by the
    # sequential round structure and per-job latency, not by the
    # single-task explode, and the extra exchange pays for itself
    # nowhere. At real scale the corpus arrives multi-file anyway.
    pre = (
        df.filter(F.length(text_col) >= 1)
        .select(
            F.regexp_replace(
                F.substring(F.col(text_col), 1, prefix_chars),
                # (?s): Java '.' excludes line terminators (\n, \r,
                # NEL, U+2028, U+2029); without DOTALL a newline in
                # the prefix is never wrapped, gluing its neighbours
                # into one pseudo-token with raw SEPs inside
                "(?s)(.)",
                sep + "$1" + sep,
            ).alias("st0")
        )
    )
    # lazy: round 1's winner job materializes it (r11 — saves the
    # separate eager-materialization job; rounds 2+ read the cache)
    base = pre.localCheckpoint(eager=False)
    out_schema = "round int, merged string, cnt bigint"

    def counts(merges: list[str]) -> DataFrame:
        st = F.col("st0")
        for pair in merges:
            # state occurrence of pair (a,b) is SEP a SEP SEP b SEP —
            # tokens are individually wrapped, so the pair id's single
            # inner SEP doubles in the search literal
            st = F.replace(
                st,
                F.lit(sep + pair.replace(sep, sep + sep) + sep),
                F.lit(sep + pair.replace(sep, "") + sep),
            )
        toks = (
            base.select(st.alias("st"))
            .select(
                F.split(
                    F.expr("substring(st, 2, length(st) - 2)"), sep + sep
                ).alias("w")
            )
        )
        pairs = toks.select(
            F.explode(
                F.when(
                    F.size("w") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("w") - 1),
                        lambda i: F.concat(
                            F.element_at("w", i.cast("int")),
                            F.lit(sep),
                            F.element_at(F.col("w"), (i + 1).cast("int")),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pr")
        )
        return pairs.groupBy("pr").agg(F.count(F.lit(1)).alias("cnt"))

    def winner(c: DataFrame) -> DataFrame:
        return c.orderBy(F.col("cnt").desc(), F.col("pr").asc()).limit(1)

    # Each round's winner is collected DIRECTLY (one TakeOrdered job
    # per round) and the merge table is returned as a local frame —
    # it is bounded driver metadata by the docstring's own contract
    # (the k-means-centroid precedent). The previous shape
    # localCheckpoint'ed each 1-row winner (an extra materialization
    # job per round) and unioned the 6 checkpoints into the output
    # (one more job to re-read them): 21 jobs for 32 tasks of real
    # work, pure scheduler overhead (r11 profiling). Rounds stay
    # sequential — the algorithm, not the engine.
    merges: list[str] = []
    out_rows: list[tuple] = []
    for r in range(1, rounds + 1):
        row = winner(counts(merges)).first()
        if row is None:
            break
        merges.append(row["pr"])
        out_rows.append(
            (r, row["pr"].replace(sep, ""), row["cnt"])
        )
    return spark.createDataFrame(out_rows, out_schema)
