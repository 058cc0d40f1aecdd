"""Similarity search over embedding columns (array<float>).

Baseline: exact brute-force cosine top-k (broadcast the query set,
score distributed, per-query top-k via partitioned window — no global
sort). Scale path: sign-LSH bucketing (IVF-style candidate pruning) so
each query only scores its bucket.

Everything is built-in functions (zip_with/aggregate — JVM-side
evaluation, no Python in the hot path). The dot product is a sequential
left fold in double so DuckDB's list_reduce reproduces it bit-exactly;
vector norms are hoisted (computed once per row, not once per pair) —
the quotient dot/(nrm_a*nrm_b) is the identical expression tree either
way, so results don't change, only the fold count does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import md5_long
from .dedup import _dot, spread_for_compute


def lsh_bucket(vec: Column, planes: int = 8, offset: int = 0) -> Column:
    """Sign-pattern bucket key from ``planes`` components at ``offset``.

    A deterministic stand-in for random-hyperplane LSH (components of a
    trained embedding are near-orthogonal directions already): bit i =
    sign(vec[offset + i]). Cross-engine exact (no RNG), which keeps the
    oracle checkable; swap in hashed random planes for production skew
    control. Bucket count = 2^planes: scale planes UP with corpus size
    (candidate cost) and DOWN when recall matters more than latency.
    ``offset`` gives each table of a multi-table scheme its own
    component range (see ``lsh_topk`` n_tables).

    Raises a descriptive runtime error when a vector is shorter than
    ``offset + planes``: under ANSI mode (Spark 4 default) the bare
    ``element_at`` would abort the job with an obscure
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT, and with ANSI off it would
    silently zero the missing bits — both worse than naming the
    misconfiguration (planes/n_tables too large for the embedding dim).
    """
    need = offset + planes
    bits = [
        F.when(F.element_at(vec, offset + i + 1) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        for i in range(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return (
        # NULL vector -> NULL bucket (never matches a join key), not a
        # raise: size(NULL) is NULL, which would otherwise fall through
        # to the error branch and abort on data the caller's norm
        # filter is about to drop anyway (differential-fuzzer find)
        F.when(vec.isNull(), F.lit(None))
        .when(F.size(vec) >= F.lit(need), out)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("lsh_bucket: vector dim "),
                    F.size(vec).cast("string"),
                    F.lit(
                        f" < {need} required by offset={offset} + "
                        f"planes={planes}; lower planes or n_tables"
                    ),
                )
            )
        )
        .cast("int")
    )


def _sides(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    v = F.col(vec_col)

    def prep(df: DataFrame, role: str) -> DataFrame:
        # zero-norm vectors (failed encodes, padding rows) have no
        # defined cosine to anything: under ANSI mode (Spark 4 default)
        # the division would abort the whole job with DIVIDE_BY_ZERO,
        # so both sides exclude them up front. The DuckDB oracles apply
        # the same norm>0 predicate.
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            v.alias(f"{role}v"),
            F.sqrt(_dot(v, v)).alias(f"{role}n"),
        ).filter(F.col(f"{role}n") > 0)

    # the candidate side carries the per-pair fold work; a single-split
    # scan would score the whole |Q| x |C| space in ONE task
    return prep(spread_for_compute(candidates, id_col), "cand"), prep(
        queries, "query"
    )


def _empty_topk(corpus: DataFrame, score_col: str = "cos_sim") -> DataFrame:
    """The empty top-k relation in the family's contract schema.

    Used when the codebook/centroid sample collects ZERO rows (empty
    or all-NULL/zero-norm corpus — edge-fuzz find, r06): building the
    centroid literal from an empty list types as array<void>, which
    the lambda scorers cannot field-extract. The sample is empty
    exactly when the prepared corpus is, so deriving the frame from
    ``corpus`` keeps the id column's NATIVE type.
    """
    return corpus.select(
        F.col("cand_id").alias("query_id"),
        "cand_id",
        F.lit(0.0).alias(score_col),
        F.lit(0).cast("int").alias("rnk"),
    )


def _rank_topk(scored: DataFrame, k: int, score_col: str = "cos_sim") -> DataFrame:
    """Per-query top-k window shared by every scorer (cosine and ADC):
    one tie-break rule ((score DESC, cand_id ASC)) in one place."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "cand_id", score_col, F.col("rnk").cast("int").alias("rnk")
        )
    )


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query.

    queries is expected to be small (broadcast); the score space is
    |Q| x |C| rows, pruned to top-k per query by a window partitioned
    on the query id — scales with candidate partitioning, never a
    single-task sort.
    """
    c, q = _sides(candidates, queries, id_col, vec_col)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (
                _dot(F.col("queryv"), F.col("candv"))
                / (F.col("queryn") * F.col("candn"))
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def brute_force_topk_arrow(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k via Arrow ``mapInPandas`` + numpy.

    The scale path for WIDE embeddings (dim >= ~256), where a
    vectorized batch product beats the per-row JVM fold: the query
    matrix ships to every task once (driver-collected — queries are
    small by contract), each Arrow batch of candidates scores against
    all queries in one numpy pass, and only scored pairs leave Python.

    Bit-identical to :func:`brute_force_topk` (and its DuckDB oracle)
    because the accumulation is vectorized ACROSS the batch but
    SEQUENTIAL across dims — the same left-to-right float64 add order
    as the ``aggregate`` fold, just SIMD over rows.
    """
    import numpy as np
    import pandas as pd

    # NULL vectors are excluded JVM-side (the same predicate _sides
    # applies on the brute-force path): a None element inside an Arrow
    # batch crashes the np.array build with an inhomogeneous-shape
    # error before the numpy zero-norm guards below can run
    # (differential-fuzzer find)
    candidates = _nonzero_norm(candidates, vec_col)
    queries = _nonzero_norm(queries, vec_col)
    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    if not q_rows:
        # a (0,)-shaped query matrix breaks the dim loops below; the
        # JVM path returns an empty frame here, so match it exactly
        return candidates.sparkSession.createDataFrame(
            [], "query_id long, cand_id long, cos_sim double, rnk int"
        )
    qids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["qv"] for r in q_rows], dtype=np.float32).astype(np.float64)

    def _seq_dot(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
        # rows x rows fold: acc_d+1 = acc_d + a[:,d]*b[:,d] — the exact
        # order F.aggregate / list_reduce use, vectorized over axis 0
        acc = np.zeros((a.shape[0], b.shape[0]))
        for d in range(a.shape[1]):
            acc += np.multiply.outer(a[:, d], b[:, d])
        return acc

    def _seq_norm(m: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(m.shape[0])
        for d in range(m.shape[1]):
            acc += m[:, d] * m[:, d]
        return np.sqrt(acc)

    qn = _seq_norm(qm)
    # zero-norm exclusion, the SAME predicate _sides applies JVM-side:
    # without it numpy yields NaN cosines (0/0) which the window ranks
    # ABOVE every real score — the zero vector silently becomes top-1
    # while the JVM path errors. Filter both sides instead.
    keep = qn > 0
    qids, qm, qn = qids[keep], qm[keep], qn[keep]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(list(pdf["cv"]), dtype=np.float32).astype(np.float64)
            cn = _seq_norm(cm)
            ck = cn > 0
            if not ck.all():
                pdf, cm, cn = pdf[ck], cm[ck], cn[ck]
                if not len(pdf):
                    continue
            cos = _seq_dot(cm, qm) / np.multiply.outer(cn, qn)
            n, m = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, n),
                    "cand_id": np.repeat(pdf["cid"].to_numpy(), m),
                    "cos_sim": cos.ravel(),
                }
            )

    scored = spread_for_compute(candidates, id_col).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    ).mapInPandas(score, "query_id long, cand_id long, cos_sim double")
    return _rank_topk(
        scored.filter(F.col("query_id") != F.col("cand_id")), k
    )


def _cell_cos(c: Column, vec_c: str, nrm_c: str) -> Column:
    """cosine(centroid struct c, row vector) with the row norm hoisted."""
    return _dot(c["cv"], F.col(vec_c)) / (c["cn"] * F.col(nrm_c))


def _double_sql(x: float) -> str:
    """One double as SQL literal text, bit-exact round-trip: Python
    repr is the shortest decimal that re-parses to the same bits, and
    Java's Double.parseDouble is correctly rounded too; non-finite
    values go through their CAST spellings."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _doubles_sql(payload) -> str:
    """Nested float lists rendered as one SQL array(...) literal
    expression. F.lit on a nested list issues one Py4J round-trip PER
    ELEMENT (~1 ms each — measured 2.1 s for a [16][32][4] codebook,
    the dominant cost of BUILDING the PQ plans); parsing a single
    rendered expression is ~10 ms for the identical, bit-exact
    Literal tree (verified down to subnormals/-0.0/±inf/NaN)."""
    if isinstance(payload, (list, tuple)):
        return "array(" + ",".join(_doubles_sql(x) for x in payload) + ")"
    return _double_sql(payload)


def _centroid_literal(cent_rows) -> Column:
    """(cid, cv, cn) centroid structs inlined as ONE array literal —
    index metadata shipped inside the plan, so corpus->cell assignment
    stays a narrow map (shared by ivf_topk / ivf_pq_topk). Rendered as
    a single parsed expression, not per-element F.lit Py4J calls
    (see _doubles_sql)."""
    return F.expr(
        "array("
        + ",".join(
            "named_struct('cid', {cid}L, 'cv', {cv}, 'cn', {cn})".format(
                cid=int(r["cid"]),
                cv=_doubles_sql(list(r["cv"])),
                cn=_double_sql(r["cn"]),
            )
            for r in cent_rows
        )
        + ")"
    )


def _best_cell(cents: Column, vec_c: str, nrm_c: str) -> Column:
    """Nearest-centroid id by cosine argmax fold, ties to smallest cid.

    Each centroid is scored ONCE (transform), then the fold compares
    precomputed (cos, cid) structs — the naive fold re-evaluates the
    dot product in every comparison branch (3x the fold work and a
    3x-wider codegen tree) for identical values.
    """
    init = F.struct(F.lit(-2.0).alias("cos"), F.lit(None).cast("long").alias("cid"))
    cell_scores = F.transform(
        cents,
        lambda c: F.struct(
            _cell_cos(c, vec_c, nrm_c).alias("cos"), c["cid"].alias("cid")
        ),
    )
    return F.aggregate(
        cell_scores,
        init,
        lambda acc, s: F.when(
            (s["cos"] > acc["cos"])
            | ((s["cos"] == acc["cos"]) & (s["cid"] < acc["cid"])),
            s,
        ).otherwise(acc),
    )["cid"]


def _assign_cells_arrow(
    df: DataFrame, vec_c: str, nrm_c: str, cent_rows, cell_col: str = "cell"
) -> DataFrame:
    """Corpus→nearest-cell assignment as one Arrow ``mapInPandas``
    batch product — the same narrow zero-shuffle map as the
    ``_best_cell`` literal fold, ~20× faster per row (measured 1.8 s →
    0.1 s over sf0.1; the interpreted HOF fold costs ~50 µs per
    64-dim centroid comparison, the numpy batch product ~µs per row
    including Arrow transfer — decisive at corpus scale).

    Bit-identical to the JVM fold (the ``brute_force_topk_arrow``
    contract): the accumulation is vectorized ACROSS rows but
    SEQUENTIAL across dims — the exact left-to-right float64 add order
    of ``_dot`` — and cosine denominators multiply in the fold's
    operand order, so every cosine matches bit-for-bit and the argmax
    cannot diverge. Tie-break parity: the fold keeps (max cos, then
    smallest cid); centroids here sort by cid ascending and
    ``argmax`` returns the first maximum = the smallest cid. Spark's
    non-IEEE NaN ordering (NaN above +inf, NaN == NaN) is mirrored
    explicitly — see the kernel comment. Rows the fold could never
    assign (vector length ≠ centroid dim → NULL products; all
    cosines genuinely -inf) get a NULL cell exactly like the fold's
    untouched init accumulator.

    Callers must pre-apply ``_nonzero_norm`` (NULL elements / NULL
    vectors / zero norms are excluded there — a None inside an Arrow
    batch would break the matrix build, the documented
    ``brute_force_topk_arrow`` contract).
    """
    import numpy as np
    import pandas as pd

    # keep zero-norm centroids (the fold's ±inf/NaN division semantics
    # are IEEE, same as numpy's); drop only NULL-norm rows, which the
    # fold can never select (NULL comparisons are never true)
    rows = sorted(
        (r for r in cent_rows if r["cn"] is not None),
        key=lambda r: r["cid"],
    )
    spark_fields = df.schema.fields
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in spark_fields]
        + [f"`{cell_col}` bigint"]
    )
    if not rows:
        return df.withColumn(cell_col, F.lit(None).cast("long"))
    dims = {len(r["cv"]) for r in rows}
    if len(dims) > 1:
        # fail with a NAMED error instead of numpy's opaque
        # inhomogeneous-shape ValueError (the lsh_bucket_dim_guard
        # convention): a mixed-dimension embedding corpus is a data
        # bug the caller must fix, not score around
        raise ValueError(
            "centroid vectors have mixed dimensions "
            f"{sorted(dims)}; the embedding corpus must be "
            "uniform-dimension to build an ANN index"
        )
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    cm = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    cn = np.array([r["cn"] for r in rows], dtype=np.float64)
    d = cm.shape[1]

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # the fold yields NULL for any row whose vector length
            # differs from the centroid dim (zip_with pads with NULL →
            # NULL products poison the sum); mask those out so the
            # batch matrix stays rectangular, and tag them NULL cell
            # like the fold would (no second JVM scan for the split)
            ok = (
                np.fromiter(
                    (len(v) for v in pdf[vec_c]), dtype=np.int64,
                    count=len(pdf),
                )
                == d
            )
            cells = pd.array([pd.NA] * len(pdf), dtype="Int64")
            if ok.any():
                sub = pdf[vec_c][ok]
                vm = np.array(
                    [np.asarray(v, dtype=np.float64) for v in sub]
                )
                acc = np.zeros((len(vm), len(cids)))
                for dd in range(d):
                    acc += np.multiply.outer(vm[:, dd], cm[:, dd])
                with np.errstate(invalid="ignore", over="ignore"):
                    cos = acc / np.multiply.outer(
                        pdf[nrm_c].to_numpy(dtype=np.float64)[ok], cn
                    )
                # Spark comparison semantics (NOT IEEE): NaN is LARGER
                # than every value incl. +inf, and NaN == NaN — so the
                # fold picks the smallest cid among NaN cosines when any
                # exist, else the plain argmax. Genuine -inf is never
                # selected (-inf > -2.0 init is false): a row whose
                # cosines are ALL -inf (and none NaN) keeps the fold's
                # NULL init.
                nan = np.isnan(cos)
                has_nan = nan.any(axis=1)
                cos2 = np.where(nan, -np.inf, cos)
                idx = np.where(
                    has_nan,
                    np.argmax(nan, axis=1),
                    np.argmax(cos2, axis=1),
                )
                best = pd.array(cids[idx], dtype="Int64")
                best[~has_nan & (cos2 == -np.inf).all(axis=1)] = pd.NA
                cells[ok] = best
            out = pdf.copy()
            out[cell_col] = cells
            yield out

    return df.mapInPandas(assign, out_schema)


def _nonzero_norm(df: DataFrame, vec_col: str) -> DataFrame:
    """Exclude zero-norm vectors — no defined cosine direction; under
    ANSI mode the division aborts the job. Oracles mirror the predicate."""
    v = F.col(vec_col)
    return df.filter(_dot(v, v) > 0)


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    train_sample: int = 0,
    train_iters: int = 8,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    ``train_sample > 0`` swaps the md5-sample centroids for spherical
    k-means centroids trained on that many md5-sampled rows
    (``train_ivf_centroids``) — same plan shape and query cost, higher
    recall (curve in docs/SCALE.md); the md5 form stays the
    oracle-exact catalog path.

    Coarse quantizer: ``n_cells`` corpus vectors chosen by smallest
    md5(id) — a seeded random sample in disguise, so the DuckDB oracle
    can re-derive the identical centroid set (production swaps in
    k-means centroids; the plan shape below is unchanged). The
    centroids are collected once (n_cells x dim floats — index
    metadata, exactly what a real ANN index stores beside the data) and
    inlined as literals, which makes corpus->cell assignment a PURE
    NARROW MAP: an ``aggregate`` argmax fold over the literal centroid
    array, zero shuffle over the corpus at any scale. Each query probes
    its ``nprobe`` nearest cells and scores only those cells' vectors
    (~nprobe/n_cells of the corpus), joined cell-to-cell with the
    probe side broadcast.
    """
    v = F.col(vec_col)
    candidates = _nonzero_norm(candidates, vec_col)
    corpus = spread_for_compute(candidates, id_col).select(
        F.col(id_col).alias("cand_id"),
        v.alias("candv"),
        F.sqrt(_dot(v, v)).alias("candn"),
    )
    cent_rows = (
        train_ivf_centroids(
            candidates, id_col, vec_col, n_cells, train_sample, train_iters
        )
        if train_sample
        else _pq_sample_rows(
            candidates, id_col, vec_col, n_cells, with_norm=True
        )
    )
    if not cent_rows:
        return _empty_topk(corpus)
    cents = _centroid_literal(cent_rows)
    # corpus-side assignment: Arrow batch product (bit-identical to the
    # _best_cell fold, ~20× faster per row — see _assign_cells_arrow);
    # the literal-fold form stays on the tiny query-side probe ranking
    # below, where |Q| × n_cells rows don't justify a Python stage
    assigned = _assign_cells_arrow(corpus, "candv", "candn", cent_rows)

    q = _nonzero_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        v.alias("queryv"),
        F.sqrt(_dot(v, v)).alias("queryn"),
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell"))
    probes = (
        q.select("*", F.explode(cents).alias("c"))
        .select(
            "query_id",
            "queryv",
            "queryn",
            F.col("c.cid").alias("cell"),
            _cell_cos(F.col("c"), "queryv", "queryn").alias("ccos"),
        )
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= nprobe)
        .select("query_id", "queryv", "queryn", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (
                _dot(F.col("queryv"), F.col("candv"))
                / (F.col("queryn") * F.col("candn"))
            ).alias("cos_sim"),
        )
    )
    # pair grain ("each cand_id at most once per query"), the family
    # contract shared with lsh_topk: duplicate input rows — candidate,
    # query, or sampled-centroid duplicates doubling a probed cell —
    # would otherwise occupy several top-k slots, and the oracles'
    # row-collapsing argmin assignments would disagree on the grain
    # (differential-fuzzer find); scalar rows, map-combined
    scored = scored.groupBy("query_id", "cand_id").agg(
        F.max("cos_sim").alias("cos_sim")
    )
    return _rank_topk(scored, k)


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing a bucket with
    the query in at least one of ``n_tables`` LSH tables.

    The bucket equi-join replaces the cross join — at 1B vectors with
    2^planes buckets, each query scores ~``n_tables``/2^planes of the
    corpus. Single-table sign-LSH recall falls fast as neighbors get
    weakly concentrated (high-dim, near-random corpora); the standard
    amplification is OR-ing L independent tables — each table t hashes
    its own component range [t*planes, (t+1)*planes), a collision in
    ANY table makes a candidate pair, so recall goes 1-(1-p)^L per the
    classic LSH analysis (measured on this corpus: 0.16 -> 0.68
    recall@10 from L=1 to L=8 at planes=4; docs/SCALE.md).

    Plan shape: each side explodes into (table, bucket) rows (narrow),
    the join key is (table, bucket), and a pair that collides in
    several tables is scored once per collision then deduped by a
    (query_id, cand_id) max-aggregate — scalar rows, one cheap shuffle,
    far lighter than carrying vectors through a pre-score dedup.
    requires dim >= n_tables * planes (lsh_bucket raises a descriptive
    error otherwise).
    """
    c, q = _sides(candidates, queries, id_col, vec_col)

    def with_tables(df: DataFrame, vec: str) -> DataFrame:
        tb = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        lsh_bucket(F.col(vec), planes, t * planes).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb")
        return df.select("*", tb).select(
            *df.columns, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
        )

    scored = (
        with_tables(c, "candv")
        .join(F.broadcast(with_tables(q, "queryv")), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (
                _dot(F.col("queryv"), F.col("candv"))
                / (F.col("queryn") * F.col("candn"))
            ).alias("cos_sim"),
        )
    )
    # unconditional (not just n_tables > 1): the pair grain is the
    # contract — "each cand_id at most once per query" — and duplicate
    # INPUT ids would otherwise occupy several top-k slots in the
    # single-table form too (differential-fuzzer find); scalar rows,
    # map-combined, negligible at any scale
    scored = scored.groupBy("query_id", "cand_id").agg(
        F.max("cos_sim").alias("cos_sim")
    )
    return _rank_topk(scored, k)


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_term_freq: int | None = None,
) -> DataFrame:
    """All (a < b) doc pairs with term-frequency cosine >= threshold.

    The weighted sibling of ``dedup.ngram_jaccard_pairs``: word n-grams
    WITH multiplicity, cosine = dot(tf_a, tf_b) / (|tf_a| |tf_b|).
    Sparse inverted-index join — per-term posting lists emit (a, b,
    tf_a*tf_b) products via array HOFs (one shuffle keyed by term, no
    self-join), then one groupBy sums the integer dot products.

    Determinism: tf counts, dots and squared norms are all BIGINT-exact;
    the only float op is the final sqrt/divide, computed identically by
    the DuckDB oracle. ``max_term_freq`` is the scale guard: it caps the
    posting-list length so the quadratic per-term emit is bounded (the
    same frequency cut as minhash's hot-shingle cap).

    Terms are md5-folded to 60-bit longs BEFORE the two groupBys, so
    both shuffles carry 8-byte keys instead of n-word strings (the
    minhash trick); the oracle applies the identical fold, so any
    collision — ~2^-60 per pair — would be shared, not a divergence.

    The squared norms ride the SAME posting-list shuffle as the dots:
    each posting list also emits its diagonal self-pairs (doc, doc,
    tf^2), so nsq(doc) falls out of the one pair aggregation as the
    doc_a == doc_b rows, then broadcast-joins back onto the
    off-diagonal pairs from the checkpointed aggregate (see inline
    note) — the pair volume is shuffled exactly once.
    """
    # tokenize ONCE into a projected column: higher-order functions run
    # interpreted (no codegen subexpression elimination), so an inline
    # split() would re-tokenize per gram — O(words^2) per doc, measured
    # 3x on the gram stage. spread_for_compute unlocks multi-core work
    # when the scan has fewer splits than cores (single-row-group file).
    w = F.col("_w")
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tf = (
        spread_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.split(F.col(text_col), " ").alias("_w"),
        )
        .select("doc", F.explode(grams).alias("g"))
        .select("doc", md5_long(F.col("g")).alias("term"))
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if max_term_freq is not None:
        cold = (
            tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df_cnt"))
            .filter(F.col("df_cnt") <= max_term_freq)
            .select("term")
        )
        tf = tf.join(cold, "term")
    posting = tf.groupBy("term").agg(
        F.sort_array(F.collect_list(F.struct("doc", "tf"))).alias("ps")
    )
    # pairs i <= j: i == j contributes the diagonal (self) tf^2 terms
    # that sum to the squared norm; i < j the cross dot products
    combos = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 1, F.size(F.col("ps"))),
                lambda y: F.struct(
                    x["doc"].alias("doc_a"),
                    y["doc"].alias("doc_b"),
                    (x["tf"] * y["tf"]).alias("prod"),
                ),
            ),
        )
    )
    # The aggregated pair table is lazily localCheckpoint'ed so the
    # diagonal (doc, doc) rows — the squared norms — can be re-read
    # from the materialized result instead of recomputing the whole
    # gram/md5/posting lineage per reference. Norms are |docs| scalar
    # rows, so they broadcast onto the off-diagonal pairs with ZERO
    # additional exchanges: the pair volume crosses the network once
    # (the aggregation), where the previous two-window form shuffled it
    # twice more (measured 3.5s -> 3.3s at sf0.1; at real pair volumes
    # the two saved pair-table exchanges dominate). A norms-subquery
    # join without the checkpoint was measured 3x tf work + 1 shuffle
    # worse (Catalyst recomputes uncached shared lineage).
    sums = (
        posting.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.sum("p.prod").alias("dot"))
        .localCheckpoint(eager=False)
    )
    norms = sums.filter(F.col("doc_a") == F.col("doc_b")).select(
        F.col("doc_a").alias("doc"), F.col("dot").alias("nsq")
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("nsq").alias("nsq_a"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("nsq").alias("nsq_b"))
    cos = F.col("dot").cast("double") / (F.sqrt("nsq_a") * F.sqrt("nsq_b"))
    return (
        sums.filter(F.col("doc_a") != F.col("doc_b"))
        .join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .select("doc_a", "doc_b", "dot", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def label_centroid_arrays(
    df: DataFrame, group_col: str, id_col: str, vec_col: str
) -> DataFrame:
    """(label, n_vecs, centroid array<double>, l2) — the un-exploded
    form of :func:`label_centroids` (same deterministic sorted-id
    fold; see its docstring for the contract). The array form feeds
    centroid-consuming operators (:func:`mislabel_flags`); the
    exploded form is the catalog/oracle surface."""
    df = df.filter(
        F.col(group_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    sv = F.array_sort(
        F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v")))
    )
    grouped = df.groupBy(F.col(group_col).alias("grp")).agg(sv.alias("sv"))
    dv = F.transform(
        F.col("sv"), lambda s: F.transform(s["v"], lambda x: x.cast("double"))
    )
    n = F.size(dv)
    summed = F.aggregate(
        F.slice(dv, 2, n - 1),
        F.element_at(dv, 1),
        lambda acc, b: F.zip_with(acc, b, lambda x, y: x + y),
    )
    centroid = F.transform(summed, lambda s: s / n)
    l2 = F.sqrt(
        F.aggregate(centroid, F.lit(0.0), lambda a, x: a + x * x)
    )
    return grouped.select(
        F.col("grp").alias("label"),
        n.cast("bigint").alias("n_vecs"),
        centroid.alias("centroid"),
        l2.alias("l2"),
    )


def label_centroids(
    df: DataFrame, group_col: str, id_col: str, vec_col: str
) -> DataFrame:
    """Per-group embedding centroid + L2 norm, exploded to (group, dim).

    Pooling = element-wise mean over the group's vectors folded in a
    DETERMINISTIC order (sorted by id, sequential zip_with adds) so the
    result is independent of partitioning and bit-identical to the
    DuckDB oracle's list_reduce — the same determinism contract as the
    engine's decimal aggregates, applied to float vectors.

    Scale: one groupBy shuffle carrying the raw vectors; group state is
    |group| x dim doubles, fine for label/category-sized groups. For
    groups of millions of vectors swap the fold for the two-phase
    dim-sequential sum used by similarity_topk_arrow (same result,
    tree-sized state) — the output contract stays identical.

    Unlabeled rows and NULL vectors are excluded: a NULL group key is
    not a label, and one NULL vector inside the fold poisons the whole
    centroid to NULL — posexplode then silently DELETES that group
    from the output while the oracle keeps a NULL-valued one
    (differential-fuzzer find); the oracle mirrors the predicate.
    """
    return (
        label_centroid_arrays(df, group_col, id_col, vec_col)
        .select(
            "label",
            "n_vecs",
            F.posexplode("centroid").alias("dim", "c"),
            "l2",
        )
        .select("label", "n_vecs", F.col("dim").cast("int").alias("dim"), "c", "l2")
    )


def mislabel_flags(
    df: DataFrame, group_col: str, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, own_label, best_label, is_mislabeled): label-noise
    detection by class prototype — confident-learning lite. A vector
    whose nearest per-label centroid (cosine argmax, ties to smallest
    label) is not its OWN label is flagged; at corpus scale these
    flags drive relabel/drop queues before supervised training.

    Composition of two already-audited pieces, so the scale shape is
    inherited: centroids come from :func:`label_centroid_arrays` (one
    groupBy shuffle, deterministic sorted-id fold), are O(|labels|)
    rows collected driver-side (the IVF codebook pattern —
    bounded-cardinality index metadata, not data), and assignment is
    :func:`_assign_cells_arrow`'s zero-shuffle Arrow batch product
    over the corpus. Zero-l2 centroids are excluded (no defined
    cosine; mirrors the family's norm>0 convention), as are unlabeled
    or zero-norm vectors; a vector with no scorable centroid (e.g.
    dim mismatch) is dropped, matching the oracle's cos IS NOT NULL.
    """
    label_t = dict(df.dtypes)[group_col]
    if label_t not in ("tinyint", "smallint", "int", "bigint"):
        # centroids become integer cell ids in the Arrow kernel; a
        # string/float label would crash there with an opaque numpy
        # error — fail with a named contract instead (encode labels
        # to ids first)
        raise ValueError(
            f"mislabel_flags requires an integer label column; got "
            f"{group_col}: {label_t}"
        )
    cents = (
        label_centroid_arrays(df, group_col, id_col, vec_col)
        .filter(F.col("l2") > 0)
        .select(
            F.col("label").cast("long").alias("cid"),
            F.col("centroid").alias("cv"),
            F.col("l2").alias("cn"),
        )
    )
    # centroids are built once per corpus snapshot and reused across
    # plan builds (see _SAMPLE_CACHE)
    key = _index_cache_key(cents, "label_centroids")
    cent_rows = _SAMPLE_CACHE.get(key)
    if cent_rows is None:
        cent_rows = cents.collect()
        if key is not None:
            if len(_SAMPLE_CACHE) >= _SAMPLE_CACHE_MAX:
                _SAMPLE_CACHE.clear()
            _SAMPLE_CACHE[key] = cent_rows
    v = F.col(vec_col)
    base = _nonzero_norm(df.filter(F.col(group_col).isNotNull()), vec_col)
    corpus = spread_for_compute(base, id_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(group_col).alias("own_label"),
        v.alias("v"),
        F.sqrt(_dot(v, v)).alias("vn"),
    )
    assigned = _assign_cells_arrow(corpus, "v", "vn", cent_rows, cell_col="best")
    # best_label carries the INPUT label type (cell ids are the labels
    # themselves, so the long->label_t cast is lossless by
    # construction — no int32 truncation for wide label domains)
    return assigned.filter(F.col("best").isNotNull()).select(
        "vec_id",
        "own_label",
        F.col("best").cast(label_t).alias("best_label"),
        (F.col("best") != F.col("own_label").cast("long")).alias(
            "is_mislabeled"
        ),
    )


#: label-centroid rows keyed on (plan identity, source files, file
#: mtimes+sizes, params): :func:`mislabel_flags` collects them once per
#: corpus snapshot and reuses them across plan builds in this process
#: (3 jobs warm vs 5 cold at sf0.01); any change to the source files or
#: the feeding plan changes the key. In-process only — a fresh process
#: pays one collect.
_SAMPLE_CACHE: dict = {}
_SAMPLE_CACHE_MAX = 64


def canon_plan_str(df: DataFrame):
    """Canonicalized analyzed-plan STRING, or None when it cannot be
    produced. The one shared spelling of the idiom (r10 review: three
    hand-rolled copies had drifted on the failure fallback). The
    ANALYZED plan is canonicalized, not the unresolved one: there a
    higher-order lambda's variable carries a name from a JVM-global
    counter (``x_1`` on one build, ``x_45`` on the next), while the
    analyzer's canonical form prints every lambda variable and
    attribute by position, so repeated builds of one frame compare
    equal. NOTE for cache keys: a LocalRelation
    (createDataFrame) canonicalizes WITHOUT its data (only the output
    schema prints), so a canon string alone never identifies
    in-memory data — pair it with input-file stamps
    (:func:`_index_cache_key`) and treat file-less sources as
    uncacheable."""
    try:
        return (
            df._jdf.queryExecution().analyzed().canonicalized().toString()
        )
    except Exception:
        return None


def _index_cache_key(candidates: DataFrame, *params):
    try:
        files = tuple(sorted(candidates.inputFiles()))
    except Exception:
        return None
    if not files:
        # in-memory / non-file sources: content identity is unknowable
        # from the plan alone — never cache
        return None
    import os

    def stamp(uri: str):
        # mtime AND size: an in-place rewrite within mtime granularity
        # (or an mtime-preserving copy) would reuse stale index rows on
        # mtime alone (ADVICE r08); size catches most such rewrites
        path = uri[7:] if uri.startswith("file://") else uri
        try:
            st = os.stat(path)
        except OSError:
            return None
        return (st.st_mtime, st.st_size)

    # sha256 of the canonicalized-plan STRING, not semanticHash() (see
    # canon_plan_str)
    import hashlib

    canon = canon_plan_str(candidates)
    if canon is None:
        return None
    plan_id = hashlib.sha256(canon.encode()).hexdigest()[:16]
    return (plan_id, files, tuple(stamp(f) for f in files), params)


def _pq_sample_rows(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    n: int,
    with_norm: bool = False,
):
    """The deterministic codebook sample both PQ-family quantizers
    share: the ``n`` md5-smallest corpus rows, collected in md5 order
    (a prefix-closed ordering — the first n_cells of a max(n_cells,
    n_codes) collect ARE the n_cells sample, so composed indexes pay
    one collect, not one per quantizer)."""
    v = F.col(vec_col)
    cols = [F.col(id_col).alias("cid"), v.alias("cv")]
    if with_norm:
        cols.append(F.sqrt(_dot(v, v)).alias("cn"))
    # NULL ids are excluded from the sample: they have no stable md5
    # sample position (Spark sorts NULLS FIRST, DuckDB LAST) and the
    # rendered literal / Arrow matrix build requires int ids —
    # int(None) was a latent plan-build crash (r08 review find). The
    # ANN oracles' cents CTEs mirror the predicate.
    return (
        candidates.filter(F.col(id_col).isNotNull())
        .select(*cols)
        .orderBy(md5_long(F.col("cid").cast("string")), F.col("cid"))
        .limit(n)
        .collect()
    )


def _pq_codebook_literal(code_rows, m: int, sub: int):
    """ONE nested literal [m][n_codes][sub] and data-driven HOF loops:
    unrolling m x n_codes separate fold expressions in Python blew
    past the whole-stage-codegen method limit and fell back to
    interpreted evaluation — measured 33s vs ~1s for identical math
    at sf0.1. Rendered as one parsed expression (F.lit on the nested
    list cost 2.1 s of Py4J round-trips per plan BUILD — see
    _doubles_sql)."""
    return F.expr(
        _doubles_sql(
            [
                [[float(x) for x in r["cv"][s * sub:(s + 1) * sub]]
                 for r in code_rows]
                for s in range(m)
            ]
        )
    )


def _lloyd_np(X, k: int, iters: int, spherical: bool = False):
    """Deterministic Lloyd's k-means over a SMALL sampled matrix,
    driver-side (numpy float64). This is deliberately not the
    distributed ``operators.clustering.kmeans_lloyd``: a codebook
    trains on a bounded sample (k x dim index metadata, the classic
    IVF/PQ recipe — Jegou et al. 2011 train on ~100k of billions), so
    m x iters Spark jobs would buy nothing but scheduling overhead.
    Determinism mirrors the distributed operator's rules: init = the
    first k rows (callers pass the md5-ordered sample, so the md5
    codebook IS the iteration-0 state and training is a strict
    refinement), argmin ties go to the smallest index (numpy argmin
    contract), empty clusters keep their previous centroid.
    ``spherical``: renormalize centroids after each update (cosine
    objective for IVF cells); zero-norm means keep the previous
    centroid."""
    import numpy as np

    C = X[:k].astype(np.float64).copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(len(C)):
            members = X[a == j]
            if not len(members):
                continue
            c = members.mean(axis=0)
            if spherical:
                n = float(np.sqrt((c * c).sum()))
                if n <= 0.0:
                    continue
                c = c / n
            C[j] = c
    return C


def train_pq_codebooks(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    n_codes: int,
    sample_n: int = 256,
    iters: int = 8,
):
    """Per-subspace k-means PQ codebooks: the md5-smallest ``sample_n``
    corpus vectors train ``m`` independent Lloyd runs (one per
    subspace slice). Returns the nested ``[m][n_codes][sub]`` literal
    payload, or None on an empty corpus. No SQL oracle can re-derive
    a k-means fit, so the catalog keeps the md5 sample codebook as its
    oracle-exact form; this is the measured-recall production path
    (curves in docs/SCALE.md)."""
    import numpy as np

    rows = _pq_sample_rows(candidates, id_col, vec_col, sample_n)
    if not rows:
        return None
    X = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    k = min(n_codes, len(rows))
    return [
        [
            [float(x) for x in c]
            for c in _lloyd_np(X[:, s * sub:(s + 1) * sub], k, iters)
        ]
        for s in range(m)
    ]


def train_ivf_centroids(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    sample_n: int = 512,
    iters: int = 8,
):
    """Spherical k-means IVF centroids (cosine objective: sample rows
    are unit-normalized and centroids renormalize each round) trained
    on the md5-smallest ``sample_n`` corpus vectors. Returns
    ``_centroid_literal``-shaped rows with integer cell ids 0..k-1 and
    unit norms."""
    import numpy as np

    rows = _pq_sample_rows(candidates, id_col, vec_col, sample_n)
    if not rows:
        return []
    dims = {len(r["cv"]) for r in rows}
    if len(dims) > 1:
        # named error, not numpy's inhomogeneous-shape ValueError
        # (see _assign_cells_arrow's identical guard)
        raise ValueError(
            "training sample has mixed embedding dimensions "
            f"{sorted(dims)}; the corpus must be uniform-dimension"
        )
    X = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    norms = np.sqrt((X * X).sum(axis=1))
    X = X[norms > 0]
    if not len(X):
        return []
    X = X / np.sqrt((X * X).sum(axis=1))[:, None]
    C = _lloyd_np(X, min(n_cells, len(X)), iters, spherical=True)
    return [
        {"cid": i, "cv": [float(x) for x in c], "cn": 1.0}
        for i, c in enumerate(C)
    ]


def _pq_subvec(vec, s, sub: int):
    # element_at arithmetic instead of slice(): start offsets are
    # lambda-variable Columns, which slice() does not accept
    return F.transform(
        F.sequence(F.lit(1), F.lit(sub)),
        lambda i: F.element_at(vec, (s * sub + i).cast("int")).cast(
            "double"
        ),
    )


def _pq_encode(vec, cb_lit, m: int, n_codes: int, sub: int):
    """argmin-L2 fold per subspace over the literal codebook — the
    narrow map that compresses a vector to m small codes; ties break
    to the smallest code index."""
    init = F.struct(
        F.lit(float("inf")).alias("d2"), F.lit(-1).alias("j")
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_codes - 1)),
                lambda j: F.struct(
                    F.aggregate(
                        F.zip_with(
                            _pq_subvec(vec, s, sub),
                            F.element_at(
                                F.element_at(cb_lit, (s + 1).cast("int")),
                                (j + 1).cast("int"),
                            ),
                            lambda x, c: (x - c) * (x - c),
                        ),
                        F.lit(0.0),
                        lambda a, t: a + t,
                    ).alias("d2"),
                    j.cast("int").alias("j"),
                ),
            ),
            init,
            lambda acc, sc: F.when(
                (sc["d2"] < acc["d2"])
                | ((sc["d2"] == acc["d2"]) & (sc["j"] < acc["j"])),
                sc,
            ).otherwise(acc),
        )["j"],
    )


def _pq_lut(vec, cb_lit, m: int, n_codes: int, sub: int):
    """Per-query ADC lookup table: m x n_codes subspace dot products
    from the same codebook literals, computed row-locally."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(n_codes - 1)),
            lambda j: F.aggregate(
                F.zip_with(
                    _pq_subvec(vec, s, sub),
                    F.element_at(
                        F.element_at(cb_lit, (s + 1).cast("int")),
                        (j + 1).cast("int"),
                    ),
                    lambda x, c: x * c,
                ),
                F.lit(0.0),
                lambda a, t: a + t,
            ),
        ),
    )


def pq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    train_sample: int = 0,
    train_iters: int = 8,
) -> DataFrame:
    """Product-quantization (PQ) approximate top-k with ADC scoring
    (Jegou/Douze/Schmid, "Product quantization for nearest neighbor
    search", PAMI 2011).

    Codebooks: the vector splits into ``m`` subspaces; each subspace's
    ``n_codes`` codewords are the corresponding slices of n_codes
    corpus vectors chosen by smallest md5(id) — the same seeded-sample-
    in-disguise as ``ivf_topk``, so the DuckDB oracle re-derives them
    (production swaps in per-subspace k-means; the plan shape is
    unchanged). Encode: argmin-L2 fold over the LITERAL codebook per
    subspace — a narrow map that compresses each vector to m small
    codes (64 floats -> 4 codes here: the ~64x index-memory trick real
    PQ deployments bank on). ADC: each query precomputes its
    m x n_codes lookup table of subspace dot products row-locally from
    the same literals; a (query, candidate) score is then m table
    lookups + adds instead of d multiplies.

    Scoring is EXHAUSTIVE over candidates by contract — PQ is a
    compression scheme, not a pruning scheme; compose with IVF cells
    (or LSH buckets) for candidate pruning at scale. All folds are
    sequential left-folds in double, so adc_score is bit-reproducible
    by the oracle.
    """
    v = F.col(vec_col)
    # NULL / zero-norm vectors cannot be encoded: a NULL vec leaves the
    # argmin fold at its -1 sentinel and the ADC lookup indexes 0
    # (INVALID_INDEX_OF_ZERO — differential-fuzzer find). Same
    # _nonzero_norm convention as every other path in this family; the
    # oracle mirrors norm > 0.
    candidates = _nonzero_norm(candidates, vec_col)
    queries = _nonzero_norm(queries, vec_col)
    if train_sample:
        books = train_pq_codebooks(
            candidates, id_col, vec_col, m, n_codes, train_sample,
            train_iters,
        )
        if books is None:
            return _empty_topk(
                candidates.select(F.col(id_col).alias("cand_id")),
                score_col="adc_score",
            )
        n_codes, sub = len(books[0]), len(books[0][0])
        cb_lit = F.expr(_doubles_sql(books))
    else:
        code_rows = sorted(
            _pq_sample_rows(candidates, id_col, vec_col, n_codes),
            key=lambda r: r["cid"],
        )
        if not code_rows:
            return _empty_topk(
                candidates.select(F.col(id_col).alias("cand_id")),
                score_col="adc_score",
            )
        d = len(code_rows[0]["cv"])
        if d % m != 0:
            raise ValueError(f"dim {d} not divisible by m={m} subspaces")
        sub = d // m
        cb_lit = _pq_codebook_literal(code_rows, m, sub)

    cands = spread_for_compute(candidates, id_col).select(
        F.col(id_col).alias("cand_id"),
        _pq_encode(v, cb_lit, m, n_codes, sub).alias("code"),
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        _pq_lut(v, cb_lit, m, n_codes, sub).alias("lut"),
    )
    scored = (
        cands.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.aggregate(
                F.zip_with(
                    F.col("code"),
                    F.col("lut"),
                    lambda c, row: F.element_at(row, c + 1),
                ),
                F.lit(0.0),
                lambda a, t: a + t,
            ).alias("adc_score"),
        )
    )
    # pair grain ("each cand_id at most once per query"), the family
    # contract shared with lsh_topk: duplicate input rows — candidate,
    # query, or sampled-centroid duplicates doubling a probed cell —
    # would otherwise occupy several top-k slots, and the oracles'
    # row-collapsing argmin assignments would disagree on the grain
    # (differential-fuzzer find); scalar rows, map-combined
    scored = scored.groupBy("query_id", "cand_id").agg(
        F.max("adc_score").alias("adc_score")
    )
    return _rank_topk(scored, k, score_col="adc_score")


def ivf_pq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 16,
    n_codes: int = 32,
    train_sample: int = 0,
    train_iters: int = 8,
) -> DataFrame:
    """IVF-PQ: the classic production ANN layout — IVF cells PRUNE the
    candidate set (each query scores ~nprobe/n_cells of the corpus),
    PQ codes COMPRESS the scoring inside the probed cells (m table
    lookups per pair instead of d multiplies, and the index stores m
    small codes per vector instead of d floats).

    Both quantizers use the md5-smallest corpus sample as their
    deterministic codebook stand-in (``ivf_topk`` / ``pq_topk``
    conventions, so the DuckDB oracle re-derives everything); corpus
    cell assignment and PQ encoding are one narrow map over literal
    codebooks — an index build with zero corpus shuffle. The only
    exchange is the broadcast probe join keyed by cell.
    """
    v = F.col(vec_col)
    # cosine cell assignment is undefined for zero-norm vectors (and
    # aborts under ANSI): both sides — including the shared codebook
    # sample — draw from the norm-filtered corpus, like ivf_topk.
    candidates = _nonzero_norm(candidates, vec_col)
    # ONE corpus sample feeds BOTH quantizers: the md5 ordering is
    # prefix-closed, so the first n_cells rows of a max(n_cells,
    # n_codes) collect are exactly the IVF sample and the first
    # n_codes rows the PQ sample — one TakeOrdered scan at index
    # build instead of two.
    sample_rows = _pq_sample_rows(
        candidates, id_col, vec_col, max(n_cells, n_codes), with_norm=True
    )
    if not sample_rows:
        return _empty_topk(
            candidates.select(F.col(id_col).alias("cand_id")),
            score_col="adc_score",
        )
    if train_sample:
        # trained index (no SQL oracle): spherical-k-means cells +
        # per-subspace-k-means codebooks, same plan shape / query cost
        cent_rows = train_ivf_centroids(
            candidates, id_col, vec_col, n_cells, train_sample,
            train_iters,
        )
        books = train_pq_codebooks(
            candidates, id_col, vec_col, m, n_codes, train_sample,
            train_iters,
        )
        if not cent_rows or books is None:
            return _empty_topk(
                candidates.select(F.col(id_col).alias("cand_id")),
                score_col="adc_score",
            )
        cell_rows = cent_rows
        cents = _centroid_literal(cell_rows)
        n_codes, sub = len(books[0]), len(books[0][0])
        cb_lit = F.expr(_doubles_sql(books))
    else:
        # ---- IVF coarse quantizer (cosine argmax, ivf_topk convention)
        cell_rows = sample_rows[:n_cells]
        cents = _centroid_literal(cell_rows)

        # ---- PQ fine quantizer (pq_topk convention: cid-ordered sample)
        code_rows = sorted(sample_rows[:n_codes], key=lambda r: r["cid"])
        d = len(code_rows[0]["cv"])
        if d % m != 0:
            raise ValueError(f"dim {d} not divisible by m={m} subspaces")
        sub = d // m
        cb_lit = _pq_codebook_literal(code_rows, m, sub)

    # coarse assignment via the Arrow batch product (bit-identical to
    # the _best_cell fold — see _assign_cells_arrow), then the PQ
    # encode fold JVM-side: two chained narrow maps, zero shuffle
    assigned = _assign_cells_arrow(
        spread_for_compute(candidates, id_col).select(
            F.col(id_col).alias("cand_id"),
            v.alias("v"),
            F.sqrt(_dot(v, v)).alias("nrm"),
        ),
        "v",
        "nrm",
        cell_rows,
    ).select(
        "cand_id",
        "cell",
        _pq_encode(F.col("v"), cb_lit, m, n_codes, sub).alias("code"),
    )

    q = _nonzero_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        v.alias("v"),
        F.sqrt(_dot(v, v)).alias("nrm"),
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell"))
    probes = (
        q.select("query_id", "v", F.explode(cents).alias("c"),
                 F.col("nrm"))
        .select(
            "query_id",
            "v",
            F.col("c.cid").alias("cell"),
            _cell_cos(F.col("c"), "v", "nrm").alias("ccos"),
        )
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= nprobe)
        .select(
            "query_id",
            "cell",
            _pq_lut(F.col("v"), cb_lit, m, n_codes, sub).alias("lut"),
        )
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.aggregate(
                F.zip_with(
                    F.col("code"),
                    F.col("lut"),
                    lambda c, row: F.element_at(row, c + 1),
                ),
                F.lit(0.0),
                lambda a, t: a + t,
            ).alias("adc_score"),
        )
    )
    # pair grain ("each cand_id at most once per query"), the family
    # contract shared with lsh_topk: duplicate input rows — candidate,
    # query, or sampled-centroid duplicates doubling a probed cell —
    # would otherwise occupy several top-k slots, and the oracles'
    # row-collapsing argmin assignments would disagree on the grain
    # (differential-fuzzer find); scalar rows, map-combined
    scored = scored.groupBy("query_id", "cand_id").agg(
        F.max("adc_score").alias("adc_score")
    )
    return _rank_topk(scored, k, score_col="adc_score")
