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

from ..functions.scalar import md5_long, md5_long_expr
from .dedup import _dot_sql, spread_for_compute


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
            F.expr(f"sqrt({_dot_sql(vec_col, vec_col)})").alias(f"{role}n"),
        ).filter(F.col(f"{role}n") > 0)

    # the candidate side carries the per-pair fold work; a single-split
    # scan would score the whole |Q| x |C| space in ONE task
    return prep(spread_for_compute(candidates, id_col), "cand"), prep(
        queries, "query"
    )


#: cosine of a (query, candidate) row with both norms hoisted
_PAIR_COS_SQL = f"{_dot_sql('queryv', 'candv')} / (queryn * candn) AS cos_sim"


def _empty_topk(corpus: DataFrame, score_col: str = "cos_sim") -> DataFrame:
    """The empty top-k relation in the family's contract schema.

    Used when the codebook/centroid sample collects ZERO rows (empty
    or all-NULL/zero-norm corpus — edge-fuzz find, r06). The sample is
    empty exactly when the prepared corpus is, so deriving the frame
    from ``corpus`` keeps the id column's NATIVE type.
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


def _pair_topk(scored: DataFrame, k: int, score_col: str = "cos_sim") -> DataFrame:
    """``_rank_topk`` at pair grain, the approximate scorers' contract:
    each cand_id at most once per query. Duplicate input rows —
    candidate, query, or sampled-centroid duplicates doubling a probed
    cell — would otherwise occupy several top-k slots, and the oracles'
    row-collapsing argmin assignments would disagree on the grain
    (differential-fuzzer find); scalar rows, map-combined."""
    return _rank_topk(
        scored.groupBy("query_id", "cand_id").agg(F.max(score_col).alias(score_col)),
        k,
        score_col,
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
        .selectExpr("query_id", "cand_id", _PAIR_COS_SQL)
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

    cosines = _np_kernels()[2]  # F.aggregate / list_reduce's add order

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
            cos = cosines(cm, cn, qm, qn)
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


# SQL-text builders. Every F.* call, Column operator and Python lambda
# costs one or more Py4J round trips, so a Column-API fold over a few
# hundred nodes costs hundreds of calls per plan build; the same
# expression rendered as ONE string costs one call (F.expr / selectExpr
# / a filter string). The string must parse to the expression the
# Column chain built (the optimized plans compare equal), which takes
# two rules:
# - write double literals as ``0.0D``, never ``0.0``: Spark SQL parses
#   a bare ``0.0`` as DECIMAL, so folds would change type;
# - give every lambda variable a builder-prefixed name (``adc_c``,
#   ``dot_x``, ...) that no column and no enclosing lambda uses: a SQL
#   lambda variable shadows both, where the Column API drew fresh names.
# Builders that follow the idiom: _dot_sql, _PAIR_COS_SQL, _ADC_SQL, and
# minhash_signatures / minhash_bands in operators/dedup.py. Index
# metadata (centroids, codebooks) never enters a plan: Spark analyzes a
# literal on every build (~0.3 s per select for a [16][32][4]
# codebook), so the Arrow kernels below hold it as numpy arrays.


def _centroid_arrays(cent_rows):
    """(cids, vectors, norms) of the IVF centroids in cid order, float64.
    NULL-norm rows are dropped: no cosine to them is defined."""
    import numpy as np

    rows = sorted(
        (r for r in cent_rows if r["cn"] is not None), key=lambda r: r["cid"]
    )
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
    cm = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    return (
        np.array([r["cid"] for r in rows], dtype=np.int64),
        cm.reshape(len(rows), dims.pop() if dims else 0),
        np.array([r["cn"] for r in rows], dtype=np.float64),
    )


def _pq_codebook(code_rows, m: int, sub: int):
    """The [m][k][sub] float64 codebook of the cid-ordered sample rows:
    codeword j of subspace s is row j's slice s. A slice the row is too
    short to fill is NaN, so it is never chosen and never looked up."""
    import numpy as np

    cb = np.full((len(code_rows), m * sub), np.nan)
    for j, r in enumerate(code_rows):
        v = list(r["cv"])[: m * sub]
        cb[j, : len(v)] = v
    return cb.reshape(len(code_rows), m, sub).transpose(1, 0, 2)


def _np_kernels():
    """The numpy pieces the Arrow kernels share, defined in a function
    so cloudpickle ships them by value: a Python worker then needs only
    numpy and pyarrow, not this package on its path."""
    import numpy as np
    import pyarrow as pa

    def batch_matrix(col, width: int):
        """An Arrow list column as a float64 (rows, width) matrix, each
        vector cut or NaN-padded to ``width``, plus each row's length."""
        lens = col.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
        flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        if (lens == width).all():
            return flat.reshape(len(lens), width), lens
        out = np.full((len(lens), width), np.nan)
        start = np.cumsum(lens) - lens
        for i, n in enumerate(np.minimum(lens, width)):
            out[i, :n] = flat[start[i]:start[i] + n]
        return out, lens

    def list_array(values, width: int):
        """Consecutive runs of ``width`` values as one Arrow list array.
        Built from numpy, so NaN stays NaN: the pandas route would turn
        every NaN inside a nested array into NULL."""
        offsets = np.arange(len(values) // width + 1, dtype=np.int32) * width
        return pa.ListArray.from_arrays(pa.array(offsets), values)

    def cosines(vm, nrm, cm, cn):
        """(rows, centroids) cosines, the dot products accumulated dim by
        dim from 0.0: ``_dot_sql``'s add order, bit-for-bit."""
        acc = np.zeros((len(vm), len(cm)))
        for d in range(cm.shape[1]):
            acc += np.multiply.outer(vm[:, d], cm[:, d])
        with np.errstate(invalid="ignore", over="ignore", divide="ignore"):
            return acc / np.multiply.outer(nrm, cn)

    def pq_codes(vm, cb):
        """(rows, m) int32 codes against ``cb`` [m][k][sub]: per subspace,
        squared L2 distances folded over the ``sub`` dims from 0.0, then
        the first strict minimum (ties to the smallest j). NaN and +inf
        are never chosen, as under Spark's ``<``; a subspace with no
        distance below +inf gets -1, on which the ADC lookup fails."""
        m, k, sub = cb.shape
        x = vm[:, : m * sub].reshape(len(vm), m, sub)
        d2 = np.zeros((len(vm), m, k))
        with np.errstate(invalid="ignore", over="ignore"):
            for i in range(sub):
                diff = x[:, :, i, None] - cb[:, :, i]
                d2 += diff * diff
        d2[np.isnan(d2)] = np.inf
        j = d2.argmin(axis=2)
        best = np.take_along_axis(d2, j[:, :, None], axis=2)[:, :, 0]
        return np.where(best < np.inf, j, -1).astype(np.int32)

    def pq_luts(vm, cb):
        """(rows, m, k) ADC lookup tables: subspace-by-codeword dot
        products folded over the ``sub`` dims from 0.0."""
        m, k, sub = cb.shape
        x = vm[:, : m * sub].reshape(len(vm), m, sub)
        lut = np.zeros((len(vm), m, k))
        with np.errstate(invalid="ignore", over="ignore"):
            for i in range(sub):
                lut += x[:, :, i, None] * cb[:, :, i]
        return lut

    return batch_matrix, list_array, cosines, pq_codes, pq_luts


def _kernel_args(df: DataFrame, keep, cent_rows, books, cell_col, books_col):
    """What both Arrow kernels share: the output names and schema (the
    ``keep`` columns, default all of ``df``, then ``cell_col`` bigint
    with cells and ``books_col`` with codes), the centroid arrays (None
    without cells), the codebook array (None without codes), and the
    batch-matrix width that covers both."""
    import numpy as np

    keep = list(df.columns) if keep is None else list(keep)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    extra = [(cell_col, "bigint")] if cent_rows is not None else []
    extra += [books_col] if books is not None else []
    names = keep + [n for n, _ in extra]
    schema = ", ".join(f"`{n}` {t}" for n, t in [(c, types[c]) for c in keep] + extra)
    cents = None if cent_rows is None else _centroid_arrays(cent_rows)
    cb = None if books is None else np.asarray(books, dtype=np.float64)
    width = max(
        0 if cents is None else cents[1].shape[1],
        0 if cb is None else cb.shape[0] * cb.shape[2],
    )
    return keep, names, schema, cents, cb, width


def _assign_cells_arrow(
    df: DataFrame,
    vec_c: str,
    nrm_c,
    cent_rows,
    cell_col: str = "cell",
    books=None,
    keep=None,
) -> DataFrame:
    """Corpus side of the ANN indexes as ONE Arrow ``mapInArrow`` pass,
    a narrow zero-shuffle map: each row's nearest IVF cell (cosine
    argmax over ``cent_rows``; None for no cells) and its PQ ``code``
    (argmin per subspace over the [m][k][sub] codebook ``books``; None
    for no codes). Output: the ``keep`` columns (default: all of
    ``df``), untouched, then ``cell_col`` bigint, then ``code``
    array<int>.

    Bit-identical to the JVM folds it replaced (executable specs in
    tests/test_operators.py): sums are vectorized ACROSS rows but
    SEQUENTIAL across dims. The cell fold keeps (max cos, then smallest
    cid): centroids sort by cid and ``argmax`` returns the first
    maximum; Spark's NaN ordering is mirrored (kernel comment). Rows the
    fold could never assign (vector length ≠ centroid dim; all cosines
    -inf) get its NULL init. ~20× faster per row than the interpreted
    fold (1.8 s → 0.1 s over sf0.1). Callers pre-apply
    ``_nonzero_norm``: a NULL element would read as NaN.
    """
    import numpy as np
    import pyarrow as pa

    batch_matrix, list_array, cosines, pq_codes, _ = _np_kernels()
    keep, names, schema, cents, cb, width = _kernel_args(
        df, keep, cent_rows, books, cell_col, ("code", "array<int>")
    )

    def assign(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            vm, lens = batch_matrix(batch.column(vec_c), width)
            out = [batch.column(c) for c in keep]
            if cents is not None:
                cids, cm, cn = cents
                d = cm.shape[1]
                # a vector length other than the centroid dim makes the
                # fold's zip_with pad NULLs: such rows keep a NULL cell
                ok = (lens == d) & (len(cids) > 0)
                cells = np.zeros(len(lens), dtype=np.int64)
                null = ~ok
                if ok.any():
                    nrm = batch.column(nrm_c).to_numpy(zero_copy_only=False)
                    cos = cosines(vm[ok, :d], nrm[ok], cm, cn)
                    # Spark semantics (NOT IEEE): NaN is LARGER than
                    # +inf and NaN == NaN, so the fold picks the smallest
                    # cid among NaN cosines, else the plain argmax; -inf
                    # never beats the -2.0 init (all -inf: NULL cell).
                    nan = np.isnan(cos)
                    has_nan = nan.any(axis=1)
                    cos2 = np.where(nan, -np.inf, cos)
                    idx = np.where(
                        has_nan,
                        np.argmax(nan, axis=1),
                        np.argmax(cos2, axis=1),
                    )
                    cells[ok] = cids[idx]
                    null[ok] = ~has_nan & (cos2 == -np.inf).all(axis=1)
                out.append(pa.array(cells, mask=null))
            if cb is not None:
                # a short row is NaN-padded: its short subspaces get -1,
                # as the fold's NULL distances were never chosen either
                out.append(list_array(pq_codes(vm, cb).ravel(), cb.shape[0]))
            yield pa.RecordBatch.from_arrays(out, names=names)

    return df.mapInArrow(assign, schema)


def _probe_arrow(
    q: DataFrame,
    id_c: str,
    vec_c: str,
    nrm_c,
    cent_rows,
    nprobe: int,
    books=None,
    keep=None,
) -> DataFrame:
    """Query side of the ANN indexes as ONE Arrow ``mapInArrow`` pass.

    With ``cent_rows``: one row per probed cell (``cell`` bigint), the
    ``nprobe`` cells of highest cosine per ``id_c`` pooled over all its
    rows, as a ``row_number`` window by (cosine DESC, cell ASC) picks
    them: NaN first (Spark sorts NaN above +inf), NULL last (ragged
    dim), ties to the smaller cell. Pooling needs every row of an id in
    one task, so the queries are coalesced to one partition: they are
    small by contract (broadcast). With ``books``: each row also
    carries its query's ADC table ``lut`` array<array<double>> [m][k];
    without ``cent_rows`` that is one row per query. Output: the
    ``keep`` columns (default: all of ``q``), then ``cell``, then
    ``lut``. Callers pre-apply ``_nonzero_norm``.
    """
    import numpy as np
    import pyarrow as pa

    batch_matrix, list_array, cosines, _, pq_luts = _np_kernels()
    keep, names, schema, cents, cb, width = _kernel_args(
        q, keep, cent_rows, books, "cell", ("lut", "array<array<double>>")
    )
    if cents is not None:
        q = q.coalesce(1)

    def probe(batches):
        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        # a NULL id never matches a candidate: such rows probe nothing
        tbl = tbl.filter(tbl.column(id_c).is_valid()).combine_chunks()
        if not tbl.num_rows:
            return
        vm, lens = batch_matrix(tbl.column(vec_c).chunk(0), width)
        rows = np.arange(tbl.num_rows)
        if cents is not None:
            cids, cm, cn = cents
            n, c, d = tbl.num_rows, len(cids), cm.shape[1]
            ok = lens == d
            cos = np.zeros((n, c))
            if ok.any():
                nrm = tbl.column(nrm_c).to_numpy()
                cos[ok] = cosines(vm[ok, :d], nrm[ok], cm, cn)
            # rank classes: 0 NaN, 1 a number, 2 NULL (ragged dim); the
            # sort runs over (id, class, -cosine, cell), then each id
            # keeps its first nprobe entries
            flat = cos.ravel()
            cls = np.where(np.repeat(~ok, c), 2, np.where(np.isnan(flat), 0, 1))
            desc = np.where(cls == 1, -flat, 0.0)
            ids = np.repeat(tbl.column(id_c).to_numpy(), c)
            order = np.lexsort((np.tile(np.arange(c), n), desc, cls, ids))
            first = np.r_[True, ids[order][1:] != ids[order][:-1]]
            pos = np.arange(len(order))
            start = np.maximum.accumulate(np.where(first, pos, 0))
            pick = order[pos - start < nprobe]
            rows = pick // c
        out = [tbl.column(col).chunk(0).take(pa.array(rows)) for col in keep]
        if cents is not None:
            out.append(pa.array(cids[pick % c]))
        if cb is not None:
            m, k, sub = cb.shape
            if (lens[rows] < m * sub).any():
                # the SQL fold's element_at failed on these too
                raise ValueError(
                    f"query vector shorter than the PQ codebook's {m * sub} "
                    "dims; the embedding corpus must be uniform-dimension"
                )
            lut = pq_luts(vm, cb)[rows]
            out.append(list_array(list_array(lut.ravel(), k), m))
        yield pa.RecordBatch.from_arrays(out, names=names)

    return q.mapInArrow(probe, schema)


def _nonzero_norm(df: DataFrame, vec_col: str) -> DataFrame:
    """Exclude zero-norm vectors — no defined cosine direction; under
    ANSI mode the division aborts the job. Oracles mirror the predicate."""
    return df.filter(f"{_dot_sql(vec_col, vec_col)} > 0")


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
    held by two Arrow kernels, never by the plan: corpus->cell
    assignment is a PURE NARROW MAP (``_assign_cells_arrow``, zero
    shuffle over the corpus at any scale), and each query's ``nprobe``
    nearest cells come from one pass over the query side
    (``_probe_arrow``). A query scores only those cells' vectors
    (~nprobe/n_cells of the corpus), joined cell-to-cell with the
    probe side broadcast.
    """
    nrm = f"sqrt({_dot_sql(vec_col, vec_col)})"
    candidates = _nonzero_norm(candidates, vec_col)
    corpus = spread_for_compute(candidates, id_col).selectExpr(
        f"{id_col} AS cand_id", f"{vec_col} AS candv", f"{nrm} AS candn"
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
    assigned = _assign_cells_arrow(corpus, "candv", "candn", cent_rows)
    q = _nonzero_norm(queries, vec_col).selectExpr(
        f"{id_col} AS query_id", f"{vec_col} AS queryv", f"{nrm} AS queryn"
    )
    probes = _probe_arrow(q, "query_id", "queryv", "queryn", cent_rows, nprobe)
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .selectExpr("query_id", "cand_id", _PAIR_COS_SQL)
    )
    return _pair_topk(scored, k)


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
        .selectExpr("query_id", "cand_id", _PAIR_COS_SQL)
    )
    # pair grain unconditionally (not just n_tables > 1): duplicate
    # INPUT ids break it in the single-table form too
    return _pair_topk(scored, k)


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
    base = _nonzero_norm(df.filter(F.col(group_col).isNotNull()), vec_col)
    corpus = spread_for_compute(base, id_col).selectExpr(
        f"{id_col} AS vec_id",
        f"{group_col} AS own_label",
        f"{vec_col} AS v",
        f"sqrt({_dot_sql(vec_col, vec_col)}) AS vn",
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
    cols = [f"{id_col} AS cid", f"{vec_col} AS cv"]
    if with_norm:
        cols.append(f"sqrt({_dot_sql(vec_col, vec_col)}) AS cn")
    # NULL ids are excluded from the sample: they have no stable md5
    # sample position (Spark sorts NULLS FIRST, DuckDB LAST) and the
    # rendered literal / Arrow matrix build requires int ids —
    # int(None) was a latent plan-build crash (r08 review find). The
    # ANN oracles' cents CTEs mirror the predicate.
    return (
        candidates.filter(F.col(id_col).isNotNull())
        .selectExpr(*cols)
        .orderBy(F.expr(md5_long_expr("CAST(cid AS STRING)")), F.col("cid"))
        .limit(n)
        .collect()
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
    subspace slice). Returns the nested ``[m][n_codes][sub]`` codebook,
    or None on an empty corpus. No SQL oracle can re-derive
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
    (cid, cv, cn) centroid rows, the shape ``_pq_sample_rows(...,
    with_norm=True)`` returns, with integer cell ids 0..k-1 and unit
    norms."""
    import numpy as np

    rows = _pq_sample_rows(candidates, id_col, vec_col, sample_n)
    if not rows:
        return []
    dims = {len(r["cv"]) for r in rows}
    if len(dims) > 1:
        # named error, not numpy's inhomogeneous-shape ValueError
        # (see _centroid_arrays' identical guard)
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


#: ADC score of a (code, lut) row: m table lookups summed left to right
_ADC_SQL = (
    "aggregate(zip_with(code, lut, (adc_c, adc_row) -> "
    "element_at(adc_row, adc_c + 1)), 0.0D, (adc_a, adc_t) -> adc_a + adc_t) "
    "AS adc_score"
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
    unchanged). Encode: argmin-L2 per subspace over the collected
    codebook (``_assign_cells_arrow``) — a narrow Arrow map that
    compresses each vector to m small codes (64 floats -> 4 codes here:
    the ~64x index-memory trick real PQ deployments bank on). ADC: each
    query precomputes its m x n_codes lookup table of subspace dot
    products row-locally from the same codebook (``_probe_arrow``); a
    (query, candidate) score is then m table lookups + adds instead of
    d multiplies. A sample of fewer than ``n_codes`` rows makes a
    codebook of that many codewords.

    Scoring is EXHAUSTIVE over candidates by contract — PQ is a
    compression scheme, not a pruning scheme; compose with IVF cells
    (or LSH buckets) for candidate pruning at scale. All folds are
    sequential left-folds in double, so adc_score is bit-reproducible
    by the oracle.
    """
    # NULL / zero-norm vectors cannot be encoded: a NULL vec leaves the
    # argmin fold at its -1 sentinel and the ADC lookup indexes 0
    # (INVALID_INDEX_OF_ZERO — differential-fuzzer find). Same
    # _nonzero_norm convention as every other path in this family; the
    # oracle mirrors norm > 0.
    candidates = _nonzero_norm(candidates, vec_col)
    no_index = candidates.select(F.col(id_col).alias("cand_id"))
    queries = _nonzero_norm(queries, vec_col)
    if train_sample:
        books = train_pq_codebooks(
            candidates, id_col, vec_col, m, n_codes, train_sample,
            train_iters,
        )
        if books is None:
            return _empty_topk(no_index, "adc_score")
    else:
        code_rows = sorted(
            _pq_sample_rows(candidates, id_col, vec_col, n_codes),
            key=lambda r: r["cid"],
        )
        if not code_rows:
            return _empty_topk(no_index, "adc_score")
        d = len(code_rows[0]["cv"])
        if d % m != 0:
            raise ValueError(f"dim {d} not divisible by m={m} subspaces")
        books = _pq_codebook(code_rows, m, d // m)

    cands = _assign_cells_arrow(
        spread_for_compute(candidates, id_col).selectExpr(
            f"{id_col} AS cand_id", f"{vec_col} AS v"
        ),
        "v", None, None, books=books, keep=["cand_id"],
    )
    q = _probe_arrow(
        queries.selectExpr(f"{id_col} AS query_id", f"{vec_col} AS v"),
        "query_id", "v", None, None, 0, books=books, keep=["query_id"],
    )
    scored = (
        cands.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .selectExpr("query_id", "cand_id", _ADC_SQL)
    )
    return _pair_topk(scored, k, "adc_score")


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
    cell assignment and PQ encoding are ONE narrow Arrow map
    (``_assign_cells_arrow``) — an index build with zero corpus
    shuffle — and each query's probed cells and lookup table come from
    one Arrow pass over the query side (``_probe_arrow``). The only
    exchange is the broadcast probe join keyed by cell.
    """
    # cosine cell assignment is undefined for zero-norm vectors (and
    # aborts under ANSI): both sides — including the shared codebook
    # sample — draw from the norm-filtered corpus, like ivf_topk.
    candidates = _nonzero_norm(candidates, vec_col)
    no_index = candidates.select(F.col(id_col).alias("cand_id"))
    # ONE corpus sample feeds BOTH quantizers: the md5 ordering is
    # prefix-closed, so the first n_cells rows of a max(n_cells,
    # n_codes) collect are exactly the IVF sample and the first
    # n_codes rows the PQ sample — one TakeOrdered scan at index
    # build instead of two.
    sample_rows = _pq_sample_rows(
        candidates, id_col, vec_col, max(n_cells, n_codes), with_norm=True
    )
    if not sample_rows:
        return _empty_topk(no_index, "adc_score")
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
            return _empty_topk(no_index, "adc_score")
        cell_rows = cent_rows
    else:
        # ---- IVF coarse quantizer (cosine argmax, ivf_topk convention)
        cell_rows = sample_rows[:n_cells]
        # ---- PQ fine quantizer (pq_topk convention: cid-ordered sample)
        code_rows = sorted(sample_rows[:n_codes], key=lambda r: r["cid"])
        d = len(code_rows[0]["cv"])
        if d % m != 0:
            raise ValueError(f"dim {d} not divisible by m={m} subspaces")
        books = _pq_codebook(code_rows, m, d // m)

    vecs = [f"{vec_col} AS v", f"sqrt({_dot_sql(vec_col, vec_col)}) AS nrm"]
    assigned = _assign_cells_arrow(
        spread_for_compute(candidates, id_col).selectExpr(
            f"{id_col} AS cand_id", *vecs
        ),
        "v", "nrm", cell_rows, books=books, keep=["cand_id"],
    )
    probes = _probe_arrow(
        _nonzero_norm(queries, vec_col).selectExpr(f"{id_col} AS query_id", *vecs),
        "query_id", "v", "nrm", cell_rows, nprobe, books=books,
        keep=["query_id"],
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .selectExpr("query_id", "cand_id", _ADC_SQL)
    )
    return _pair_topk(scored, k, "adc_score")
