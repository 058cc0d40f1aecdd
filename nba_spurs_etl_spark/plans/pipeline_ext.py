"""Catalog registration: large-scale pipeline extension operators.

Dedup family / similarity search / text analysis / multimodal plumbing
over the ``documents`` and ``embeddings`` testdata tables, each paired
with a full DuckDB oracle (the operators were designed around
cross-engine-deterministic primitives precisely so these oracles
exist — md5-derived hashing, sequential-fold dot products, exact
integer ratios).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import epoch_us, md5_long, md5_long_sql
from ..operators import dedup, multimodal, sampling, similarity, textops
from ..sources.catalog import load_table
from .registry import register, registry

# ---------------------------------------------------------------------------
# shared DuckDB fragments
# ---------------------------------------------------------------------------

# distinct 3-gram shingles of documents.text (mirror of dedup.shingles)
_SHINGLES_CTE = """
shingle_pairs AS (
  SELECT doc_id AS doc, unnest(
    CASE WHEN len(w) >= 3 THEN
      list_distinct(list_transform(
        generate_series(1, len(w) - 2),
        i -> array_to_string(w[i:i+2], ' ')))
    ELSE [] END) AS shingle
  -- DISTINCT doc rows: mirrors operators/dedup.exploded_shingles'
  -- set grain (duplicated rows would double the shingle stream)
  FROM (SELECT doc_id, string_split(text, ' ') AS w
        FROM (SELECT DISTINCT doc_id, text FROM documents))
)"""


def _dot_sql(a: str, b: str) -> str:
    """Sequential left-fold dot product (matches F.aggregate order)."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _cos_sql(av: str, bv: str) -> str:
    return (
        f"{_dot_sql(av, bv)} / "
        f"(sqrt({_dot_sql(av, av)}) * sqrt({_dot_sql(bv, bv)}))"
    )


def _bucket_sql(vec: str, planes: int, offset: int = 0) -> str:
    """Sign-LSH bucket key — the SQL twin of similarity.lsh_bucket's
    bit convention (component >= 0 sets bit i), with the same per-table
    component offset. ONE definition for every oracle that mirrors it
    (dup pairs, single-table top-k, multi-table top-k): a sign or
    offset change edited in one hand-kept copy would silently
    desynchronize the others."""
    return " + ".join(
        f"CASE WHEN {vec}[{offset + i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
        for i in range(planes)
    )


def _pq_l2_sql(vec: str, cw: str, sub: int) -> str:
    """Subspace L2 distance between a vector slice and a codeword
    slice (s is the enclosing lambda's subspace index), shared by the
    PQ and IVF-PQ oracles: the DuckDB form of the distance fold in
    similarity's Arrow encode kernel (``pq_codes``)."""
    return (
        f"list_reduce(list_transform(generate_series(1, {sub}), "
        f"i -> (CAST({vec}[s*{sub}+i] AS DOUBLE) - CAST({cw}[s*{sub}+i] AS DOUBLE))"
        f" * (CAST({vec}[s*{sub}+i] AS DOUBLE) - CAST({cw}[s*{sub}+i] AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )


# ---------------------------------------------------------------------------
# dedup: exact
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    group="ext-dedup",
    oracle=f"""
SELECT {md5_long_sql("text")} AS content_hash,
  CAST(MIN(doc_id) AS BIGINT) AS keep_id,
  CAST(COUNT(*) AS BIGINT) AS dup_cnt
FROM documents WHERE text IS NOT NULL GROUP BY 1
""",
    doc="Exact dedup via 60-bit content hash groupBy; uniform keys, "
    "one shuffle, no skew at any scale. NULL content excluded (absent "
    "text is not identical text).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# dedup: n-gram jaccard
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    group="ext-dedup",
    oracle=f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc, COUNT(*) AS n FROM shingle_pairs GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS c
  FROM shingle_pairs a JOIN shingle_pairs b
    ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
""",
    doc="Near-dup pairs by 3-gram shingle Jaccard >= 0.5 via inverted-"
    "index self-join; hot-shingle frequency cap available for skew.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.5
    )


@register(
    "dedup_jaccard_prefix_filtered",
    group="ext-dedup prefix-filter",
    oracle=registry()["dedup_ngram_jaccard"].oracle,
    doc="EXACT jaccard >= 0.5 pairs via prefix filtering (All-Pairs/"
    "PPJoin candidate generation): only the rarest s - ceil(t*s) + 1 "
    "tokens of each doc are posted to the inverted index (prefix "
    "lemma, lossless), then row-local array_intersect verification. "
    "Identical output to dedup_ngram_jaccard -> shares its oracle. "
    "Cost trade vs the counting form is measured and documented in "
    "the operator docstring: plain wins on duplicate-clique corpora, "
    "prefix wins losslessly on boilerplate-heavy ones (where the "
    "plain index emits O(hot^2) candidates and the only other defense "
    "is the answer-changing max_shingle_freq cap).",
)
def dedup_jaccard_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs_prefix(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.5
    )


# ---------------------------------------------------------------------------
# dedup: minhash LSH
# ---------------------------------------------------------------------------

_NUM_HASHES, _BAND_SIZE = 16, 4


def _minhash_pairs_ctes() -> str:
    """WITH-clause body ending in a ``cand`` CTE of candidate pairs
    (shared by the pairs query and the components query)."""
    # affine rehash family over one md5 base hash (mirror of
    # dedup.minhash_signatures: h_i = (a_i*base + b_i) % P)
    mins = ", ".join(
        f"MIN(({a} * base + {b}) % {dedup.MH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.mh_coeffs(_NUM_HASHES))
    )
    band_selects = []
    for b in range(_NUM_HASHES // _BAND_SIZE):
        cols = " || '_' || ".join(
            f"CAST(mh_{b * _BAND_SIZE + j} AS VARCHAR)" for j in range(_BAND_SIZE)
        )
        key = md5_long_sql(f"'{b}' || '_' || {cols}")
        band_selects.append(
            f"SELECT doc, {b} AS band, {key} AS bkey FROM sig"
        )
    bands = "\nUNION ALL\n".join(band_selects)
    return f"""{_SHINGLES_CTE},
sig AS (
  SELECT doc, {mins} FROM (
    SELECT doc, {md5_long_sql("shingle")} % {dedup.MH_PRIME} AS base
    FROM shingle_pairs
  ) GROUP BY doc),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc
)"""


def _minhash_oracle() -> str:
    return f"WITH {_minhash_pairs_ctes()}\nSELECT doc_a, doc_b FROM cand"


@register(
    "dedup_minhash_lsh",
    group="ext-dedup",
    oracle=_minhash_oracle(),
    doc="MinHash(16)+LSH(4x4) candidate pairs: explode->groupBy-min "
    "signature (map-side combined), band bucket join — O(n^2) pair "
    "space never materializes.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=_NUM_HASHES,
        band_size=_BAND_SIZE,
    )


@register(
    "dedup_incremental_batch",
    group="ext-dedup incremental",
    oracle=f"""
WITH {_minhash_pairs_ctes()}
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
  CASE WHEN doc_a % 5 = 0 AND doc_b % 5 = 0 THEN 'new' ELSE 'cross' END AS src
FROM cand
WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
""",
    doc="Incremental dedup of an arriving batch (docs with id % 5 = 0) "
    "against the persisted minhash band INDEX of the historical corpus "
    "(operators/dedup.py::minhash_bands / incremental_minhash_pairs): "
    "signatures are computed only for the batch, the historical side "
    "is an index lookup join — per-ingest cost O(|batch|), never "
    "O(|corpus|). At scale the index is bucketed by (band, bkey) so "
    "the lookup co-locates. Oracle: the full-corpus candidate set "
    "restricted to pairs touching the batch — the incremental union "
    "is provably set-equal because minhash signatures are per-doc "
    "independent (no corpus-level frequency cap in this variant).",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 5 == 0)
    historical = docs.filter(F.col("doc_id") % 5 != 0)
    index = dedup.minhash_bands(
        historical, "doc_id", "text",
        num_hashes=_NUM_HASHES, band_size=_BAND_SIZE,
    )
    return dedup.incremental_minhash_pairs(
        new_batch, index, "doc_id", "text",
        num_hashes=_NUM_HASHES, band_size=_BAND_SIZE,
    )


# ---------------------------------------------------------------------------
# dedup: simhash
# ---------------------------------------------------------------------------

_SIM_BITS, _MAX_HAMMING = 16, 3
_SIM_BITS_WIDE = 48  # 12-bit bands (4096 values/band): the 100 TB sizing


def _simhash_oracle(bits: int, max_hamming: int) -> str:
    # The oracle is the all-pairs DEFINITION of the op; the Spark plan
    # is banded (operators/dedup.simhash_pairs), which is provably the
    # same set — pigeonhole over num_bands > max_hamming — so one
    # oracle serves both the fixture and wide-signature variants.
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    simexpr = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS doc, {md5_long_sql("'sh_' || token")} AS h
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents)
),
sums AS (SELECT doc, {sums} FROM tok GROUP BY doc),
sig AS (SELECT doc, CAST({simexpr} AS BIGINT) AS simhash FROM sums)
SELECT a.doc AS doc_a, b.doc AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@register(
    "dedup_simhash",
    group="ext-dedup",
    oracle=_simhash_oracle(_SIM_BITS, _MAX_HAMMING),
    doc="SimHash(16-bit) near-dup pairs within hamming<=3; signature is "
    "one conditional-sum groupBy; pairing is bit-band bucketed (exact "
    "via pigeonhole, never an all-pairs join). 16-bit bands are "
    "fixture-sized — dedup_simhash_banded is the wide production form.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bits=_SIM_BITS,
        max_hamming=_MAX_HAMMING,
    )


@register(
    "dedup_simhash_banded",
    group="ext-dedup",
    oracle=_simhash_oracle(_SIM_BITS_WIDE, _MAX_HAMMING),
    doc="SimHash(48-bit) near-dup pairs within hamming<=3 — the "
    "production sizing: 4 bands x 12 bits = 4096 bucket values per "
    "band, so an n-doc corpus puts ~n/4096 docs per bucket and the "
    "banded pair space is ~n^2/4096 instead of n^2/2. Same exact "
    "semantics as the all-pairs definition (pigeonhole).",
)
def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bits=_SIM_BITS_WIDE,
        max_hamming=_MAX_HAMMING,
    )


# ---------------------------------------------------------------------------
# dedup: embedding cosine
# ---------------------------------------------------------------------------


_DUP_PLANES = 6  # 64 sign-LSH buckets: ~2^6 reduction of the pair space

_DUP_BUCKET = _bucket_sql("v", _DUP_PLANES)


@register(
    "dedup_embedding_cosine",
    group="ext-dedup ext-similarity",
    oracle=f"""
WITH e AS (
  SELECT vec_id AS doc, v, sqrt({_dot_sql("v", "v")}) AS nrm,
    CAST({_DUP_BUCKET} AS INT) AS bucket
  FROM (SELECT vec_id, embedding AS v FROM embeddings
        WHERE {_dot_sql("embedding", "embedding")} > 0)
)
SELECT doc_a, doc_b, cos_sim FROM (
  SELECT a.doc AS doc_a, b.doc AS doc_b,
    {_dot_sql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos_sim
  FROM e a JOIN e b ON a.doc < b.doc AND a.bucket = b.bucket
) t WHERE cos_sim >= 0.4
""",
    doc="Embedding near-dup pairs (cosine >= 0.4) within sign-LSH "
    "buckets (64) — the scale form: pair space / 2^planes, hoisted "
    "norms. Single-table LSH is a candidate PRUNER: recall is high "
    "only in the true near-dup regime (cos ~ 1, where sign patterns "
    "agree); production recall comes from band-OR over multiple plane "
    "sets, exactly like minhash banding. Exact all-pairs form: "
    "lsh_planes=None (observed on this corpus at threshold 0.4: "
    "59 exact pairs, 7 bucketed — the 0.4 regime is far from "
    "near-dup, so prune loss is expected and documented).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.4,
        lsh_planes=_DUP_PLANES,
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_TOPK = 5
# 2^planes buckets; planes must scale DOWN with corpus sparsity (recall)
# and UP with corpus size (candidate-set cost): 4 -> 16 buckets suits the
# 500-5k-vector testdata; a 1B-vector corpus wants 12-16 planes.
_LSH_PLANES = 4


def _topk_oracle(bucketed: bool) -> str:
    bucket_expr = _bucket_sql("v", _LSH_PLANES)
    join = (
        "c.bucket = q.bucket AND c.cand_id != q.query_id"
        if bucketed
        else "c.cand_id != q.query_id"
    )
    bucket_col = f", CAST({bucket_expr} AS INT) AS bucket" if bucketed else ""
    # the LSH operator dedups (query_id, cand_id) pairs by max-score
    # (a pair colliding in several tables must score once) — which
    # also collapses duplicate input ids to one candidate row, the
    # sane retrieval contract ("each cand_id at most once per query").
    # The oracle mirrors that grain; the brute-force form keeps the
    # input grain verbatim on both sides (no dedup either engine).
    # Divergence found by the differential fuzzer on duplicated keys.
    dedup_pairs = (
        "SELECT query_id, cand_id, MAX(cos_sim) AS cos_sim "
        "FROM scored0 GROUP BY 1, 2"
        if bucketed
        else "SELECT * FROM scored0"
    )
    return f"""
WITH base AS (SELECT vec_id, embedding AS v{bucket_col} FROM embeddings
              WHERE {_dot_sql("embedding", "embedding")} > 0),
q AS (SELECT vec_id AS query_id, v AS qv{', bucket' if bucketed else ''}
      FROM base WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS cand_id, v AS cv{', bucket' if bucketed else ''} FROM base),
scored0 AS (
  SELECT query_id, cand_id, {_cos_sql("qv", "cv")} AS cos_sim
  FROM c JOIN q ON {join}
),
scored AS ({dedup_pairs})
SELECT query_id, cand_id, cos_sim, CAST(rn AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rn
  FROM scored
) t WHERE rn <= {_TOPK}
"""


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") % 100 == 0)


@register(
    "similarity_topk_bruteforce",
    group="ext-similarity",
    oracle=_topk_oracle(bucketed=False),
    doc="Exact cosine top-5 per query (queries = vec_id%100==0, "
    "broadcast); per-query window top-k, no global sort.",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        emb, _queries_df(spark, sf_dir), "vec_id", "embedding", k=_TOPK
    )


@register(
    "similarity_topk_lsh",
    group="ext-similarity",
    oracle=_topk_oracle(bucketed=True),
    doc="LSH-bucketed (sign-pattern, 2^planes buckets) approximate "
    "top-5: each query scores only its bucket.",
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb, _queries_df(spark, sf_dir), "vec_id", "embedding", k=_TOPK,
        planes=_LSH_PLANES
    )


_LSH_TABLES = 4


def _topk_lsh_multi_oracle() -> str:
    any_tbl = " OR ".join(
        f"({_bucket_sql('c.cv', _LSH_PLANES, t * _LSH_PLANES)})"
        f" = ({_bucket_sql('q.qv', _LSH_PLANES, t * _LSH_PLANES)})"
        for t in range(_LSH_TABLES)
    )
    return f"""
WITH base AS (SELECT vec_id, embedding AS v FROM embeddings
              WHERE {_dot_sql("embedding", "embedding")} > 0),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS cand_id, v AS cv FROM base),
scored0 AS (
  SELECT query_id, cand_id, {_cos_sql("qv", "cv")} AS cos_sim
  FROM c JOIN q ON c.cand_id != q.query_id AND ({any_tbl})
),
scored AS (
  -- pair grain mirrors lsh_topk's (query_id, cand_id) max-aggregate:
  -- duplicate input ids collapse to one candidate row (fuzzer-found)
  SELECT query_id, cand_id, MAX(cos_sim) AS cos_sim
  FROM scored0 GROUP BY 1, 2
)
SELECT query_id, cand_id, cos_sim, CAST(rn AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rn
  FROM scored
) t WHERE rn <= {_TOPK}
"""


@register(
    "similarity_topk_lsh_multi",
    group="ext-similarity",
    oracle=_topk_lsh_multi_oracle(),
    doc="Multi-table LSH approximate top-5 (4 tables x 4 planes, each "
    "table hashing its own component range): collision in ANY table "
    "admits a candidate, the classic OR-amplification — measured "
    "recall@10 0.16 (L=1) -> 0.48 (L=4) -> 0.86 (L=16) on this corpus "
    "at ~L/16 of the brute-force candidate cost.",
)
def similarity_topk_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb, _queries_df(spark, sf_dir), "vec_id", "embedding", k=_TOPK,
        planes=_LSH_PLANES, n_tables=_LSH_TABLES,
    )


@register(
    "similarity_topk_arrow",
    group="ext-similarity",
    oracle=_topk_oracle(bucketed=False),
    doc="Exact cosine top-5 through the Arrow mapInPandas + numpy path "
    "(the wide-embedding scale strategy): query matrix shipped once, "
    "each candidate batch scored in one vectorized pass — accumulation "
    "sequential across dims so the result is bit-identical to the JVM "
    "fold and the same DuckDB oracle.",
)
def similarity_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk_arrow(
        emb, _queries_df(spark, sf_dir), "vec_id", "embedding", k=_TOPK
    )


_IVF_CELLS, _IVF_NPROBE = 16, 4


def _ivf_oracle() -> str:
    return f"""
WITH base AS (
  SELECT vec_id, embedding AS v, sqrt({_dot_sql("embedding", "embedding")}) AS nrm
  FROM embeddings WHERE {_dot_sql("embedding", "embedding")} > 0
),
cents AS (
  -- vec_id IS NOT NULL mirrors _pq_sample_rows: NULL ids have no
  -- cross-engine-stable md5 sample position and no int cell id
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM base WHERE vec_id IS NOT NULL
  ORDER BY {md5_long_sql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT {_IVF_CELLS}
),
assigned AS (
  SELECT cand_id, candv, candn, cell FROM (
    SELECT b.vec_id AS cand_id, b.v AS candv, b.nrm AS candn, c.cid AS cell,
      ROW_NUMBER() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_dot_sql("c.cv", "b.v")} / (c.cn * b.nrm) DESC, c.cid ASC
      ) AS rn
    FROM base b CROSS JOIN cents c
  ) t WHERE rn = 1
),
probes AS (
  SELECT query_id, qv, qn, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.cid AS cell,
      ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_dot_sql("c.cv", "q.v")} / (c.cn * q.nrm) DESC, c.cid ASC
      ) AS rn
    FROM base q CROSS JOIN cents c WHERE q.vec_id % 100 = 0
  ) t WHERE rn <= {_IVF_NPROBE}
),
scored0 AS (
  SELECT p.query_id, a.cand_id,
    {_dot_sql("p.qv", "a.candv")} / (p.qn * a.candn) AS cos_sim
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.cand_id != p.query_id
),
-- pair grain mirrors ivf_topk (family contract, see lsh oracles):
-- duplicate rows/centroids collapse to one candidate per query
scored AS (
  SELECT query_id, cand_id, MAX(cos_sim) AS cos_sim
  FROM scored0 GROUP BY 1, 2
)
SELECT query_id, cand_id, cos_sim, CAST(rn AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rn
  FROM scored
) t WHERE rn <= {_TOPK}
"""


@register(
    "similarity_topk_ivf",
    group="ext-similarity",
    oracle=_ivf_oracle(),
    doc="IVF approximate top-5: 16 deterministic md5-sampled centroids "
    "(k-means stand-in), corpus->cell assignment as a zero-shuffle Arrow "
    "argmax map, queries probe their 4 nearest cells (one Arrow pass) "
    "and score ~nprobe/n_cells of the corpus via a broadcast cell join.",
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, _queries_df(spark, sf_dir), "vec_id", "embedding", k=_TOPK,
        n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE,
    )


@register(
    "similarity_recall_eval",
    group="ext-similarity evaluation",
    oracle=f"""
WITH truth AS (
  SELECT query_id, cand_id FROM ({_topk_oracle(bucketed=False)}) t
),
cand AS (
  SELECT query_id, cand_id FROM ({_ivf_oracle()}) t
),
j AS (
  SELECT t.query_id, c.cand_id IS NOT NULL AS hit
  FROM truth t LEFT JOIN cand c
    ON t.query_id = c.query_id AND t.cand_id = c.cand_id
)
SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
  CAST(COUNT(*) AS BIGINT) AS truth_pairs,
  CAST(COUNT(CASE WHEN hit THEN 1 END) AS BIGINT) AS hit_pairs,
  CASE WHEN COUNT(*) > 0
       THEN CAST(COUNT(CASE WHEN hit THEN 1 END) AS DOUBLE) / COUNT(*)
  END AS recall_at_k
FROM j
""",
    doc="ANN-quality evaluation, the similarity counterpart of "
    "dedup_lsh_eval: the IVF approximate top-k (16 md5 cells, "
    "nprobe=4) scored against the exact brute-force top-k truth set "
    "via a left join on the (query, candidate) pair key -> "
    "hits/truth = recall@k — the measurement a pipeline runs on a "
    "sample before trusting an ANN index for retrieval/dedup at "
    "100 TB, expressed as a query so it runs ON the engine being "
    "evaluated (both sides are the already-cataloged operators; the "
    "truth side is the query-sample-sized exact scan, never the "
    "production path). One integer-exact global aggregate; recall is "
    "a single division, NULL on an empty corpus. The trained-codebook "
    "path (operators/similarity.train_ivf_centroids) raises this "
    "number at identical query cost — measured curve in docs/SCALE.md "
    "(k-means fits are not SQL-re-derivable, so the oracle-exact md5 "
    "form is what is evaluated here).",
)
def similarity_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_df(spark, sf_dir)
    # truth side via the Arrow batch product — bit-identical to the JVM
    # fold (brute_force_topk_arrow contract, own parity entry
    # similarity_topk_arrow), same oracle; drops the eval's biggest
    # codegen/fold subtree (measured 3.6 s → ~2.4 s at sf0.1)
    truth = similarity.brute_force_topk_arrow(
        emb, q, "vec_id", "embedding", k=_TOPK
    ).select("query_id", "cand_id")
    cand = similarity.ivf_topk(
        emb, q, "vec_id", "embedding", k=_TOPK,
        n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE,
    ).select("query_id", "cand_id", F.lit(True).alias("hit"))
    j = truth.join(cand, ["query_id", "cand_id"], "left").select(
        "query_id", F.coalesce("hit", F.lit(False)).alias("hit")
    )
    m = j.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("truth_pairs"),
        F.count(F.when(F.col("hit"), 1)).alias("hit_pairs"),
    )
    return m.select(
        "n_queries",
        "truth_pairs",
        "hit_pairs",
        F.when(
            F.col("truth_pairs") > 0,
            F.col("hit_pairs").cast("double") / F.col("truth_pairs"),
        ).alias("recall_at_k"),
    )


@register(
    "embedding_int8_quant_eval",
    group="ext-similarity evaluation",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding AS v,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
      AS amax
  FROM embeddings
),
nz AS (SELECT vec_id, v, amax / 127.0 AS s FROM b WHERE amax > 0),
d AS (
  SELECT vec_id, v,
    list_transform(v, x -> floor(CAST(x AS DOUBLE) / s + 0.5) * s) AS dq
  FROM nz
),
m AS (
  SELECT vec_id,
    list_max(list_transform(generate_series(1, len(v)),
      i -> abs(CAST(v[i] AS DOUBLE) - dq[i]))) AS max_err,
    {_cos_sql("v", "dq")} AS cosd
  FROM d
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
  MAX(max_err) AS worst_abs_err,
  CASE WHEN COUNT(*) > 0 THEN
    CAST(SUM(CAST(floor(max_err * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
      / (1e9 * COUNT(*)) END AS avg_max_abs_err,
  CASE WHEN COUNT(*) > 0 THEN
    CAST(SUM(CAST(floor(cosd * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
      / (1e9 * COUNT(*)) END AS avg_cos_retained
FROM m
""",
    doc="Scalar int8 quantization evaluation over the embedding "
    "corpus — the 4x index-memory measurement an embedding store runs "
    "before switching its ANN index to int8. Symmetric per-vector "
    "scale s = max|x|/127, q = floor(x/s + 0.5) (no clamp needed: "
    "|x| <= max|x| bounds q to ±127), dequantized error and cosine "
    "retention per vector. Aggregation is integer-exact: per-vector "
    "metrics quantize to 1e-9 fixed point BEFORE the SUM (float sums "
    "are order-dependent; BIGINT sums are not — the repo-wide "
    "map-combinable pattern), the global MAX is order-free, and each "
    "mean is a single final division. Folds are sequential to match "
    "the oracle bit-exactly; zero vectors are excluded (no scale), "
    "mirrored in the oracle; an empty corpus yields the one-row "
    "NULL-metric contract.",
)
def embedding_int8_quant_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    xd = lambda x: x.cast("double")  # noqa: E731
    b = emb.select(
        "vec_id",
        v.alias("v"),
        F.array_max(F.transform(v, lambda x: F.abs(xd(x)))).alias("amax"),
    ).filter(F.col("amax") > 0)
    s = F.col("amax") / F.lit(127.0)
    d = b.select(
        "vec_id",
        "v",
        F.transform(
            F.col("v"), lambda x: F.floor(xd(x) / s + F.lit(0.5)) * s
        ).alias("dq"),
    )

    def dot(a, c):
        return F.aggregate(
            F.zip_with(a, c, lambda x, y: xd(x) * xd(y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    m = d.select(
        "vec_id",
        F.array_max(
            F.zip_with(
                F.col("v"), F.col("dq"), lambda x, y: F.abs(xd(x) - y)
            )
        ).alias("max_err"),
        (
            dot(F.col("v"), F.col("dq"))
            / (
                F.sqrt(dot(F.col("v"), F.col("v")))
                * F.sqrt(dot(F.col("dq"), F.col("dq")))
            )
        ).alias("cosd"),
    )
    agg = m.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.max("max_err").alias("worst_abs_err"),
        F.sum(
            F.floor(F.col("max_err") * 1e9 + F.lit(0.5)).cast("bigint")
        ).alias("e_fx"),
        F.sum(
            F.floor(F.col("cosd") * 1e9 + F.lit(0.5)).cast("bigint")
        ).alias("c_fx"),
    )
    return agg.select(
        "n_vectors",
        "worst_abs_err",
        F.when(
            F.col("n_vectors") > 0,
            F.col("e_fx").cast("double") / (1e9 * F.col("n_vectors")),
        ).alias("avg_max_abs_err"),
        F.when(
            F.col("n_vectors") > 0,
            F.col("c_fx").cast("double") / (1e9 * F.col("n_vectors")),
        ).alias("avg_cos_retained"),
    )


@register(
    "text_bigram_lm_score",
    group="ext-text lm-quality",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
bg AS (
  SELECT doc_id, UNNEST(list_transform(generate_series(1, len(w) - 1),
    i -> w[i] || chr(31) || w[i + 1])) AS bigram
  FROM d WHERE len(w) >= 2
),
cbg AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY bigram
),
cun AS (
  SELECT split_part(bigram, chr(31), 1) AS w1,
    CAST(COUNT(*) AS BIGINT) AS cu
  FROM bg GROUP BY 1
)
SELECT doc_id AS doc,
  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(CAST(floor(
    (CAST(cb AS DOUBLE) / cu) * 35184372088832.0 + 0.5) AS BIGINT))
    AS DOUBLE) / (35184372088832.0 * COUNT(*)) AS lm_score
FROM bg
JOIN cbg USING (bigram)
JOIN cun ON split_part(bigram, chr(31), 1) = cun.w1
GROUP BY doc_id
""",
    doc="Per-document bigram language-model score, the "
    "perplexity-filter proxy (CCNet/Gopher-style quality signal): the "
    "corpus is its OWN LM, so every document bigram has nonzero count "
    "and no smoothing constant is needed — "
    "score = mean conditional probability c(w1,w2)/c(w1) over the "
    "doc's bigrams, higher = more corpus-typical text. The mean is "
    "over PROBABILITIES, not ln(p): libm ln rounds differently "
    "across engines (measured: 29/500 docs flipped the 45-bit floor "
    "boundary — the same trap text_top_terms' no-logarithm tf/df "
    "design documents), while the probability is one exact-rounded "
    "integer division, identical everywhere. Bigrams form via a positional "
    "transform over the token array (no window, embarrassingly "
    "row-local); the two count sides are map-combined groupBys "
    "bounded by corpus vocabulary, joined back bigram-keyed. The "
    "per-bigram log-prob quantizes to 45-bit fixed point BEFORE the "
    "SUM (float addend order is engine-unspecified; BIGINT sums are "
    "exact — the bm25 discipline), the unit separator chr(31) keys "
    "bigrams unambiguously, and the mean is one final division. NULL "
    "texts and sub-2-token docs have no bigrams and are excluded on "
    "both sides.",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    sep = F.lit("\x1f")
    bg = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 1),
                    lambda i: F.concat(
                        F.element_at("w", i), sep, F.element_at("w", i + 1)
                    ),
                )
            ).alias("bigram"),
        )
    )
    cbg = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb"))
    cun = (
        bg.select(F.split_part(F.col("bigram"), sep, F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    scored = (
        bg.join(cbg, "bigram")
        .join(
            cun,
            F.split_part(F.col("bigram"), sep, F.lit(1)) == cun.w1,
        )
        .select(
            "doc_id",
            F.floor(
                (F.col("cb").cast("double") / F.col("cu"))
                * F.lit(35184372088832.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("fx"),
        )
    )
    return scored.groupBy(F.col("doc_id").alias("doc")).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.sum("fx").cast("double")
            / (F.lit(35184372088832.0) * F.count(F.lit(1)))
        ).alias("lm_score"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def _lang_hits_sql(lang: str) -> str:
    sw = ", ".join(f"'{s}'" for s in textops.LANG_STOPWORDS[lang])
    return (
        f"CAST(len(list_filter(string_split(text, ' '), "
        f"t -> list_contains([{sw}], t))) AS BIGINT)"
    )


def _lang_case_sql() -> str:
    langs = list(textops.LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"hits_{l}" for l in langs) + ")"
    whens = " ".join(
        f"WHEN hits_{l} > 0 AND hits_{l} = {best} THEN '{l}'" for l in langs
    )
    return f"CASE {whens} ELSE 'und' END"


@register(
    "text_profile",
    group="ext-text",
    oracle=f"""
WITH hits AS (
  SELECT doc_id, text,
    {", ".join(f"{_lang_hits_sql(lang)} AS hits_{lang}" for lang in textops.LANG_STOPWORDS)}
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id AS doc,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '{textops.TOKEN_REGEX}')) AS BIGINT) AS re_tokens,
  {_lang_case_sql()} AS lang_guess,
  {md5_long_sql("array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')")} AS fingerprint,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ' '),
      t -> {md5_long_sql("t")} % {textops.RH_PRIME})),
    (acc, h) -> (acc * {textops.RH_BASE} + h) % {textops.RH_PRIME}
  ) AS rolling_fp
FROM hits
""",
    doc="Per-doc text profile: whitespace + BPE-ish regex token counts, "
    "stopword-vote language ID, order-insensitive content fingerprint "
    "+ order-sensitive Rabin-Karp rolling hash. "
    "Pure per-row expressions — zero shuffle.",
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.text_profile(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@register(
    "text_quality",
    group="ext-text",
    oracle="""
SELECT doc_id AS doc,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
    / len(string_split(text, ' ')) AS distinct_ratio,
  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
    / len(string_split(text, ' ')) AS mean_word_len,
  CAST(len(list_filter(string_split(text, ' '),
    t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t)))
    AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
  CASE WHEN length(text) = 0 THEN 0.0
       ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
            / length(text) END AS alpha_ratio,
  0.25 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
  + 0.25 * distinct_ratio
  + 0.25 * least(2 * stopword_ratio, 1.0)
  + 0.25 * alpha_ratio AS quality_score
FROM documents
""",
    doc="Corpus-filtering quality features + composite score; exact "
    "integer ratios -> bit-identical doubles.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_features(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@register(
    "text_repetition",
    group="ext-text",
    oracle="""
WITH w AS (SELECT doc_id AS doc, string_split(text, ' ') AS w FROM documents),
b AS (
  SELECT doc, w,
    CASE WHEN len(w) >= 2 THEN
      list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
    ELSE [] END AS bg
  FROM w
)
SELECT doc,
  CAST(len(w) AS BIGINT) AS n_words,
  CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_word_frac,
  CAST(list_max(list_transform(list_distinct(w),
    dw -> len(list_filter(w, x -> x = dw)))) AS DOUBLE) / len(w) AS top_word_frac,
  CASE WHEN len(w) >= 2 THEN
    CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
  ELSE 0.0 END AS dup_bigram_frac,
  CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w) <= 0.63
    AND CAST(list_max(list_transform(list_distinct(w),
      dw -> len(list_filter(w, x -> x = dw)))) AS DOUBLE) / len(w) <= 0.12
    AND (CASE WHEN len(w) >= 2 THEN
      CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
    ELSE 0.0 END) <= 0.2 AS gopher_keep
FROM b
""",
    doc="Gopher-style repetition metrics: duplicate-word / top-word / "
    "duplicate-bigram fractions + composite keep. Catches in-document "
    "boilerplate that cross-document dedup cannot; zero shuffle.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.repetition_features(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _c4_stop_sql() -> str:
    cases = []
    for lg, sw in textops.LANG_STOPWORDS.items():
        lst = "[" + ", ".join(f"'{s}'" for s in sw) + "]"
        cases.append(
            f"WHEN '{lg}' THEN len(list_filter(list_distinct(w), "
            f"x -> list_contains({lst}, x))) >= 1"
        )
    return "CASE lang " + " ".join(cases) + " ELSE TRUE END"


@register(
    "text_c4_filters",
    group="ext-text",
    oracle=f"""
WITH w AS (
  SELECT doc_id AS doc, lang, text, string_split(text, ' ') AS w FROM documents
),
m AS (
  SELECT doc, lang, text, w,
    CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS sum_len,
    len(w) AS n
  FROM w
)
SELECT doc,
  n >= 20 AS min_words_ok,
  (2 * sum_len >= 5 * n AND sum_len <= 8 * n) AS word_len_ok,
  list_max(list_transform(w, x -> len(x))) <= 15 AS max_word_ok,
  NOT contains(text, '{{') AS no_brace,
  {_c4_stop_sql()} AS stopword_ok,
  n >= 20 AND (2 * sum_len >= 5 * n AND sum_len <= 8 * n)
    AND list_max(list_transform(w, x -> len(x))) <= 15
    AND NOT contains(text, '{{')
    AND ({_c4_stop_sql()}) AS c4_keep
FROM m
""",
    doc="C4-style heuristic filter flags (word count, mean/max word "
    "length as pure int64 comparisons, brace leakage, own-language "
    "stopword presence) + composite keep; document-local, zero shuffle.",
)
def text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.c4_filters(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", "lang"
    )


@register(
    "text_pii_redact",
    group="ext-text",
    oracle=f"""
WITH inj AS (
  SELECT doc_id AS doc, text
    || CASE WHEN doc_id % 3 = 0
       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
       ELSE '' END
    || CASE WHEN doc_id % 4 = 0
       THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       ELSE '' END AS t
  FROM documents
)
SELECT doc,
  CAST(len(regexp_extract_all(t, '{textops.PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(
    regexp_replace(t, '{textops.PII_EMAIL}', '<EMAIL>', 'g'),
    '{textops.PII_PHONE}')) AS BIGINT) AS n_phones,
  regexp_replace(
    regexp_replace(t, '{textops.PII_EMAIL}', '<EMAIL>', 'g'),
    '{textops.PII_PHONE}', '<PHONE>', 'g') AS redacted
FROM inj
""",
    doc="PII scrub (emails then phone-shaped tokens) + removal counts "
    "over deterministically injected contact strings; dialect-safe "
    "regexes so Java regex and RE2 agree; zero shuffle.",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" tel 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return textops.redact_pii(injected, "doc_id", "text")


_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24


@register(
    "doc_chunks",
    group="ext-text",
    oracle=f"""
WITH w AS (SELECT doc_id AS doc, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT doc, w, unnest(generate_series(1, len(w), {_CHUNK_STRIDE})) AS start_word
  FROM w
)
SELECT doc,
  CAST((start_word - 1) // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
  CAST(start_word AS INT) AS start_word,
  array_to_string(w[start_word:start_word + {_CHUNK_SIZE - 1}], ' ') AS chunk_text,
  CAST(LEAST({_CHUNK_SIZE}, len(w) - start_word + 1) AS INT) AS chunk_words
FROM s
""",
    doc="Overlapping word-window chunking (size 32, stride 24): the "
    "context-window prep expansion, one doc -> ceil(n/stride) chunk "
    "rows via a single generator expression inside the scan stage — "
    "no shuffle, no Python.",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.chunk_documents(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        size=_CHUNK_SIZE,
        stride=_CHUNK_STRIDE,
    )


# ---------------------------------------------------------------------------
# deterministic splits / stratified sampling
# ---------------------------------------------------------------------------


@register(
    "split_assign",
    group="ext-sampling",
    oracle=f"""
SELECT doc, bucket,
  CASE WHEN bucket < 90 THEN 'train'
       WHEN bucket < 95 THEN 'validation'
       ELSE 'test' END AS split
FROM (
  SELECT doc_id AS doc,
    {md5_long_sql("'split_' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents
)
""",
    doc="Hash-stable train/validation/test assignment (90/5/5) from the "
    "salted md5 of row identity — reproducible across runs, retries and "
    "partitionings, unlike partition-seeded randomSplit; zero shuffle.",
)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.assign_splits(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )


_STRATA_RATES = {"en": 300}


@register(
    "stratified_sample",
    group="ext-sampling",
    oracle=f"""
SELECT doc, stratum, keep_permille FROM (
  SELECT doc_id AS doc, lang AS stratum,
    CASE lang WHEN 'en' THEN 300 ELSE 1000 END AS keep_permille,
    {md5_long_sql("'samp_' || CAST(doc_id AS VARCHAR)")} % 1000 AS h
  FROM documents
)
WHERE h < keep_permille
""",
    doc="Deterministic per-language downsample (en -> 30%, rest kept): "
    "broadcast-joined stratum rate table + salted-hash keep decision — "
    "the majority-class rebalance step, no shuffle beyond the broadcast.",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.stratified_sample(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        _STRATA_RATES,
        default_permille=1000,
    )


def _label_centroid_ctes() -> str:
    """WITH-body fragment ending in ``nrm`` = (label, n_vecs,
    centroid, l2) — shared between the ``embedding_label_centroids``
    oracle and the mislabel-flag oracle so the fold-order discipline
    can never drift between them."""
    return """per_label AS (
  SELECT label, list(embedding ORDER BY vec_id) AS vecs
  FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
  GROUP BY label
),
cent AS (
  SELECT label, CAST(len(vecs) AS BIGINT) AS n_vecs,
    list_transform(
      list_reduce(
        list_transform(vecs, v -> list_transform(v, x -> CAST(x AS DOUBLE))),
        (a, b) -> list_transform(generate_series(1, len(a)), i -> a[i] + b[i])),
      s -> s / len(vecs)) AS centroid
  FROM per_label
),
nrm AS (
  SELECT label, n_vecs, centroid,
    sqrt(list_reduce(list_transform(centroid, x -> x * x), (a, b) -> a + b)) AS l2
  FROM cent
)"""


@register(
    "embedding_label_centroids",
    group="ext-similarity",
    oracle=f"""
WITH {_label_centroid_ctes()},
dims AS (
  SELECT label, n_vecs, l2, centroid,
    unnest(generate_series(1, len(centroid))) AS i
  FROM nrm
)
SELECT label, n_vecs, CAST(i - 1 AS INT) AS dim, centroid[i] AS c, l2
FROM dims
""",
    doc="Per-label embedding centroid (element-wise mean folded in "
    "sorted-id order -> partitioning-independent, bit-identical to the "
    "oracle) + L2 norm, exploded to (label, dim) scalars. The pooling "
    "primitive for class prototypes / coarse quantizer seeding.",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.label_centroids(
        load_table(spark, sf_dir, "embeddings"), "label", "vec_id", "embedding"
    )


@register(
    "embedding_mislabel_flags",
    group="ext-similarity quality",
    oracle=f"""
WITH {_label_centroid_ctes()},
cgood AS (SELECT label AS clabel, centroid, l2 FROM nrm WHERE l2 > 0),
-- rid: synthetic per-ROW key, so a duplicated vec_id keeps INPUT ROW
-- grain (one flag row per example row, like the Spark side) instead
-- of collapsing to one best per id (differential-fuzzer find)
vbase AS (
  SELECT vec_id, label AS own_label, embedding AS v,
    ROW_NUMBER() OVER () AS rid
  FROM embeddings
  WHERE label IS NOT NULL AND {_dot_sql("embedding", "embedding")} > 0
),
mscored AS (
  SELECT rid, vec_id, own_label, clabel,
    {_dot_sql("v", "centroid")} / (sqrt({_dot_sql("v", "v")}) * l2) AS cos
  FROM vbase CROSS JOIN cgood
)
SELECT vec_id, own_label, CAST(clabel AS INT) AS best_label,
       clabel != own_label AS is_mislabeled
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY rid ORDER BY cos DESC, clabel ASC) AS rn
  FROM mscored WHERE cos IS NOT NULL
) WHERE rn = 1
""",
    doc="Label-noise detection by class prototype (confident-learning "
    "lite): every labeled vector is assigned its nearest per-label "
    "centroid by cosine (ties to smallest label); best_label != "
    "own_label flags probable mislabels for relabel/drop queues "
    "before supervised training. Centroids are the deterministic "
    "sorted-id fold shared with embedding_label_centroids (one "
    "groupBy shuffle), collected as O(|labels|) index metadata — the "
    "IVF codebook pattern — and assignment is the zero-shuffle Arrow "
    "batch product (operators/similarity.py::mislabel_flags; "
    "_assign_cells_arrow is bit-identical to the JVM cosine fold, so "
    "the argmax cannot diverge from the oracle). Zero-l2 centroids "
    "and zero-norm/unlabeled vectors are excluded (family norm>0 "
    "convention, mirrored in the oracle).",
)
def embedding_mislabel_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.mislabel_flags(
        load_table(spark, sf_dir, "embeddings"), "label", "vec_id", "embedding"
    )


# ---------------------------------------------------------------------------
# end-to-end corpus prep: filter -> dedup -> chunk -> split
# ---------------------------------------------------------------------------


def _corpus_pipeline_oracle() -> str:
    """Composes the already-registered single-op oracles as subqueries
    so the pipeline oracle can never drift from its stages."""
    c4 = registry()["text_c4_filters"].oracle
    rep = registry()["text_repetition"].oracle
    # DISTINCT on the filter sets: the Spark side filters ROWS in
    # place, while a bare doc_id join would MULTIPLY duplicate-id rows
    # (2 copies -> 2x2x2 = 8 joined rows — differential-fuzzer find);
    # distinct restores per-row pass/fail semantics
    return f"""
WITH c4 AS (SELECT DISTINCT doc FROM ({c4}) WHERE c4_keep),
rep AS (SELECT DISTINCT doc FROM ({rep}) WHERE gopher_keep),
kept AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN c4 ON d.doc_id = c4.doc
  JOIN rep ON d.doc_id = rep.doc
),
dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      MIN(doc_id) OVER (PARTITION BY {md5_long_sql("text")}) AS keep_id
    FROM kept
  ) WHERE doc_id = keep_id
),
w AS (SELECT doc_id AS doc, string_split(text, ' ') AS w FROM dedup),
s AS (
  SELECT doc, w, unnest(generate_series(1, len(w), {_CHUNK_STRIDE})) AS start_word
  FROM w
)
SELECT doc,
  CAST((start_word - 1) // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
  array_to_string(w[start_word:start_word + {_CHUNK_SIZE - 1}], ' ') AS chunk_text,
  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'validation'
       ELSE 'test' END AS split
FROM (
  SELECT doc, start_word, w,
    {md5_long_sql("'split_' || CAST(doc AS VARCHAR)")} % 100 AS b
  FROM s
)
"""


@register(
    "corpus_pipeline",
    group="ext-pipeline",
    oracle=_corpus_pipeline_oracle(),
    doc="The full training-data prep chain as ONE declarative plan: "
    "C4 + Gopher quality filters (column-level expressions, fused into "
    "the scan — no joins), exact-dedup keep-min over a content-hash "
    "window (the single shuffle in the whole pipeline), overlapping "
    "chunking (generator expression, map-side after the shuffle), and "
    "doc-level hash-stable split labels (chunks of one doc never "
    "straddle train/test). Oracle is composed from the single-stage "
    "oracles so it cannot drift from them.",
)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NOT spread (r11, measured): a paired A/B at sf0.1 put the
    # spread_for_compute variant at 2.91 s median vs 2.57 s plain —
    # the pre-shuffle filter work is cheaper than the extra full-text
    # exchange here, and at real scale a well-laid-out input
    # parallelizes the scan anyway. The single data-scale exchange
    # stays the content-hash dedup window.
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_w", textops.words("text")
    )
    keep = (
        textops.c4_cols("text", "lang", words_col=F.col("_w"))["c4_keep"]
        & textops.repetition_cols("text", words_col=F.col("_w"))["gopher_keep"]
    )
    filtered = docs.filter(keep)
    kept = (
        filtered.withColumn(
            "_keep_id",
            F.min("doc_id").over(Window.partitionBy(md5_long(F.col("text")))),
        )
        .filter(F.col("doc_id") == F.col("_keep_id"))
        .select("doc_id", "text")
    )
    chunks = textops.chunk_documents(
        kept, "doc_id", "text", size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )
    return chunks.select(
        "doc",
        "chunk_idx",
        "chunk_text",
        sampling.split_label("doc").alias("split"),
    )


# ---------------------------------------------------------------------------
# multimodal plumbing (real mapInPandas path vs SQL oracle)
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    group="ext-multimodal",
    oracle=f"""
SELECT doc_id AS doc,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  {md5_long_sql("text")} AS byte_hash,
  CAST(160 + {md5_long_sql("text")} % 1760 AS INT) AS fake_width,
  CAST(90 + {md5_long_sql("text")} % 997 AS INT) AS fake_height
FROM documents
""",
    doc="Opaque-binary featurization through a REAL Arrow mapInPandas "
    "pass (python md5 == SQL md5 on the same bytes); decode stubs "
    "gate the codec-dependent steps.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.with_binary_payload(
        load_table(spark, sf_dir, "documents"), "text"
    )
    return multimodal.featurize_binary(docs, "doc_id", "payload")


_IMG_BOX = 32


@register(
    "multimodal_image_pipeline",
    group="ext-multimodal",
    oracle=f"""
WITH rows_ AS (
  -- ((x % m) + m) % m: FLOOR modulo, matching the Python synth's %
  -- (SQL's truncated % goes negative for negative operands, which
  -- made an INT-extreme n_chars produce h <= 0 and silently drop the
  -- doc from the oracle while Spark kept it — edge-fuzzer find)
  SELECT doc_id AS doc,
         CAST(16 + ((doc_id % 48) + 48) % 48 AS INT) AS w,
         CAST(16 + ((n_chars % 48) + 48) % 48 AS INT) AS h
  FROM documents WHERE doc_id % 97 <> 0 AND n_chars IS NOT NULL
),
ok AS (SELECT DISTINCT doc, w, h FROM rows_),
geom AS (
  SELECT doc, w, h,
    CAST(CASE WHEN w >= h THEN {_IMG_BOX}
         ELSE GREATEST((w*{_IMG_BOX})//h, 1) END AS INT) AS tw,
    CAST(CASE WHEN w >= h THEN GREATEST((h*{_IMG_BOX})//w, 1)
         ELSE {_IMG_BOX} END AS INT) AS th
  FROM ok
),
stream AS (
  SELECT doc, w, h, string_agg(hx, '' ORDER BY i) AS hexs
  FROM (
    SELECT doc, w, h, i, md5('img:' || doc || ':' || i) AS hx
    FROM ok, unnest(generate_series(0, CAST((w*h + 15)//16 - 1 AS BIGINT))) AS t(i)
  ) GROUP BY doc, w, h
),
pxstats AS (
  SELECT doc, w, h, SUM(b) AS sum_b, MIN(b) AS min_b, MAX(b) AS max_b
  FROM (
    SELECT doc, w, h,
      CAST(('0x' || substr(hexs, CAST(2*p.i + 1 AS INT), 2)) AS INT) AS b
    FROM stream, unnest(generate_series(0, CAST(w*h - 1 AS BIGINT))) AS p(i)
  ) GROUP BY doc, w, h
),
rz AS (
  SELECT doc, w, h, md5(string_agg(pair, '' ORDER BY r, c)) AS rz_md5
  FROM (
    SELECT s.doc, s.w, s.h, r.r, c.c,
      substr(s.hexs,
             CAST(2*(((r.r*g.h)//g.th)*g.w + ((c.c*g.w)//g.tw)) + 1 AS INT),
             2) AS pair
    FROM stream s JOIN geom g USING (doc, w, h),
         unnest(generate_series(0, CAST(g.th - 1 AS BIGINT))) AS r(r),
         unnest(generate_series(0, CAST(g.tw - 1 AS BIGINT))) AS c(c)
  ) GROUP BY doc, w, h
)
SELECT b.doc, CAST(b.w AS INT) AS width, CAST(b.h AS INT) AS height,
  CAST(p.sum_b AS DOUBLE) / (b.w * b.h) AS mean_px,
  CAST(p.min_b AS INT) AS min_px, CAST(p.max_b AS INT) AS max_px,
  g.tw AS resized_w, g.th AS resized_h,
  CAST(('0x' || substr(r.rz_md5, 1, 15)) AS UBIGINT)::BIGINT AS resized_hash,
  CAST(NULL AS VARCHAR) AS error
FROM rows_ b JOIN geom g USING (doc, w, h)
  JOIN pxstats p USING (doc, w, h) JOIN rz r USING (doc, w, h)
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
  'malformed:not a raster blob (bad magic)'
FROM documents WHERE doc_id % 97 = 0
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
  'null-payload'
FROM documents
WHERE doc_id IS NULL OR (doc_id % 97 <> 0 AND n_chars IS NULL)
""",
    doc="Full image pipeline over synthesized FIMG raster blobs: "
    "decode (real header parse) -> pixel stats -> aspect-fit "
    "nearest-neighbor resize (real resampling math) -> resized-content "
    "hash, one Arrow mapInPandas pass with per-row error isolation "
    "(operators/multimodal.py::image_pipeline_features). Every 97th "
    "doc carries a deliberately corrupt blob to keep the malformed "
    "path hot. FULL DuckDB oracle (VERDICT r07 item 4): the md5-stream "
    "pixels, integer-exact stats (uint8 sums stay under 2^53, so any "
    "summation order is exact), the floor-index resample grid, and "
    "the hex-domain resized-content hash are all re-derived in SQL; "
    f"box={_IMG_BOX} keeps the oracle's resample explosion small "
    "(the operator default stays 224). Feature work is computed once "
    "per DISTINCT (doc, w, h) and joined back so duplicate input rows "
    "keep row grain, matching the per-row Arrow pass.",
)
def multimodal_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator as _It

    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                # NULL ids/lengths have no derivable seed: NULL payload
                # -> the pipeline's 'null-payload' error row. isna
                # before int() — a single NULL flips the Arrow column
                # to float64, where f"img:{did}" would render 'img:3.0'
                # and silently change seeds. The corrupt branch needs
                # only doc_id, so a NULL n_chars must not preempt it.
                if _pd.isna(did):
                    payloads.append(None)
                elif int(did) % 97 == 0:
                    payloads.append(b"corrupt")  # malformed-path coverage
                elif _pd.isna(nc):
                    payloads.append(None)
                else:
                    w = 16 + int(did) % 48
                    h = 16 + int(nc) % 48
                    payloads.append(
                        multimodal.encode_fake_image(w, h, f"img:{int(did)}")
                    )
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(pdf["doc_id"]).astype("Int64"),
                    "payload": payloads,
                }
            )

    media = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return multimodal.image_pipeline_features(
        media, "doc_id", "payload", box=_IMG_BOX
    )


@register(
    "multimodal_frame_sample",
    group="ext-multimodal",
    oracle=f"""
WITH media AS (
  SELECT doc_id AS doc, text, 1 + {md5_long_sql("text")} % 8 AS n_frames
  FROM documents
),
expanded AS (
  SELECT doc, text, unnest(range(0, n_frames)) AS i FROM media
)
SELECT doc, CAST(i AS INT) AS frame_idx,
  {md5_long_sql("text || ':' || CAST(i AS VARCHAR)")} AS frame_hash
FROM expanded
""",
    doc="Video frame-sampling plumbing: one media row expands to N "
    "frame rows inside a single mapInPandas pass (output cardinality "
    "!= input — the container-parse shape); frame count and per-frame "
    "content hash are md5-derived codec stand-ins the oracle "
    "regenerates with a lateral generate_series.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.with_binary_payload(
        load_table(spark, sf_dir, "documents"), "text"
    )
    return multimodal.sample_frames(docs, "doc_id", "payload", max_frames=8)


@register(
    "multimodal_resize_plan",
    group="ext-multimodal",
    oracle=f"""
WITH feats AS (
  SELECT doc_id AS doc,
    CAST(160 + {md5_long_sql("text")} % 1760 AS INT) AS fake_width,
    CAST(90 + {md5_long_sql("text")} % 997 AS INT) AS fake_height
  FROM documents
)
SELECT doc, fake_width, fake_height,
  CAST(CASE WHEN fake_width IS NULL OR fake_height IS NULL THEN NULL
       WHEN fake_width >= fake_height THEN 224
       ELSE GREATEST(FLOOR(fake_width * 224 / fake_height), 1)
       END AS INT) AS target_w,
  CAST(CASE WHEN fake_width IS NULL OR fake_height IS NULL THEN NULL
       WHEN fake_width >= fake_height
       THEN GREATEST(FLOOR(fake_height * 224 / fake_width), 1)
       ELSE 224 END AS INT) AS target_h
FROM feats
""",
    doc="Aspect-preserving resize planning over decoded dims: the "
    "arithmetic half of resize as exact JVM expressions on top of the "
    "mapInPandas feature pass; the pixel resample slots into the same "
    "pandas batch when a codec is present.",
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.with_binary_payload(
        load_table(spark, sf_dir, "documents"), "text"
    )
    feats = multimodal.featurize_binary(docs, "doc_id", "payload")
    t_w, t_h = multimodal.resize_fit("fake_width", "fake_height", box=224)
    return feats.select(
        "doc", "fake_width", "fake_height",
        t_w.alias("target_w"), t_h.alias("target_h"),
    )


# ---------------------------------------------------------------------------
# events: windowed aggregation + sessionization (batch forms)
# ---------------------------------------------------------------------------


@register(
    "events_tumbling_agg",
    group="ext-stream 2.9",
    oracle="""
SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS VARCHAR) AS window_start,
  event_type,
  CAST(COUNT(*) AS BIGINT) AS events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
""",
    doc="5-minute tumbling window aggregate (batch form; the streaming "
    "twin in streaming/events.py computes the identical frame). "
    "NULL-ts rows are excluded explicitly on both sides: they belong "
    "to no window — Spark's window() silently drops them while "
    "DuckDB's time_bucket groups them under a NULL bucket "
    "(differential-fuzzer find), and a streaming source could never "
    "watermark them.",
)
def events_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "events",
            "total_value",
        )
    )


@register(
    "events_sessionize",
    group="ext-stream 2.9 2.5-W4",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) >= 1800000000
      OR lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
    THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
sess AS (
  SELECT user_id, event_id, value, us,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM seq
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(MIN(us) AS BIGINT) AS session_start_us,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sess
GROUP BY user_id, session_no
""",
    doc="Batch sessionization (30-min gap) via lag + running-sum "
    "gaps-and-islands, partitioned per user — the batch-equivalent of "
    "the streaming session_window (tested against it).",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # a row with no user identity or no timestamp cannot belong to a
    # session, and engines disagree on where NULL sorts inside the
    # user partition's time order (found by the differential fuzzer) —
    # excluded up front, mirrored in the oracle
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "value", epoch_us("ts").alias("us"))
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.withColumn(
        "is_new",
        F.when(
            # >= not >: session_window is half-open [start, last+gap),
            # so an event at EXACTLY prev+gap starts a NEW session —
            # the stream twin (stream_queries.py) and its oracle use >=,
            # and the tested stream/batch equivalence holds only if the
            # batch islands split on the same boundary
            (F.col("us") - F.lag("us").over(w) >= 1_800_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = seq.withColumn("session_no", F.sum("is_new").over(run))
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("session_start_us"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "session_value"
        ),
    )


@register(
    "events_sessionize_capped",
    group="ext-stream 2.5-W4 capped",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) >= 1800000000
      OR lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
    THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
sess AS (
  SELECT user_id, event_id, value, us,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_no
  FROM seq
),
capped AS (
  SELECT user_id, event_id, value, us, island_no,
    (us - MIN(us) OVER (PARTITION BY user_id, island_no))
      // 7200000000 AS chunk
  FROM sess
)
SELECT user_id, CAST(island_no AS BIGINT) AS island_no,
  CAST(chunk AS BIGINT) AS chunk,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(MIN(us) AS BIGINT) AS session_start_us,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM capped
GROUP BY 1, 2, 3
""",
    doc="Sessionization with BOTH rules real products use: a 30-min "
    "inactivity gap starts a new session (gaps-and-islands) AND a "
    "session never exceeds 2 hours — long islands split into fixed 2h "
    "frames anchored at the island start ((us - island_start) div 2h; "
    "the closed-form variant of the duration cap — a timer-resetting "
    "cap is inherently sequential and not window-expressible). All "
    "windows share one user-keyed exchange.",
)
def events_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # a row with no user identity or no timestamp cannot belong to a
    # session, and engines disagree on where NULL sorts inside the
    # user partition's time order (found by the differential fuzzer) —
    # excluded up front, mirrored in the oracle
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "value", epoch_us("ts").alias("us"))
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.withColumn(
        "is_new",
        F.when(
            # >= not >: session_window is half-open [start, last+gap),
            # so an event at EXACTLY prev+gap starts a NEW session —
            # the stream twin (stream_queries.py) and its oracle use >=,
            # and the tested stream/batch equivalence holds only if the
            # batch islands split on the same boundary
            (F.col("us") - F.lag("us").over(w) >= 1_800_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = seq.withColumn("island_no", F.sum("is_new").over(run))
    island_w = Window.partitionBy("user_id", "island_no")
    # integer div: a double division + cast can misbucket at exact 2h
    # boundaries (same guard as events_concurrency_hourly)
    capped = sess.withColumn(
        "_elapsed", F.col("us") - F.min("us").over(island_w)
    ).withColumn("chunk", F.expr("_elapsed div 7200000000"))
    return capped.groupBy("user_id", "island_no", "chunk").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("session_start_us"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "session_value"
        ),
    )


@register(
    "events_sliding_agg",
    group="ext-stream 2.9",
    oracle="""
WITH expanded AS (
  SELECT CAST(unnest([
      time_bucket(INTERVAL '5 minutes', ts),
      time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
    ]) AS VARCHAR) AS window_start,
    event_type, value
  FROM events WHERE ts IS NOT NULL
)
SELECT window_start, event_type,
  CAST(COUNT(*) AS BIGINT) AS events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM expanded
GROUP BY window_start, event_type
""",
    doc="10-min windows sliding every 5 (batch form of the streaming "
    "twin): every event expands to exactly 2 windows; the oracle "
    "unnests the two bucket starts explicitly.",
)
def events_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts rows belong to no window (same contract as tumbling)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "events",
            "total_value",
        )
    )


#: recursive-CTE transitive closure + MIN over the minhash-LSH `cand`
#: pairs, ending in comp = (doc, component) — shared by the components
#: entries and the leakage-safe split so the closure can never drift
_COMPONENTS_CTES = """edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cand
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
walk(doc, label) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON w.doc = e.src
),
comp AS (
  SELECT doc, CAST(MIN(label) AS BIGINT) AS component
  FROM walk GROUP BY doc
)"""


@register(
    "dedup_minhash_components",
    group="ext-dedup iterative",
    oracle=f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
{_COMPONENTS_CTES}
SELECT doc, component FROM comp
""",
    doc="Duplicate GROUPS: connected components over the minhash-LSH "
    "candidate pairs via iterative min-label propagation (the engine's "
    "iterative-algorithm path; converges in O(cluster diameter) "
    "rounds, lineage checkpointed per round). Oracle: recursive-CTE "
    "transitive closure + MIN.",
)
def dedup_minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=_NUM_HASHES,
        band_size=_BAND_SIZE,
    )
    return dedup.connected_components(pairs)


@register(
    "corpus_split_leakage_safe",
    group="ext-sampling ext-dedup",
    oracle=f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
{_COMPONENTS_CTES},
lab AS (
  SELECT d.doc_id AS doc, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc
),
b AS (
  SELECT doc, component,
    {md5_long_sql("'lsplit_' || CAST(component AS VARCHAR)")} % 100 AS bucket
  FROM lab
)
SELECT doc, component, CAST(bucket AS BIGINT) AS bucket,
  CASE WHEN bucket < 90 THEN 'train'
       WHEN bucket < 95 THEN 'validation'
       WHEN bucket IS NOT NULL THEN 'test' END AS split
FROM b
""",
    doc="Leakage-safe train/validation/test split (90/5/5): the split "
    "bucket hashes the near-dup COMPONENT label (connected components "
    "over the MinHash-LSH candidate pairs), so a document and its "
    "near-twin can never land in different splits — plain per-row "
    "hash splitting puts one in train and the other in test, and the "
    "eval scores memorization. Decontamination's preventive twin, "
    "composed from two cataloged operators "
    "(operators/sampling.py::assign_splits_leakage_safe); singleton "
    "docs split by their own id, NULL ids keep the NULL-split "
    "contract. Oracle shares the recursive-CTE closure with "
    "dedup_minhash_components verbatim.",
)
def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text",
        num_hashes=_NUM_HASHES, band_size=_BAND_SIZE,
    )
    return sampling.assign_splits_leakage_safe(
        docs, "doc_id", dedup.connected_components(pairs)
    )


@register(
    "orders_month_spine_recursive",
    group="2.8 ext-sql recursive-cte",
    oracle="""
WITH RECURSIVE bounds AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
  FROM orders
),
spine(m) AS (
  SELECT lo FROM bounds
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
  WHERE m < (SELECT hi FROM bounds)
),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
    CAST(COUNT(*) AS BIGINT) AS orders_cnt
  FROM orders GROUP BY 1
)
SELECT CAST(s.m AS VARCHAR) AS month,
  COALESCE(mo.orders_cnt, CAST(0 AS BIGINT)) AS orders_cnt
FROM spine s LEFT JOIN monthly mo ON s.m = mo.m
WHERE s.m IS NOT NULL
""",
    doc="Spark 4 RECURSIVE CTE surface: a month spine generated by "
    "linear recursion (min..max order month), left-joined to monthly "
    "order counts so empty months surface as 0 — the densify shape "
    "gap-fill pipelines need, run through spark.sql's recursion "
    "engine (UNION ALL linear recursion; Spark does not yet support "
    "UNION-distinct recursion, so cyclic closures stay on the "
    "checkpointed label-propagation operator — see "
    "dedup_minhash_components). The same recursive dialect runs on "
    "DuckDB; the oracle's WHERE s.m IS NOT NULL only drops the NULL "
    "anchor row an empty table produces (empty-in-empty-out contract).",
)
def orders_month_spine_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    orders = load_table(spark, sf_dir, "orders")
    # per-invocation view name, dropped right after spark.sql()
    # resolves it: a fixed session-global name is racy under
    # concurrent invocation (another caller's replace between this
    # registration and analysis would silently mix datasets) and
    # leaked the view after the build
    view = f"_orders_spine_rcte_{uuid.uuid4().hex[:12]}"
    orders.createOrReplaceTempView(view)
    # Resolve the spine bounds ONCE (2-value driver scalar): a
    # correlated (SELECT hi FROM bounds) inside the recursion is
    # re-evaluated at EVERY recursion level, i.e. one full-table
    # aggregate scan per emitted month — measured 18.5 s at sf0.1 vs
    # ~1 s with literal bounds. The oracle keeps its bounds CTE
    # (DuckDB evaluates it once).
    lo, hi = orders.selectExpr(
        "CAST(date_trunc('month', MIN(o_orderdate)) AS DATE)",
        "CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)",
    ).first()
    if lo is None or hi is None:
        # empty orders (or all-NULL dates): MIN/MAX are NULL and the
        # f-string below would interpolate the literal DATE 'None' — a
        # confusing parse error (ADVICE r03). No bounds means no
        # months: return the EMPTY spine (edge-fuzz find, r07k — the
        # oracle's NULL anchor row is filtered by its WHERE s.m IS NOT
        # NULL, a no-op on any non-empty table whose spine rows are
        # all real months).
        spark.catalog.dropTempView(view)
        return spark.createDataFrame([], "month string, orders_cnt bigint")
    # Recursion-depth headroom (edge-fuzz find, r06): Spark caps linear
    # recursion at spark.sql.cteRecursionLevelLimit (default 100) —
    # a 1970..2199 orderdate outlier needs a ~2760-month spine, which
    # DuckDB builds and Spark aborted. The limit is enforced at
    # EXECUTION, after this builder returned its lazy DataFrame, so it
    # must be raised session-stickily (monotone max — never lowered, so
    # concurrent builders can't fight) rather than set/restored here.
    months = (hi.year - lo.year) * 12 + (hi.month - lo.month) + 1
    # ADVICE r06: the raise is session-wide (every later recursive CTE
    # in the session loses the 100-level backstop up to this value), so
    # CAP it — a corrupt year-9999 date must not quietly set a
    # near-unbounded limit for the whole session. 12_000 levels covers
    # a 1000-year spine (the calibrated fuzz extreme is 1970..2199 ≈
    # 2.8k months) while keeping the runaway backstop at a bound that
    # still aborts a genuinely diverging recursion fast.
    if months + 10 > 12_000:
        raise ValueError(
            "orders_month_spine_recursive: o_orderdate span "
            f"{lo}..{hi} needs a {months}-month spine — beyond the "
            "12000-level recursion cap; the date domain is corrupt"
        )
    cur = int(spark.conf.get("spark.sql.cteRecursionLevelLimit"))
    if months + 10 > cur:
        spark.conf.set("spark.sql.cteRecursionLevelLimit", months + 10)
    out = spark.sql(f"""
WITH RECURSIVE spine(m) AS (
  SELECT DATE '{lo}'
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
  WHERE m < DATE '{hi}'
),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
    COUNT(*) AS orders_cnt
  FROM {view} GROUP BY 1
)
SELECT CAST(s.m AS STRING) AS month,
  COALESCE(mo.orders_cnt, 0L) AS orders_cnt
FROM spine s LEFT JOIN monthly mo ON s.m = mo.m
""")
    spark.catalog.dropTempView(view)
    return out


@register(
    "dedup_components_star",
    group="ext-dedup iterative",
    oracle=registry()["dedup_minhash_components"].oracle,
    doc="Connected components via min-label propagation "
    "(operators/dedup.py::connected_components, the one CC kernel). "
    "Same rows and recursive-CTE oracle as dedup_minhash_components; "
    "a large-star/small-star kernel built this entry until it lost "
    "every paired run on these near-clique graphs and was deleted.",
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=_NUM_HASHES,
        band_size=_BAND_SIZE,
    )
    return dedup.connected_components(pairs)


@register(
    "dedup_keep_best_per_cluster",
    group="ext-dedup representative",
    oracle=f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cand
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
walk(doc, label) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON w.doc = e.src
),
comp AS (SELECT doc, MIN(label) AS component FROM walk GROUP BY doc),
scored AS (
  SELECT c.component, d.doc_id, d.n_chars,
    ROW_NUMBER() OVER (PARTITION BY c.component
      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
  FROM comp c JOIN documents d ON c.doc = d.doc_id
)
SELECT CAST(component AS BIGINT) AS component,
  CAST(doc_id AS BIGINT) AS keep_doc,
  CAST(n_chars AS BIGINT) AS keep_n_chars
FROM scored WHERE rk = 1
""",
    doc="Cluster-representative selection POLICY: within each "
    "near-dup cluster (minhash-LSH connected components), keep the "
    "LONGEST member (tie -> min id) — the production alternative to "
    "min-id keep (dedup_filtered_corpus), because boilerplate-stripped "
    "fragments usually lose to their fullest copy. top-1-per-cluster "
    "via a cluster-keyed window over cluster-count rows.",
)
def dedup_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, band_size=_BAND_SIZE
    )
    comp = dedup.connected_components(pairs)
    scored = comp.join(docs, comp["doc"] == docs["doc_id"]).select(
        "component", "doc_id", "n_chars"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("component").cast("bigint").alias("component"),
            F.col("doc_id").cast("bigint").alias("keep_doc"),
            F.col("n_chars").cast("bigint").alias("keep_n_chars"),
        )
    )


def _dedup_filtered_oracle() -> str:
    comp = registry()["dedup_minhash_components"].oracle
    return f"""
SELECT d.doc_id, d.n_chars FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc FROM ({comp}) WHERE doc <> component
)
"""


@register(
    "dedup_filtered_corpus",
    group="ext-dedup",
    oracle=_dedup_filtered_oracle(),
    doc="The corpus AFTER near-dup removal: every doc whose minhash-LSH "
    "component representative (min id) is itself — i.e. cluster "
    "non-representatives dropped via left_anti join. Oracle composed "
    "from the components oracle so the keep rule cannot drift.",
)
def dedup_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, band_size=_BAND_SIZE
    )
    comp = dedup.connected_components(pairs)
    drop = comp.filter(F.col("doc") != F.col("component")).select("doc")
    return docs.join(
        drop, docs["doc_id"] == drop["doc"], "left_anti"
    ).select("doc_id", "n_chars")


@register(
    "text_chargram_dist",
    group="ext-text 2.4 2.6",
    oracle="""
SELECT g AS gram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT substr(d.text, CAST(i AS INT), 3) AS g
  FROM documents d,
       UNNEST(generate_series(1, GREATEST(length(d.text) - 2, 0))) AS t(i)
)
GROUP BY 1 ORDER BY cnt DESC, gram LIMIT 50
""",
    doc="Corpus character-trigram distribution, top 50 (the feature "
    "table a char-ngram language-ID model trains on). The per-char "
    "explode multiplies rows by |text| but stays pipelined inside the "
    "scan stage, and the counting shuffle is map-side combined — it "
    "carries |distinct grams| per partition (bounded by charset^3), "
    "never |chars| rows. Top-k via TakeOrderedAndProject with the "
    "gram itself as tiebreak, so the cut is deterministic.",
)
def text_chargram_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import spread_for_compute

    docs = spread_for_compute(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    # short-doc guard: Spark's sequence(1, 0) yields a DESCENDING
    # [1, 0] (two spurious grams per short doc) where DuckDB's
    # generate_series(1, 0) is empty — the same trap
    # dedup.shingles_from_tokens and textops.repetition_cols guard;
    # NULL text falls to the empty branch on both engines
    grams = docs.select(
        F.explode(
            F.expr(
                "CASE WHEN length(text) >= 3 THEN "
                "transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3)) "
                "ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(50)
    )


@register(
    "events_user_profile_batch",
    group="ext-stream 2.10 batch-twin",
    oracle="""
WITH seq AS (
  SELECT user_id, list(value ORDER BY epoch_us(ts), event_id) AS vals
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
)
SELECT user_id,
  CAST(len(vals) AS BIGINT) AS n_events,
  CAST(list_sum(list_transform(vals,
       v -> CAST(floor(v*100 + 0.5) AS BIGINT))) AS BIGINT) AS total_cents,
  list_reduce(vals, (acc, v) -> 0.5*v + 0.5*acc) AS ewma_value
FROM seq
""",
    doc="Batch twin of the applyInPandasWithState user profile "
    "(streaming/stateful.py): per-user event count, exact integer "
    "cents total, and EWMA(alpha=0.5) of value in event-time order. "
    "EWMA is an ordered left fold, computed JVM-side with aggregate() "
    "over the time-sorted value list — one groupBy shuffle, no window "
    "sort, no Python. Both engines run the identical IEEE recursion "
    "acc' = 0.5*v + 0.5*acc left-to-right, so doubles match "
    "bit-exactly; the oracle is the driver gate the rows-only "
    "stream_user_profile cannot have.",
)
def events_user_profile_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import user_profile_batch

    return user_profile_batch(load_table(spark, sf_dir, "events"))


def _kmeans_oracle(k: int = 8) -> str:
    d2_c0 = (
        "list_reduce(list_transform(generate_series(1, len(q.v)), "
        "i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])), (x, y) -> x + y)"
    )
    # rid gives every INPUT ROW its own argmin partition: partitioning
    # by vid would silently collapse duplicate-id rows to one (and
    # starve the centroid update of their weight) while Spark's
    # narrow-map assignment labels every row — differential-fuzzer
    # find. NULL embeddings are excluded on both sides: no distance.
    return f"""
WITH q AS (
  SELECT vec_id AS vid,
    row_number() OVER () AS rid,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
c0 AS (
  SELECT vid AS cid, v AS cv FROM q
  ORDER BY {md5_long_sql("CAST(vid AS VARCHAR)")}, vid LIMIT {k}
),
a0 AS (
  SELECT vid, v, cid AS cell FROM (
    SELECT q.vid, q.rid, q.v, c.cid,
      ROW_NUMBER() OVER (PARTITION BY q.rid ORDER BY {d2_c0}, c.cid) AS rn
    FROM q CROSS JOIN c0 c
  ) WHERE rn = 1
),
upd AS (
  SELECT cell, dim,
    CAST(SUM(CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      / (1000000.0 * COUNT(*)) AS m
  FROM (
    SELECT a0.cell, i AS dim, a0.v[CAST(i AS INT)] AS x
    FROM a0, UNNEST(generate_series(1, len(a0.v))) AS t(i)
  ) GROUP BY cell, dim
),
c1 AS (
  SELECT c0.cid, COALESCE(n.cv, c0.cv) AS cv
  FROM c0 LEFT JOIN (
    SELECT cell AS cid, list(m ORDER BY dim) AS cv FROM upd GROUP BY cell
  ) n ON c0.cid = n.cid
)
SELECT vid AS vec_id, cid AS cell, d2 FROM (
  SELECT q.vid, q.rid, c.cid, {d2_c0} AS d2,
    ROW_NUMBER() OVER (PARTITION BY q.rid ORDER BY {d2_c0}, c.cid) AS rn
  FROM q CROSS JOIN c1 c
) WHERE rn = 1
"""


@register(
    "embedding_kmeans_lloyd",
    group="ext-similarity clustering iterative",
    oracle=_kmeans_oracle(),
    doc="Two Lloyd iterations of k-means (k=8) over the embedding "
    "corpus: md5-seeded init, literal-centroid argmin assignment "
    "(narrow map, zero corpus shuffle — operators/clustering.py), "
    "posexplode + exact fixed-point per-dimension means for the "
    "update (the only exchange, map-side combined to k*dim rows). "
    "The iterative-refinement pattern IVF/curation pipelines need; "
    "oracle replays both rounds in SQL, bit-exact.",
)
def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, "vec_id", "embedding", k=8, iters=2)


@register(
    "events_weighted_sample",
    group="ext-sampling weighted",
    oracle=f"""
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tw
  FROM events
)
SELECT event_id, user_id, value,
  value * ((CAST(0.05 AS DOUBLE) * n) / tw) AS p_incl
FROM events CROSS JOIN s
WHERE CAST({md5_long_sql("'wsamp_' || CAST(event_id AS VARCHAR)")} AS DOUBLE)
      / 1152921504606846976.0
      < value * ((CAST(0.05 AS DOUBLE) * n) / tw)
""",
    # CAST(0.05 AS DOUBLE), not the bare literal: DuckDB parses 0.05 as
    # DECIMAL(3,2) (exact), Spark's lit(0.05) is the IEEE double — the
    # products agree on most inputs but straddle a rounding boundary on
    # some (n, tw), a LATENT ulp divergence the r07b fuzzer caught that
    # pristine data never exercised. The p_incl math must be double on
    # both engines.
    doc="Weight-proportional Poisson sample of the event log "
    "(weight = value, expected fraction 5%): inclusion iff "
    "hash-uniform u < w * f*n/W — quality-weighted corpus "
    "downsampling with no RNG and no libm (pure IEEE "
    "multiply/compare), so the sample is identical across retries, "
    "partitionings and engines. One map-combined scalar agg broadcast "
    "back; the keep decision is row-local (operators/sampling.py).",
)
def events_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    return weighted_sample(ev, "event_id", "value", fraction=0.05)


@register(
    "text_top_terms",
    group="ext-text 2.5 tfidf",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
)
SELECT doc_id, term, tf, df, score, CAST(rn AS INT) AS rn FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    CAST(tf.tf AS DOUBLE) / df.df AS score,
    ROW_NUMBER() OVER (
      PARTITION BY tf.doc_id
      ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term ASC
    ) AS rn
  FROM tf JOIN df ON tf.term = df.term
) WHERE rn <= 3
""",
    doc="Per-document top-3 distinguishing terms ranked by tf/df — the "
    "idf-monotone tf-idf proxy that needs NO logarithm, so the score "
    "is one IEEE division and both engines rank identically (libm "
    "log() rounding can differ across engines — a real cross-platform "
    "reproducibility trap for tf-idf pipelines). One explode + two "
    "map-combined count shuffles + a per-doc window; the df side is "
    "|vocabulary|-sized and map-side combined, never |tokens|.",
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rn")
    )


# ---------------------------------------------------------------------------
# vocabulary build + token-id encoding
# ---------------------------------------------------------------------------

_VOCAB_V = 256


@register(
    "vocab_encode_docs",
    group="ext-text tokenize",
    oracle=f"""
WITH toks AS (
  -- two unnests in one SELECT zip positionally in DuckDB
  SELECT doc_id,
    unnest(generate_series(1, len(w))) AS pos,
    unnest(w) AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
vocab AS (
  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS INT) AS id
  FROM (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
  QUALIFY id <= {_VOCAB_V}
),
enc AS (
  SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
  FROM toks t LEFT JOIN vocab v USING (tok)
)
SELECT doc_id AS doc,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos, id) AS token_ids
FROM enc GROUP BY doc_id
""",
    doc="Tokenizer-style vocabulary build + corpus encoding: the top-"
    f"{_VOCAB_V} tokens by frequency (deterministic (count DESC, token "
    "ASC) ranking) become ids 1..V, everything else OOV id 0, and each "
    "doc is re-emitted as its token-id sequence (space-joined string — "
    "identical text on both engines) with token/OOV counts. Plan: one "
    "posexplode, a map-combined vocab count cut to the top V via "
    "orderBy().limit(V) (TakeOrderedAndProject: per-partition V-row "
    "heaps + driver merge — the global_rank_topk two-phase form, so "
    "the id window ranks V rows, never the full distinct-token "
    "frame), a BROADCAST left join of the V-row vocab onto the token "
    "stream, and one doc-keyed agg whose in-order reassembly is an "
    "array_sort fold, not an order-dependent collect.",
)
def vocab_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    # Explicit two-phase global top-V (the global_rank_topk pattern):
    # orderBy().limit(V) plans as TakeOrderedAndProject — per-partition
    # V-row heaps over the token counts, driver merge — and the id
    # window then ranks V rows, never the full distinct-token frame
    # (web-scale corpora have billions of distinct junk tokens). The
    # rank-then-filter form relied on LimitPushDownThroughWindow to
    # reach the same shape; this form is safe without the rule.
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(_VOCAB_V)
        .select("tok", F.row_number().over(w).cast("int").alias("id"))
    )
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id")
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("id") == 0).cast("bigint")).alias("n_oov"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"].cast("string"),
                ),
                " ",
            ).alias("token_ids"),
        )
        .select(
            F.col("doc_id").alias("doc"), "n_tokens", "n_oov", "token_ids"
        )
    )


# ---------------------------------------------------------------------------
# balanced per-class sample (exact k per group, hash-ranked)
# ---------------------------------------------------------------------------

_BAL_K = 50


@register(
    "balanced_class_sample",
    group="ext-sampling",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang,
    ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY {md5_long_sql("CAST(doc_id AS VARCHAR)")}, doc_id
    ) AS rk
  FROM documents
)
SELECT lang, doc_id AS doc FROM ranked WHERE rk <= {_BAL_K}
""",
    doc=f"Balanced per-class sampling: EXACTLY min({_BAL_K}, n) docs "
    "per language, chosen by ranking each class on a content hash of "
    "the id — a deterministic shuffle-order that behaves like a "
    "uniform draw but is identical across retries, repartitionings, "
    "and engines (df.sampleBy gives only EXPECTED fractions and is "
    "partition-order-dependent). One window shuffle partitioned by "
    "class — parallel across classes; at 100 TB swap the full "
    "per-class sort for a per-partition top-k heap + merge on the "
    "hash key (same trick as global_rank_topk).",
)
def balanced_class_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        md5_long(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _BAL_K)
        .select("lang", F.col("doc_id").alias("doc"))
    )


@register(
    "orders_sample_aes_topk",
    group="ext-sampling weighted",
    oracle=f"""
SELECT o_orderkey, o_totalprice AS weight
FROM (
  SELECT o_orderkey, o_totalprice,
    ln((CAST({md5_long_sql("'aes_' || CAST(o_orderkey AS VARCHAR)")} AS DOUBLE) + 1)
       / 1152921504606846976.0) / o_totalprice AS es_key
  FROM orders WHERE o_totalprice > 0
)
ORDER BY es_key DESC, o_orderkey
LIMIT 100
""",
    doc="Exact-k weighted sample without replacement (Efraimidis-"
    "Spirakis A-ES): top-100 orders by ln(u)/w rank with hash-uniform "
    "u, weight = o_totalprice. Deterministic (salted md5 u) so the "
    "oracle reselects the identical rows; es_key itself is excluded "
    "from the output (the ln ulp is engine-specific, the SELECTION is "
    "not — boundary gaps are ~1e9 ulps at this k/n). Compiles to "
    "TakeOrderedAndProject: per-partition top-k + driver merge, no "
    "global sort (operators/sampling.py).",
)
def orders_sample_aes_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return sampling.weighted_sample_exact_k(
        o, "o_orderkey", "o_totalprice", k=100
    ).select(
        "o_orderkey", F.col("o_totalprice").alias("weight")
    )


@register(
    "multimodal_audio_pipeline",
    group="ext-multimodal",
    oracle="""
WITH rows_ AS (
  -- ((x % m) + m) % m: FLOOR modulo, matching the Python synth's %
  -- for negative operands (edge-fuzzer find — see
  -- multimodal_image_pipeline's rows_ comment)
  SELECT doc_id AS doc,
         CAST(4000 + ((doc_id % 4) + 4) % 4 * 2000 AS INT) AS sr,
         CAST(64 + ((n_chars % 192) + 192) % 192 AS INT) AS n
  FROM documents
  WHERE doc_id % 89 <> 0 AND doc_id % 97 <> 0 AND n_chars IS NOT NULL
),
ok AS (SELECT DISTINCT doc, sr, n FROM rows_),
stream AS (
  SELECT doc, sr, n, string_agg(hx, '' ORDER BY i) AS hexs
  FROM (
    SELECT doc, sr, n, i, md5('aud:' || doc || ':' || i) AS hx
    FROM ok, unnest(generate_series(0, CAST((2*n + 15)//16 - 1 AS BIGINT))) AS t(i)
  ) GROUP BY doc, sr, n
),
samples AS (
  SELECT doc, sr, n, j,
    CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
  FROM (
    SELECT doc, sr, n, p.j,
      CAST(('0x' || substr(hexs, CAST(4*p.j + 1 AS INT), 4)) AS INT) AS v
    FROM stream, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS p(j)
  )
),
stats AS (
  SELECT doc, sr, n,
    SUM(CAST(s AS BIGINT) * s) AS sumsq,
    MAX(ABS(s)) AS peak,
    SUM(CASE WHEN (s < 0) <> (prev < 0) THEN 1 ELSE 0 END) AS zc
  FROM (
    SELECT doc, sr, n, s,
      LAG(s) OVER (PARTITION BY doc, sr, n ORDER BY j) AS prev
    FROM samples
  ) GROUP BY doc, sr, n
),
rz AS (
  SELECT doc, sr, n, md5(string_agg(quad, '' ORDER BY k)) AS rz_md5
  FROM (
    SELECT st.doc, st.sr, st.n, k.k,
      substr(st.hexs,
             CAST(4*((k.k*st.n)//GREATEST(1, (st.n*8000)//st.sr)) + 1 AS INT),
             4) AS quad
    FROM stream st,
         unnest(generate_series(0,
           CAST(GREATEST(1, (st.n*8000)//st.sr) - 1 AS BIGINT))) AS k(k)
  ) GROUP BY doc, sr, n
)
SELECT b.doc, b.sr AS sample_rate, b.n AS n_samples,
  CAST(b.n AS DOUBLE) / b.sr AS duration_s,
  sqrt(CAST(s.sumsq AS DOUBLE) / b.n) AS rms,
  CAST(s.peak AS INT) AS peak,
  CAST(s.zc AS INT) AS zero_crossings,
  CAST(('0x' || substr(r.rz_md5, 1, 15)) AS UBIGINT)::BIGINT
    AS resampled_hash,
  CAST(NULL AS VARCHAR) AS error
FROM rows_ b JOIN stats s USING (doc, sr, n) JOIN rz r USING (doc, sr, n)
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
  'malformed:not an audio blob (bad magic)'
FROM documents WHERE doc_id % 89 = 0
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
  'needs-codec:riff/wav decode requires an audio codec '
  || '(librosa/ffmpeg); FAUD blobs exercise the same pipeline codec-free'
FROM documents WHERE doc_id % 89 <> 0 AND doc_id % 97 = 0
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
  'null-payload'
FROM documents
WHERE doc_id IS NULL
   OR (doc_id % 89 <> 0 AND doc_id % 97 <> 0 AND n_chars IS NULL)
""",
    doc="Full audio pipeline over synthesized FAUD PCM blobs: decode "
    "(real header parse) -> duration/RMS/peak/zero-crossing stats -> "
    "nearest-neighbor resample to 8 kHz (real index math) -> "
    "resampled-content hash, one Arrow mapInPandas pass with per-row "
    "error isolation (operators/multimodal.py::audio_pipeline_features)."
    " Every 89th doc carries a deliberately corrupt blob and every "
    "97th a codec-gated RIFF header to keep both error paths hot. "
    "FULL DuckDB oracle (VERDICT r07 item 4): md5-stream big-endian "
    "int16 PCM, integer-exact sum-of-squares (any summation order is "
    "exact under 2^53) -> one sqrt for RMS, the LAG sign-flip count "
    "for zero crossings, the floor-index resample grid, and the "
    "hex-domain resampled-content hash, all re-derived in SQL; "
    "feature work per DISTINCT (doc, sr, n), joined back to keep "
    "duplicate-row grain.",
)
def multimodal_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator as _It

    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                # isna before int() — a NULL anywhere in the Arrow
                # column flips it to float64, where f"aud:{did}" would
                # render 'aud:3.0' and silently change seeds (same
                # guard as multimodal_image_pipeline); the corrupt and
                # codec-gate branches need only doc_id, so a NULL
                # n_chars must not preempt them
                if _pd.isna(did):
                    payloads.append(None)
                elif int(did) % 89 == 0:
                    payloads.append(b"corrupt")  # malformed-path coverage
                elif int(did) % 97 == 0:
                    payloads.append(b"RIFF....WAVE")  # codec-gate coverage
                elif _pd.isna(nc):
                    payloads.append(None)
                else:
                    sr = 4000 + (int(did) % 4) * 2000
                    n = 64 + int(nc) % 192
                    payloads.append(
                        multimodal.encode_fake_audio(sr, n, f"aud:{int(did)}")
                    )
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(pdf["doc_id"]).astype("Int64"),
                    "payload": payloads,
                }
            )

    media = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return multimodal.audio_pipeline_features(media, "doc_id", "payload")


# ---------------------------------------------------------------------------
# round 4: containment dedup, BM25 search, per-group A-ES
# ---------------------------------------------------------------------------


@register(
    "dedup_containment",
    group="ext-dedup containment",
    oracle=f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc, COUNT(*) AS n FROM shingle_pairs GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS c
  FROM shingle_pairs a JOIN shingle_pairs b
    ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
directed AS (
  SELECT doc_a AS src, doc_b AS dst, c FROM common
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst, c FROM common
)
SELECT src, dst, CAST(c AS DOUBLE) / s.n AS containment
FROM directed JOIN sizes s ON src = s.doc
WHERE CAST(c AS DOUBLE) / s.n >= 0.6
""",
    doc="Directed containment pairs C(src->dst) = |S_src ∩ S_dst| / "
    "|S_src| >= 0.6 over 3-gram shingles — the asymmetric dedup "
    "jaccard misses: a short doc quoted inside a long one contains "
    "~fully in that direction while the union-dominated jaccard stays "
    "low. Same single-shuffle inverted-index kernel as "
    "dedup_ngram_jaccard; both directions fan out from ONE symmetric "
    "intersection count (operators/dedup.py::containment_pairs).",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.6,
    )


def _bm25_lex_ctes(k: int = 10, max_postings: int | None = None) -> str:
    """WITH-body fragment ending in ``lex`` = (query_id, doc, rank),
    the BM25 top-k ranking — shared verbatim between the standalone
    ``search_bm25_topk`` oracle and the hybrid-RRF fusion oracle so
    the two can never drift apart on the fixed-point/avgdl subtleties
    documented inline. ``max_postings`` mirrors the operator's
    champion-list candidate pruning (operators/search.py::bm25_topk):
    each term nominates its top-P postings by the 45-bit-quantized
    impact (idf is per-term constant, so impact order IS contribution
    order), ties (doc, tf desc, dlen); a query scores only docs
    nominated by one of its own terms, over ALL their postings —
    scores of survivors stay exact. The prune is part of the result
    contract, re-derived here so DuckDB cuts identically — including
    the ADAPTIVE skip (VERDICT r09 item 1): nomination applies only
    when it can bind, ``|distinct query terms| * P < n_docs`` (the
    ``bindflag`` CTE — both operands exact integers, so the branch
    never flips on an engine ulp; when it cannot bind the candidate
    filter is a WHERE-disabled LEFT JOIN and the scoring is the exact
    form, matching the operator's driver-side branch)."""
    if max_postings is None:
        cap_ctes = ""
        cands_join = ""
        cands_where = ""
    else:
        cap_ctes = f"""imp AS (
  SELECT post.doc, post.term, post.tf, dl.dlen,
    -- the impact sub-expression of s below, 45-bit quantized: an
    -- exact integer rank key, so the P-boundary cut cannot flip on a
    -- cross-engine ulp
    CAST(floor(
      (post.tf * CAST(2.2 AS DOUBLE))
      / (post.tf + 1.2 * (0.25 + 0.75 * dl.dlen / stats.avgdl))
      * 35184372088832.0 + 0.5) AS BIGINT) AS q45
  FROM post
  JOIN dl ON dl.doc = post.doc
  CROSS JOIN stats
  WHERE post.term IN (SELECT term FROM qt)
),
nom AS (
  SELECT term, doc FROM (
    SELECT term, doc, ROW_NUMBER() OVER (
      PARTITION BY term
      ORDER BY q45 DESC, doc ASC, tf DESC, dlen ASC) AS pr
    FROM imp
  ) WHERE pr <= {int(max_postings)}
),
cands AS (
  SELECT DISTINCT qt.query_id, nom.doc FROM nom JOIN qt USING (term)
),
-- adaptive bind decision, mirroring the operator's driver-side
-- branch bit-for-bit: nomination runs only when the champion union's
-- upper bound (|distinct query terms| x P) is smaller than the
-- corpus ROW count (raw COUNT(*), not the deduped stats.n_docs — the
-- operator uses docs.count(), metadata-only on parquet); otherwise
-- the prune is pure overhead and the operator returns the plain
-- exact plan. Both operands are exact integers.
bindflag AS (
  SELECT ((SELECT COUNT(DISTINCT term) FROM qt) * {int(max_postings)})
         < (SELECT COUNT(*) FROM d) AS binds
),
"""
        cands_join = (
            "\n    LEFT JOIN cands ON cands.query_id = qt.query_id"
            " AND cands.doc = post.doc"
        )
        cands_where = (
            "\n    WHERE cands.doc IS NOT NULL"
            " OR NOT (SELECT binds FROM bindflag)"
        )
    scored_src = f"""FROM qt
    JOIN post ON post.term = qt.term
    JOIN dfreq ON dfreq.term = qt.term
    JOIN dl ON dl.doc = post.doc{cands_join}
    CROSS JOIN stats{cands_where}"""
    tf_col, dlen_col = "post.tf", "dl.dlen"
    return f"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
-- DISTINCT: a duplicated doc row would otherwise appear twice in dl
-- and the scored JOIN would double that doc's score contributions,
-- while Spark folds dlen into the tf group key (differential-fuzzer
-- find)
dl AS (SELECT DISTINCT doc_id AS doc, len(w) AS dlen FROM d),
post AS (SELECT doc_id AS doc, t AS term, COUNT(*) AS tf
         FROM d, UNNEST(w) AS u(t) GROUP BY 1, 2),
-- SUM/COUNT, not AVG: exact-integer mean, see bm25_topk's avgdl note
stats AS (SELECT COUNT(*) AS n_docs,
          CAST(SUM(dlen) AS DOUBLE) / COUNT(dlen) AS avgdl FROM dl),
qt AS (SELECT DISTINCT doc_id AS query_id, t AS term
       FROM (SELECT doc_id, UNNEST(w[1:3]) AS t FROM d WHERE doc_id % 100 = 0)
       WHERE t <> ''),
dfreq AS (SELECT term, COUNT(DISTINCT doc) AS df FROM post
          WHERE term IN (SELECT term FROM qt) GROUP BY 1),
{cap_ctes}scored AS (
  -- 45-bit fixed-point integer SUM mirrors operators/search.py::
  -- bm25_topk's deterministic summation (see its comment): a bare
  -- float SUM's addend order is unspecified, and near-tie scores flip
  -- by an ulp
  SELECT query_id, doc,
    SUM(CAST(floor(s * 35184372088832.0 + 0.5) AS BIGINT)) AS score
  FROM (
    SELECT qt.query_id, {tf_col.split('.')[0]}.doc, qt.term,
      -- CAST(2.2 AS DOUBLE): the bare literal is DECIMAL in DuckDB,
      -- and DECIMAL * BIGINT tf is EXACT (6.6) where Spark's
      -- double(2.2) * tf is not (6.6000000000000005…) — the latent
      -- ulp class the r07b fuzzer caught in events_weighted_sample;
      -- here the 45-bit floor has absorbed it so far, but a straddle
      -- at the quantization boundary would flip a rank. The other
      -- literals are dyadic (0.5/0.25/0.75) or multiply doubles (1.2),
      -- where DECIMAL->DOUBLE casting lands on the identical value.
      -- The inner parens force idf * (impact/den) — the operator's
      -- idf * _impact(...) association (ADVICE r09: the bare
      -- a * b / c parses left-associated (a*b)/c, which can differ
      -- from a*(b/c) by 1 ulp and flip the quantization addend on a
      -- rounding boundary; the nomination key q45 above already used
      -- the impact-first association).
      ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
        * (({tf_col} * CAST(2.2 AS DOUBLE))
           / ({tf_col} + 1.2 * (0.25 + 0.75 * {dlen_col} / stats.avgdl))) AS s
    {scored_src}
  )
  GROUP BY 1, 2
),
lex AS (
  SELECT query_id, doc, CAST(rank AS INT) AS rank FROM (
    SELECT query_id, doc,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc) AS rank
    FROM scored
  ) WHERE rank <= {k}
)"""


@register(
    "search_bm25_topk",
    group="ext-search",
    oracle=f"""
WITH {_bm25_lex_ctes(10)}
SELECT query_id, doc, rank FROM lex
""",
    doc="BM25 top-10 retrieval (Lucene-style idf, k1=1.2 b=0.75) for "
    "queries synthesized from every 100th doc's first 3 words — the "
    "lexical complement to the ANN family, used for eval mining and "
    "contamination forensics. Query terms broadcast and prune the "
    "corpus token stream MAP-SIDE, so only matching token hits ever "
    "shuffle — term frequencies are one linear groupBy over those "
    "hits (a row-local array-HOF formulation avoided even that "
    "shuffle but did O(distinct x len) work per doc — quadratic in "
    "doc length, measured 2x slower; see operators/search.py); "
    "scores stay internal (ulp discipline), output is (query, doc, "
    "rank) (operators/search.py::bm25_topk).",
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import search

    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(F.split(F.col("text"), " "), 1, 3)).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    return search.bm25_topk(docs, q, "doc_id", "text", k=10)


@register(
    "search_hybrid_rrf_topk",
    group="ext-search hybrid",
    oracle=f"""
WITH {_bm25_lex_ctes(10, max_postings=512)},
sbase AS (SELECT vec_id, embedding AS v FROM embeddings
          WHERE {_dot_sql("embedding", "embedding")} > 0),
sq AS (SELECT vec_id AS query_id, v AS qv FROM sbase WHERE vec_id % 100 = 0),
sc AS (SELECT vec_id AS cand_id, v AS cv FROM sbase),
sscored AS (
  SELECT query_id, cand_id, {_cos_sql("qv", "cv")} AS cos_sim
  FROM sc JOIN sq ON sc.cand_id != sq.query_id
),
sem AS (
  SELECT query_id, cand_id, CAST(rn AS INT) AS rnk FROM (
    SELECT query_id, cand_id, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rn
    FROM sscored
  ) WHERE rn <= 10
),
-- rrf_fuse's defensive contract reduction (ADVICE r08): a duplicated
-- corpus id makes a ranker emit TWO rows for one (query, doc) — the
-- r09a fuzzer planted exactly this (dup doc 387 occupied two cosine
-- rank slots) — and a bare full join would fan the duplicate out into
-- duplicate fused rows. Both engines keep the BEST (minimum) rank.
lexu AS (SELECT query_id, doc, MIN(rank) AS rank FROM lex GROUP BY 1, 2),
semu AS (SELECT query_id, cand_id, MIN(rnk) AS rnk FROM sem GROUP BY 1, 2),
-- two addends only, so the float RRF sum is order-free (IEEE addition
-- is commutative); each addend is one division of exact small
-- integers — bit-identical cross-engine
fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.doc, s.cand_id) AS doc_id,
         COALESCE(CAST(1 AS DOUBLE) / (60 + l.rank), CAST(0 AS DOUBLE))
           + COALESCE(CAST(1 AS DOUBLE) / (60 + s.rnk), CAST(0 AS DOUBLE))
           AS score,
         l.doc IS NOT NULL AS in_lex,
         s.cand_id IS NOT NULL AS in_sem
  FROM lexu l FULL JOIN semu s
    ON l.query_id = s.query_id AND l.doc = s.cand_id
)
SELECT query_id, doc_id, CAST(rn AS INT) AS fused_rank, in_lex, in_sem
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM fused
) WHERE rn <= 10
""",
    doc="Hybrid retrieval: reciprocal-rank fusion (k0=60) of the "
    "BM25 top-10 (lexical) and exact-cosine top-10 (semantic) "
    "rankers — the standard two-tower recipe for eval mining and "
    "hard-negative selection, where either ranker alone misses "
    "(lexical: paraphrases; semantic: rare exact terms). The lexical "
    "tower runs champion-list candidate pruning (each term nominates "
    "its 512 highest-impact postings; only nominated docs are "
    "scored, over ALL their postings, so survivors' scores are "
    "exact — VERDICT r08 item 4): the candidate set is workload- "
    "sized (<= |terms| x 512 docs, broadcastable), not corpus-sized "
    "— the unpruned form walled 18.5 s at 10x because every fixture "
    "query term matches ~78% of the corpus (search_bm25_topk keeps "
    "the exact form as the baseline). The prune is ADAPTIVE "
    "(VERDICT r09 item 1): nomination runs only when it can bind — "
    "|distinct query terms| x P < corpus row count (the champion "
    "union's upper bound already covers a small corpus, making "
    "nomination + its checkpoints pure overhead: ~2 s at sf0.1's 5k "
    "docs) — so fixture-scale runs return the plain exact plan while "
    "10x+ corpora prune. The prune AND the bind decision are part of "
    "the contract: the oracle re-derives the identical "
    "45-bit-quantized nomination cut and the identical integer bind "
    "comparison (bindflag CTE). "
    "Fusion is rank-only, k-bounded per query (full-outer join + "
    "window over |Q| x O(k) rows — operators/search.py::rrf_fuse). "
    "Queries whose id has no embedding (or a zero-norm one) fuse "
    "from the lexical list alone, and vice versa — in_lex/in_sem "
    "expose which tower retrieved each hit.",
)
def search_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import search, similarity

    docs = load_table(spark, sf_dir, "documents")
    qt = (
        docs.filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(F.split(F.col("text"), " "), 1, 3)).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    lex = search.bm25_topk(
        docs, qt, "doc_id", "text", k=10, max_postings_per_term=512
    ).select("query_id", F.col("doc").alias("doc_id"), "rank")
    emb = load_table(spark, sf_dir, "embeddings")
    sem = similarity.brute_force_topk_arrow(
        emb, emb.filter(F.col("vec_id") % 100 == 0), "vec_id", "embedding",
        k=10,
    ).select(
        "query_id", F.col("cand_id").alias("doc_id"), F.col("rnk").alias("rank")
    )
    return search.rrf_fuse(
        lex, sem, k=10, a_flag="in_lex", b_flag="in_sem"
    )


@register(
    "search_rrf_fuse_3",
    group="ext-search hybrid nway",
    oracle=f"""
WITH {_bm25_lex_ctes(10, max_postings=512)},
sbase AS (SELECT vec_id, embedding AS v FROM embeddings
          WHERE {_dot_sql("embedding", "embedding")} > 0),
sq AS (SELECT vec_id AS query_id, v AS qv FROM sbase WHERE vec_id % 100 = 0),
sc AS (SELECT vec_id AS cand_id, v AS cv FROM sbase),
sscored AS (
  SELECT query_id, cand_id, {_cos_sql("qv", "cv")} AS cos_sim
  FROM sc JOIN sq ON sc.cand_id != sq.query_id
),
sem AS (
  SELECT query_id, cand_id, CAST(rn AS INT) AS rnk FROM (
    SELECT query_id, cand_id, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rn
    FROM sscored
  ) WHERE rn <= 10
),{_SHINGLES_CTE},
-- word-3-gram jaccard tower (operators/search.py::jaccard_topk):
-- query shingles are the %100 docs' own shingles; similarity is
-- |A∩B| / (|A|+|B|-|A∩B|) over DISTINCT shingles — both counts exact
-- integers, one IEEE division, bit-reproducible
jqs AS (SELECT doc AS query_id, shingle FROM shingle_pairs
        WHERE doc % 100 = 0),
jsizes AS (SELECT doc, COUNT(*) AS n FROM shingle_pairs GROUP BY doc),
jinter AS (
  SELECT q.query_id, p.doc, COUNT(*) AS c
  FROM shingle_pairs p JOIN jqs q
    ON p.shingle = q.shingle AND p.doc != q.query_id
  GROUP BY 1, 2
),
jscored AS (
  SELECT i.query_id, i.doc,
    CAST(i.c AS DOUBLE) / (qs.n + ds.n - i.c) AS sim
  FROM jinter i
  JOIN jsizes qs ON qs.doc = i.query_id
  JOIN jsizes ds ON ds.doc = i.doc
),
jac AS (
  SELECT query_id, doc, CAST(rn AS INT) AS rank FROM (
    SELECT query_id, doc, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, doc ASC) AS rn
    FROM jscored
  ) WHERE rn <= 10
),
-- N-way RRF (operators/search.py::rrf_fuse_n): per-ranker min-rank
-- reduction (same defensive contract as the binary fuse), then ONE
-- aggregation whose addends are 45-bit-quantized — with three addends
-- a float sum's value depends on addend order, so the sum is an exact
-- integer, order-free and map-combinable, mirrored here bit-for-bit
lexu AS (SELECT query_id, doc AS doc_id, MIN(rank) AS rank
         FROM lex GROUP BY 1, 2),
semu AS (SELECT query_id, cand_id AS doc_id, MIN(rnk) AS rank
         FROM sem GROUP BY 1, 2),
jacu AS (SELECT query_id, doc AS doc_id, MIN(rank) AS rank
         FROM jac GROUP BY 1, 2),
allr AS (
  SELECT query_id, doc_id, rank, 0 AS tag FROM lexu
  UNION ALL SELECT query_id, doc_id, rank, 1 FROM semu
  UNION ALL SELECT query_id, doc_id, rank, 2 FROM jacu
),
fusedn AS (
  SELECT query_id, doc_id,
    SUM(CAST(floor(CAST(1 AS DOUBLE) / (60 + rank)
        * 35184372088832.0 + 0.5) AS BIGINT)) AS score,
    bool_or(tag = 0) AS in_lex,
    bool_or(tag = 1) AS in_sem,
    bool_or(tag = 2) AS in_jac
  FROM allr GROUP BY 1, 2
)
SELECT query_id, doc_id, CAST(rn AS INT) AS fused_rank,
       in_lex, in_sem, in_jac
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM fusedn
) WHERE rn <= 10
""",
    doc="THREE-tower reciprocal-rank fusion (k0=60): champion-list "
    "BM25 with the ADAPTIVE bind (P=512 — the hybrid entry's scale "
    "path composed into N-way fusion; exact plan at fixture scale, "
    "pruned at 10x+), exact cosine (semantic), and word-3-gram Jaccard "
    "top-10 (near-verbatim overlap — catches stopword-heavy quotes "
    "BM25 underweights and OOV strings embeddings miss) fused by "
    "operators/search.py::rrf_fuse_n — the N-way generalization the "
    "binary rrf_fuse's docstring specifies but deliberately does not "
    "compute (nested binary fusion scores an intermediate, not the "
    "sum of original reciprocal ranks). With three addends a float "
    "RRF sum is order-dependent, so each 1/(k0+rank) addend is "
    "quantized to 45 fractional bits and summed as an exact integer "
    "— order-free, map-combinable, bit-identical in the oracle. All "
    "three towers are k-bounded per query, so fusion runs on "
    "|Q| x O(3k) rows; the jaccard tower broadcasts query shingles "
    "and semi-prunes the corpus shingle stream map-side (the bm25 "
    "only-hits-shuffle kernel).",
)
def search_rrf_fuse_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import search, similarity

    docs = load_table(spark, sf_dir, "documents")
    qt = (
        docs.filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(F.split(F.col("text"), " "), 1, 3)).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    lex = search.bm25_topk(
        docs, qt, "doc_id", "text", k=10, max_postings_per_term=512
    ).select("query_id", F.col("doc").alias("doc_id"), "rank")
    emb = load_table(spark, sf_dir, "embeddings")
    sem = similarity.brute_force_topk_arrow(
        emb, emb.filter(F.col("vec_id") % 100 == 0), "vec_id",
        "embedding", k=10,
    ).select(
        "query_id", F.col("cand_id").alias("doc_id"),
        F.col("rnk").alias("rank"),
    )
    jq = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    jac = search.jaccard_topk(docs, jq, "doc_id", "text", k=10).select(
        "query_id", F.col("doc").alias("doc_id"), "rank"
    )
    return search.rrf_fuse_n(
        [("lex", lex), ("sem", sem), ("jac", jac)], k=10
    )


@register(
    "search_qld_topk",
    group="ext-search",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
dl AS (SELECT DISTINCT doc_id AS doc, len(w) AS dlen FROM d),
post AS (SELECT doc_id AS doc, t AS term, COUNT(*) AS tf
         FROM d, UNNEST(w) AS u(t) GROUP BY 1, 2),
qt AS (SELECT DISTINCT doc_id AS query_id, t AS term
       FROM (SELECT doc_id, UNNEST(w[1:3]) AS t FROM d WHERE doc_id % 100 = 0)
       WHERE t <> ''),
qsz AS (SELECT query_id, COUNT(*) AS qn FROM qt GROUP BY 1),
-- collection term frequency over the hit-pruned stream (pruning to
-- query terms loses nothing) and total corpus tokens |C| over the
-- DISTINCT (doc, dlen) set — bm25's duplicate-row discipline
cf AS (SELECT term, SUM(tf) AS cf FROM post
       WHERE term IN (SELECT term FROM qt) GROUP BY 1),
stats AS (SELECT CAST(SUM(dlen) AS DOUBLE) AS n_tokens FROM dl),
contrib AS (
  -- mu = 2000 written CAST(2000 AS DOUBLE): exact integer, identical
  -- after cast in both engines; association mirrors the operator's
  -- tf / (mu * (cf/n_tokens)) exactly
  SELECT qt.query_id, post.doc, dl.dlen,
    ln(1.0 + post.tf
       / (CAST(2000 AS DOUBLE) * (cf.cf / stats.n_tokens))) AS s
  FROM qt
  JOIN post ON post.term = qt.term
  JOIN dl ON dl.doc = post.doc
  JOIN cf ON cf.term = qt.term
  CROSS JOIN stats
),
scored AS (
  -- 45-bit fixed-point addends (the bm25 exact-cents idiom): with
  -- |q| > 2 addends a float sum is order-dependent; the doc-length
  -- part ln(mu/(dlen+mu)) is quantized identically and added qn
  -- times (dlen and qn are constants of the group — MIN is the SQL
  -- spelling of 'the value')
  SELECT c.query_id, c.doc,
    SUM(CAST(floor(c.s * 35184372088832.0 + 0.5) AS BIGINT))
    + MIN(q.qn) * CAST(floor(
        ln(CAST(2000 AS DOUBLE) / (MIN(c.dlen) + CAST(2000 AS DOUBLE)))
        * 35184372088832.0 + 0.5) AS BIGINT) AS score
  FROM contrib c JOIN qsz q ON q.query_id = c.query_id
  GROUP BY 1, 2
)
SELECT query_id, doc, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, doc, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc) AS rank
  FROM scored
) WHERE rank <= 10
""",
    doc="Dirichlet-smoothed query-likelihood retrieval (Zhai & "
    "Lafferty, mu=2000) — the language-modeling ranker beside BM25's "
    "probabilistic one; the two disagree most on long docs and rare "
    "terms, so retrieval suites ship both. Same only-hits-shuffle "
    "kernel as bm25_topk (query terms broadcast, corpus token stream "
    "pruned map-side, collection stats as exact-integer SUM/COUNT); "
    "candidates are docs matching >= 1 query term by contract (the "
    "zero-match score depends only on dlen and would turn top-k into "
    "a corpus-wide sort). Score = sum_t ln(1 + tf/(mu*cf_t/|C|)) + "
    "|q|*ln(mu/(dlen+mu)), every addend 45-bit-quantized so the "
    ">2-addend sum is order-free, map-combinable, and bit-identical "
    "in the oracle (operators/search.py::query_likelihood_topk).",
)
def search_qld_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import search

    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(F.split(F.col("text"), " "), 1, 3)).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    return search.query_likelihood_topk(docs, q, "doc_id", "text", k=10)


@register(
    "orders_sample_aes_per_priority",
    group="ext-sampling weighted",
    oracle=f"""
SELECT o_orderkey, o_orderpriority, o_totalprice AS weight
FROM (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY
      ln((CAST({md5_long_sql("'aesg_' || CAST(o_orderkey AS VARCHAR)")} AS DOUBLE) + 1)
         / 1152921504606846976.0) / o_totalprice DESC,
      o_orderkey) AS rk
  FROM orders WHERE o_totalprice > 0
) WHERE rk <= 3
""",
    doc="A-ES exact-k weighted sampling per stratum: top-3 orders per "
    "o_orderpriority by ln(u)/w rank, weight = o_totalprice — "
    "per-source/per-language weighted downsampling in one "
    "group-keyed window pass "
    "(operators/sampling.py::weighted_sample_exact_k_per_group).",
)
def orders_sample_aes_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return sampling.weighted_sample_exact_k_per_group(
        o, "o_orderkey", "o_totalprice", "o_orderpriority", k=3
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").alias("weight"),
    )


# 64-dim embeddings -> 16 subspaces of 4 dims, 32 codewords each.
# Measured recall@10 vs brute force with md5-sampled (untrained)
# codebooks: (m=4,c=16) 0.18 -> (8,16) 0.24 -> (8,32) 0.40 ->
# (16,16) 0.40 -> (16,32) 0.54 — monotone in both knobs, the
# structural property tests pin; trained (k-means) codebooks raise
# the whole curve in production.
_PQ_M, _PQ_CODES, _PQ_SUB = 16, 32, 4


def _pq_oracle() -> str:
    m, nc, sub = _PQ_M, _PQ_CODES, _PQ_SUB

    # norm>0 mirrors pq_topk's _nonzero_norm (family convention): a
    # NULL vector cannot be encoded — Spark's argmin fold would stay
    # at its -1 sentinel and ADC would index 0 (differential-fuzzer
    # crash find)
    return f"""
WITH base AS (SELECT vec_id, embedding AS v FROM embeddings
              WHERE {_dot_sql("embedding", "embedding")} > 0),
cents AS (
  -- vec_id IS NOT NULL mirrors _pq_sample_rows (see _ivf_oracle)
  SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id IS NOT NULL
  ORDER BY {md5_long_sql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT {nc}
),
cb AS (SELECT list(cv ORDER BY cid) AS cbl FROM cents),
coded AS (
  SELECT b.vec_id AS cand_id,
    list_transform(generate_series(0, {m - 1}), s ->
      list_reduce(
        list_transform(generate_series(1, {nc}), j -> {{
          'd2': {_pq_l2_sql("b.v", "cb.cbl[j]", sub)},
          'j': j - 1 }}),
        (a, c) -> CASE WHEN c.d2 < a.d2 OR (c.d2 = a.d2 AND c.j < a.j)
                  THEN c ELSE a END).j) AS code
  FROM base b CROSS JOIN cb
),
qlut AS (
  SELECT q.vec_id AS query_id,
    list_transform(generate_series(0, {m - 1}), s ->
      list_transform(generate_series(1, {nc}), j ->
        list_reduce(list_transform(generate_series(1, {sub}),
          i -> CAST(q.v[s*{sub}+i] AS DOUBLE) * CAST(cb.cbl[j][s*{sub}+i] AS DOUBLE)),
          (x, y) -> x + y))) AS lut
  FROM base q CROSS JOIN cb WHERE q.vec_id % 100 = 0
),
scored0 AS (
  SELECT ql.query_id, c.cand_id,
    list_reduce(list_transform(generate_series(1, {m}), s ->
      ql.lut[s][c.code[s] + 1]), (x, y) -> x + y) AS adc_score
  FROM coded c CROSS JOIN qlut ql
  WHERE c.cand_id != ql.query_id
),
-- pair grain mirrors pq_topk (family contract, see lsh oracles)
scored AS (
  SELECT query_id, cand_id, MAX(adc_score) AS adc_score
  FROM scored0 GROUP BY 1, 2
)
SELECT query_id, cand_id, adc_score, CAST(rn AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adc_score DESC, cand_id ASC) AS rn
  FROM scored
) t WHERE rn <= {_TOPK}
"""


@register(
    "similarity_topk_pq",
    group="ext-similarity pq",
    oracle=_pq_oracle(),
    doc="Product-quantization approximate top-5 with ADC scoring: "
    "16 subspaces x 32 codewords (md5-sampled slices, the k-means "
    "stand-in), candidates compress to 16 codes in a narrow Arrow "
    "argmin map (the index-memory trick: 256 bytes of floats -> 16 "
    "small codes), queries get their 16x32 dot LUT from one Arrow "
    "pass, and each pair scores via 16 lookups + adds "
    "instead of 64 multiplies. Exhaustive over candidates by contract "
    "(PQ compresses, IVF prunes — compose for both); measured "
    "recall@10 0.54, monotone in both knobs "
    "(operators/similarity.py::pq_topk).",
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, _queries_df(spark, sf_dir), "vec_id", "embedding",
        k=_TOPK, m=_PQ_M, n_codes=_PQ_CODES,
    )


def _ivf_pq_oracle() -> str:
    m, nc, sub = _PQ_M, _PQ_CODES, _PQ_SUB
    cells, nprobe = _IVF_CELLS, _IVF_NPROBE

    return f"""
WITH base AS (
  SELECT vec_id, embedding AS v, sqrt({_dot_sql("embedding", "embedding")}) AS nrm
  FROM embeddings WHERE {_dot_sql("embedding", "embedding")} > 0
),
cents AS (
  -- vec_id IS NOT NULL mirrors _pq_sample_rows: NULL ids have no
  -- cross-engine-stable md5 sample position and no int cell id
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM base WHERE vec_id IS NOT NULL
  ORDER BY {md5_long_sql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT {cells}
),
pqs AS (
  SELECT vec_id AS cid, v AS cv FROM base
  ORDER BY {md5_long_sql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT {nc}
),
cb AS (SELECT list(cv ORDER BY cid) AS cbl FROM pqs),
assigned AS (
  SELECT cand_id, candv, cell FROM (
    SELECT b.vec_id AS cand_id, b.v AS candv, c.cid AS cell,
      ROW_NUMBER() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_dot_sql("c.cv", "b.v")} / (c.cn * b.nrm) DESC, c.cid ASC
      ) AS rn
    FROM base b CROSS JOIN cents c
  ) t WHERE rn = 1
),
coded AS (
  SELECT a.cand_id, a.cell,
    list_transform(generate_series(0, {m - 1}), s ->
      list_reduce(
        list_transform(generate_series(1, {nc}), j -> {{
          'd2': {_pq_l2_sql("a.candv", "cb.cbl[j]", sub)},
          'j': j - 1 }}),
        (x, c) -> CASE WHEN c.d2 < x.d2 OR (c.d2 = x.d2 AND c.j < x.j)
                  THEN c ELSE x END).j) AS code
  FROM assigned a CROSS JOIN cb
),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, c.cid AS cell,
      ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_dot_sql("c.cv", "q.v")} / (c.cn * q.nrm) DESC, c.cid ASC
      ) AS rn
    FROM base q CROSS JOIN cents c WHERE q.vec_id % 100 = 0
  ) t WHERE rn <= {nprobe}
),
qlut AS (
  SELECT p.query_id, p.cell,
    list_transform(generate_series(0, {m - 1}), s ->
      list_transform(generate_series(1, {nc}), j ->
        list_reduce(list_transform(generate_series(1, {sub}),
          i -> CAST(p.qv[s*{sub}+i] AS DOUBLE) * CAST(cb.cbl[j][s*{sub}+i] AS DOUBLE)),
          (x, y) -> x + y))) AS lut
  FROM probes p CROSS JOIN cb
),
scored0 AS (
  SELECT ql.query_id, c.cand_id,
    list_reduce(list_transform(generate_series(1, {m}), s ->
      ql.lut[s][c.code[s] + 1]), (x, y) -> x + y) AS adc_score
  FROM coded c JOIN qlut ql ON c.cell = ql.cell
  WHERE c.cand_id != ql.query_id
),
-- pair grain mirrors ivf_pq_topk (family contract, see lsh oracles)
scored AS (
  SELECT query_id, cand_id, MAX(adc_score) AS adc_score
  FROM scored0 GROUP BY 1, 2
)
SELECT query_id, cand_id, adc_score, CAST(rn AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adc_score DESC, cand_id ASC) AS rn
  FROM scored
) t WHERE rn <= {_TOPK}
"""


@register(
    "similarity_topk_ivf_pq",
    group="ext-similarity ivf-pq",
    oracle=_ivf_pq_oracle(),
    doc="IVF-PQ composition, the classic production ANN index layout: "
    "IVF cells PRUNE (each query scores ~nprobe/n_cells of the "
    "corpus via the broadcast cell join) while PQ codes COMPRESS the "
    "scoring inside probed cells (16 LUT lookups per pair, 16 small "
    "codes per vector in the index instead of 64 floats). Cell "
    "assignment and PQ encode are one narrow Arrow map (zero corpus "
    "shuffle), each query's cells and LUT one Arrow pass; no codebook "
    "enters the plan (operators/similarity.py::ivf_pq_topk).",
)
def similarity_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        emb, _queries_df(spark, sf_dir), "vec_id", "embedding",
        k=_TOPK, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE,
        m=_PQ_M, n_codes=_PQ_CODES,
    )


@register(
    "text_feature_hashing",
    group="ext-text hashing-trick",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
)
SELECT doc_id,
  CAST({md5_long_sql("term")} % 256 AS INT) AS slot,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM tok GROUP BY 1, 2
""",
    doc="The hashing trick (Weinberger et al. 2009): tokens map "
    "straight to md5(term) mod 256 feature slots — NO vocabulary "
    "table, so unlike vocab_encode_docs there is no fitted state to "
    "broadcast, no OOV handling, and the vectorizer works on a "
    "stream it has never seen; collisions are the accepted trade "
    "and bounded by slot count. One explode + one map-combined "
    "(doc, slot) count; the sparse (doc_id, slot, cnt) triples ARE "
    "the vector representation downstream learners consume.",
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    return (
        tok.select(
            "doc_id",
            (md5_long(F.col("term")) % 256).cast("int").alias("slot"),
        )
        .groupBy("doc_id", "slot")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_SUBSTR_K = 20


@register(
    "dedup_substring_spans",
    group="ext-dedup substring",
    oracle=f"""
WITH g AS (
  SELECT doc_id AS doc, i::BIGINT AS pos,
         {md5_long_sql(f"substr(text, i::INT, {_SUBSTR_K})")} AS gh
  FROM documents,
       unnest(generate_series(1, greatest(length(text) - {_SUBSTR_K - 1}, 0))) AS t(i)
),
hot AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc) >= 2),
m AS (SELECT doc, pos FROM g JOIN hot USING (gh)),
b AS (
  SELECT doc, pos,
    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc ORDER BY pos) > {_SUBSTR_K}
         THEN 1 ELSE 0 END AS brk
  FROM m
),
i AS (
  SELECT doc, pos,
    SUM(brk) OVER (PARTITION BY doc ORDER BY pos) AS isl
  FROM b
)
SELECT doc, MIN(pos) AS span_start,
  MAX(pos) + {_SUBSTR_K - 1} AS span_end,
  MAX(pos) + {_SUBSTR_K} - MIN(pos) AS span_len,
  COUNT(*) AS n_grams
FROM i GROUP BY doc, isl
""",
    doc="Character-offset spans of substrings >= 20 chars repeated "
    "verbatim across >= 2 distinct docs (Lee et al. 2022: remove "
    "duplicated SPANS, not documents — the boilerplate/license-header "
    "case document-level dedup cannot touch). Suffix arrays don't "
    "distribute; the Spark-first equivalent is a k-gram position "
    "index -> hot-gram mark -> per-doc gaps-and-islands interval "
    "merge. Hot grams are only marked, never pair-joined, so "
    "stop-phrase skew costs O(occurrences), not O(occ^2); at 100 TB "
    "the index winnows (Schleimer 2003) to ~2/(w+1) of positions "
    "with guaranteed recall of matches >= w+k-1 "
    "(operators/dedup.py::substring_dedup_spans).",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.substring_dedup_spans(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=_SUBSTR_K,
        min_docs=2,
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6
_BPE_PREFIX = 120


def _bpe_oracle(rounds: int, prefix: int) -> str:
    """Chained-CTE DuckDB twin of textops.bpe_merge_table: round r's
    winner is a scalar subquery over round r-1's state, so the oracle
    re-derives the adaptive merge sequence with no literals from the
    Spark run. Every CTE is MATERIALIZED: each state is read by the
    next round's counts and twice through its winner subquery, and
    inlined CTEs re-derive the whole chain per read (measured at
    sf0.01 on DuckDB 1.0.0, 4 cores: ~1 min inlined vs 0.14 s
    materialized, identical rows)."""
    sep = "chr(31)"
    ctes = [
        f"""s0 AS MATERIALIZED (
  SELECT regexp_replace(substr(text, 1, {prefix}), '(?s)(.)',
                        {sep} || '\\1' || {sep}, 'g') AS st
  FROM documents WHERE length(text) >= 1)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""c{r} AS MATERIALIZED (
  SELECT pr, COUNT(*) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                 i -> w[i] || {sep} || w[i+1])) AS pr
    FROM (SELECT string_split(substr(st, 2, length(st) - 2),
                              {sep} || {sep}) AS w FROM s{p})
  ) GROUP BY 1),
w{r} AS MATERIALIZED (
  SELECT pr, cnt FROM c{r} ORDER BY cnt DESC, pr LIMIT 1),
s{r} AS MATERIALIZED (
  SELECT replace(st,
                 {sep} || replace((SELECT pr FROM w{r}), {sep},
                                  {sep} || {sep}) || {sep},
                 {sep} || replace((SELECT pr FROM w{r}), {sep}, '') || {sep})
         AS st FROM s{p})""")
    # a round with NO pairs left (empty corpus, or every doc merged to
    # one token) contributes NO merge row — the scalar subqueries are
    # NULL then, and the Spark trainer stops emitting (edge-fuzz find,
    # r06: an emptied documents table made the oracle emit
    # (round, NULL, NULL) rows the trainer rightly never produced)
    selects = "\nUNION ALL\n".join(
        f"SELECT {r} AS round,"
        f" replace((SELECT pr FROM w{r}), {sep}, '') AS merged,"
        f" (SELECT cnt FROM w{r}) AS cnt"
        f" WHERE (SELECT pr FROM w{r}) IS NOT NULL"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


@register(
    "text_bpe_merges",
    group="ext-text bpe",
    oracle=_bpe_oracle(_BPE_ROUNDS, _BPE_PREFIX),
    doc="BPE tokenizer training (Sennrich 2016, char-level as in "
    "GPT-2): 6 greedy rounds, each merging the corpus-wide most "
    "frequent adjacent token pair (ties lexicographic). The trained "
    "merge table IS the output. Tokenization state is a SEP-wrapped "
    "string per doc, so a merge is one row-local boundary-safe "
    "replace whose left-to-right semantics are exactly BPE's greedy "
    "application; per round the only exchange is a map-combined "
    "(pair, count) agg and the argmax is a TakeOrdered. The merge "
    "table is bounded driver metadata (the k-means-centroid "
    "precedent); the oracle re-derives the adaptive sequence via "
    "chained scalar-subquery CTEs "
    "(operators/textops.py::bpe_merge_table).",
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.bpe_merge_table(
        load_table(spark, sf_dir, "documents"),
        "text",
        rounds=_BPE_ROUNDS,
        prefix_chars=_BPE_PREFIX,
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints + winnowed substring spans
# ---------------------------------------------------------------------------

_WINNOW_W = 8


def _winnow_cte(k: int, w: int) -> str:
    """CTEs ending in ``wg``: the winnowed (doc, pos, gh) fingerprint
    index (DuckDB twin of dedup.winnowed_gram_index)."""
    return f"""g AS (
  SELECT doc_id AS doc, i::BIGINT AS pos,
         {md5_long_sql(f"substr(text, i::INT, {k})")} AS gh
  FROM documents,
       unnest(generate_series(1, greatest(length(text) - {k - 1}, 0))) AS t(i)
),
wg AS (
  SELECT DISTINCT doc, (-(m.np))::BIGINT AS pos, m.g AS gh FROM (
    SELECT doc, pos,
      MIN({{'g': gh, 'np': -pos}}) OVER (PARTITION BY doc ORDER BY pos
        ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS m
    FROM g) WHERE pos >= {w}
)"""


@register(
    "text_winnow_fingerprints",
    group="ext-text winnowing",
    oracle=f"""
WITH {_winnow_cte(_SUBSTR_K, _WINNOW_W)}
SELECT doc, pos, gh FROM wg
""",
    doc="Winnowing document fingerprints (Schleimer 2003, MOSS): per "
    "doc, the minimal 20-char-gram hash of each 8-gram window "
    "(rightmost on ties) — ~2/(w+1) of positions, yet any substring "
    "match >= w+k-1 chars still shares a selected fingerprint "
    "(self-synchronizing selection). One struct-min trailing window "
    "per doc, partition-parallel, no shuffle beyond the per-doc sort "
    "— the sampled drop-in for the full char_gram_index at 100 TB "
    "(operators/dedup.py::winnowed_gram_index).",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.winnowed_gram_index(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=_SUBSTR_K,
        w=_WINNOW_W,
    )


@register(
    "dedup_substring_spans_winnowed",
    group="ext-dedup substring",
    oracle=f"""
WITH {_winnow_cte(_SUBSTR_K, _WINNOW_W)},
hot AS (SELECT gh FROM wg GROUP BY gh HAVING COUNT(DISTINCT doc) >= 2),
m AS (SELECT doc, pos FROM wg JOIN hot USING (gh)),
b AS (
  SELECT doc, pos,
    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc ORDER BY pos)
              > {_SUBSTR_K + _WINNOW_W}
         THEN 1 ELSE 0 END AS brk
  FROM m
),
i AS (
  SELECT doc, pos,
    SUM(brk) OVER (PARTITION BY doc ORDER BY pos) AS isl
  FROM b
)
SELECT doc, MIN(pos) AS span_start,
  MAX(pos) + {_SUBSTR_K - 1} AS span_end,
  MAX(pos) + {_SUBSTR_K} - MIN(pos) AS span_len,
  COUNT(*) AS n_grams
FROM i GROUP BY doc, isl
""",
    doc="dedup_substring_spans over the winnowed index — the 100-TB "
    "shape: hot-mark + interval merge on ~1/4 the positions, islands "
    "breaking on gaps > k + w (consecutive fingerprints in one "
    "duplicated region are <= w apart). Approximate by contract "
    "(boundaries anchor at fingerprints, sub-(w+k-1) matches exempt) "
    "but every reported span is a true cross-doc duplicate — hot "
    "fingerprints are exact hash matches "
    "(operators/dedup.py::substring_dedup_spans_winnowed).",
)
def dedup_substring_spans_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.substring_dedup_spans_winnowed(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=_SUBSTR_K,
        w=_WINNOW_W,
        min_docs=2,
    )


@register(
    "text_langid_confusion",
    group="ext-text lang-eval",
    oracle=f"""
WITH hits AS (
  SELECT lang AS lang_label,
    {", ".join(f"{_lang_hits_sql(lang)} AS hits_{lang}" for lang in textops.LANG_STOPWORDS)}
  FROM documents WHERE text IS NOT NULL
)
SELECT lang_label, {_lang_case_sql()} AS lang_guess,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM hits GROUP BY 1, 2
""",
    doc="Language-ID evaluation: the stopword-vote guesser "
    "(functions in operators/textops.py, same votes text_profile "
    "surfaces) cross-tabulated against the corpus's labeled lang "
    "column — the confusion matrix a pipeline inspects before "
    "trusting heuristic LID for routing/filtering. Pure per-row "
    "expressions into one map-combined (label, guess) count; NULL "
    "labels group as their own row on both engines.",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return (
        docs.select(
            F.col("lang").alias("lang_label"),
            textops.lang_id("text").alias("lang_guess"),
        )
        .groupBy("lang_label", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "dedup_lsh_eval",
    group="ext-dedup evaluation",
    oracle=f"""
WITH {_minhash_pairs_ctes()},
sizes AS (SELECT doc, COUNT(*) AS n FROM shingle_pairs GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS c
  FROM shingle_pairs a JOIN shingle_pairs b
    ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
exact AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON doc_a = sa.doc
  JOIN sizes sb ON doc_b = sb.doc
  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
),
j AS (
  SELECT e.doc_a IS NOT NULL AS is_true, c.doc_a IS NOT NULL AS is_cand
  FROM exact e FULL JOIN cand c
    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
),
m AS (
  SELECT
    CAST(COUNT(CASE WHEN is_true AND is_cand THEN 1 END) AS BIGINT) AS tp,
    CAST(COUNT(CASE WHEN NOT is_true THEN 1 END) AS BIGINT) AS fp,
    CAST(COUNT(CASE WHEN NOT is_cand THEN 1 END) AS BIGINT) AS fn
  FROM j
)
SELECT tp, fp, fn,
  CASE WHEN tp + fp > 0
       THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
  CASE WHEN tp + fn > 0
       THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall
FROM m
""",
    doc="Dedup-quality evaluation: MinHash(16)+LSH(4x4) candidate "
    "pairs scored against the EXACT 3-gram Jaccard >= 0.5 truth set "
    "(full outer join on the pair key -> tp/fp/fn -> precision/"
    "recall) — the measurement a pipeline runs on a sample before "
    "trusting approximate dedup to delete data at 100 TB, expressed "
    "as a query so it runs ON the engine being evaluated (both sides "
    "are the already-cataloged operators; the truth side is the "
    "sample-sized exact join, never the production path). One "
    "integer-exact global aggregate; precision/recall are single "
    "divisions of exact counts, NULL when undefined (empty corpus).",
)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5
    ).select("doc_a", "doc_b", F.lit(True).alias("is_true"))
    cand = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text",
        num_hashes=_NUM_HASHES, band_size=_BAND_SIZE,
    ).select("doc_a", "doc_b", F.lit(True).alias("is_cand"))
    j = exact.join(cand, ["doc_a", "doc_b"], "full").select(
        F.coalesce("is_true", F.lit(False)).alias("is_true"),
        F.coalesce("is_cand", F.lit(False)).alias("is_cand"),
    )
    m = j.agg(
        F.count(F.when(F.col("is_true") & F.col("is_cand"), 1)).alias("tp"),
        F.count(F.when(~F.col("is_true"), 1)).alias("fp"),
        F.count(F.when(~F.col("is_cand"), 1)).alias("fn"),
    )
    return m.select(
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
        ).alias("recall"),
    )
