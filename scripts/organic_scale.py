#!/usr/bin/env python
"""Organic (non-replicated) 10x scale measurement — VERDICT r09 item 2.

BENCH_SF1 replicates sf0.1 ten times with key offsets, which is
deliberately adversarial for the dedup/search family: every document
becomes a 10-clone clique, every customer name exists 10x, so
pair-emitting operators see their posting-list worst case and their
measured slopes are dominated by output growth that a real corpus
doesn't have. This script measures the complementary point: a 10x
corpus of UNIQUE rows drawn from the same generative family as the
driver's testdata, so the slope isolates candidate-generation and
shuffle scaling from output-quadratic contract behavior.

Design:
- Both scale points (1x = 5k docs / 15k customers, 10x = 50k / 150k)
  come from ONE deterministic generator (md5-hash streams, like
  synth.py's fixture generators), so the slope compares a
  distribution to itself — the pristine testdata sf0.1 wall is also
  printed per entry as a sanity anchor for the 1x point.
- documents: word soup over the SAME vocabulary as the driver's
  documents table (extracted from sf0.1 at build time), doc lengths
  10..100 uniform via hash, lang/source sampled from the observed
  values; unique doc_ids, no clones (collision odds over a 31-word
  vocab at length >= 10 are negligible).
- customer: unique c_custkey 0..N-1 with the TPC-H-style
  'Customer#%09d' name derived from the key — near-matches arise
  organically from numeric-suffix adjacency instead of replication.
- Protocol per entry per corpus: bench.py's warm protocol (one cold
  run absorbed, second run reported, noop sink, python workers
  pre-warmed).

Output: one table on stdout (entry, t_1x, t_10x, organic slope,
adversarial BENCH_SF1 slope for contrast) + organic_scale.json beside
BENCH_SF1.json. Publish the table in docs/SCALE.md.

Usage: python scripts/organic_scale.py  (~5 min at local[32])
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from nba_spurs_etl_spark.plans.catalog import queries  # noqa: E402
from nba_spurs_etl_spark.session import default_parallelism, get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: the organic slope set (VERDICT r09 item 2): the pair-emitting
#: dedup/search entries whose adversarial 10x slopes are dominated by
#: clique replication
ENTRIES = [
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_jaccard_prefix_filtered",
    "fuzzy_match_customers",
    "search_bm25_topk",
    # the banded scale paths, measured on the same corpora so the
    # shingle family's super-linear organic slopes have their
    # in-engine answer on the same artifact (SCALE.md round-10)
    "dedup_minhash_lsh",
    "dedup_simhash_banded",
]

N_DOCS_1X = 5_000
N_CUST_1X = 15_000


def _h(seed: str) -> int:
    return int.from_bytes(hashlib.md5(seed.encode()).digest()[:8], "big")


def build_organic(spark, dst: str, k: int) -> None:
    """Synthesize a unique-row corpus at k x sf0.1 grain.

    Generation is expressed as DataFrame transforms over spark.range
    (hash-driven choice via xxhash64 — fully distributed; no driver
    loops), with the vocabulary / categorical pools read once from the
    pristine testdata so the distribution family matches the driver's
    generator.
    """
    docs_src = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    vocab = [
        r[0]
        for r in docs_src.select(
            F.explode(F.split("text", " ")).alias("w")
        ).where(F.col("w") != "").distinct().sort("w").collect()
    ]
    langs = [r[0] for r in docs_src.select("lang").distinct().sort("lang").collect()
             if r[0] is not None]
    sources = [r[0] for r in docs_src.select("source").distinct()
               .sort("source").collect() if r[0] is not None]

    n_docs = N_DOCS_1X * k
    va = F.array(*[F.lit(w) for w in vocab])
    la = F.array(*[F.lit(x) for x in langs])
    sa = F.array(*[F.lit(x) for x in sources])
    d = (
        spark.range(0, n_docs, 1, default_parallelism())
        .withColumnRenamed("id", "doc_id")
        # length 10..100, matching the testdata envelope
        .withColumn(
            "n_words",
            (F.pmod(F.xxhash64(F.col("doc_id"), F.lit("len")), F.lit(91)) + 10)
            .cast("int"),
        )
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_words")),
                    lambda i: F.element_at(
                        va,
                        (
                            F.pmod(
                                F.xxhash64(F.col("doc_id"), i),
                                F.lit(len(vocab)),
                            )
                            + 1
                        ).cast("int"),
                    ),
                ),
                " ",
            ),
        )
        .withColumn(
            "lang",
            F.element_at(
                la,
                (F.pmod(F.xxhash64(F.col("doc_id"), F.lit("lang")),
                        F.lit(len(langs))) + 1).cast("int"),
            ),
        )
        .withColumn(
            "source",
            F.element_at(
                sa,
                (F.pmod(F.xxhash64(F.col("doc_id"), F.lit("src")),
                        F.lit(len(sources))) + 1).cast("int"),
            ),
        )
        .withColumn("n_chars", F.length("text"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    d.write.mode("overwrite").parquet(os.path.join(dst, "documents.parquet"))

    cust_src = spark.read.parquet(os.path.join(SRC, "customer.parquet"))
    segs = [r[0] for r in cust_src.select("c_mktsegment").distinct()
            .sort("c_mktsegment").collect() if r[0] is not None]
    sega = F.array(*[F.lit(x) for x in segs])
    c = (
        spark.range(0, N_CUST_1X * k, 1, default_parallelism())
        .withColumnRenamed("id", "c_custkey")
        .withColumn(
            "c_name", F.format_string("Customer#%09d", F.col("c_custkey"))
        )
        .withColumn(
            "c_nationkey",
            (F.pmod(F.xxhash64(F.col("c_custkey"), F.lit("nat")), F.lit(25)))
            .cast("int"),
        )
        .withColumn(
            "c_acctbal",
            F.round(
                F.pmod(F.xxhash64(F.col("c_custkey"), F.lit("bal")),
                       F.lit(1_000_000)) / 100.0,
                2,
            ),
        )
        .withColumn(
            "c_mktsegment",
            F.element_at(
                sega,
                (F.pmod(F.xxhash64(F.col("c_custkey"), F.lit("seg")),
                        F.lit(len(segs))) + 1).cast("int"),
            ),
        )
    )
    c.write.mode("overwrite").parquet(os.path.join(dst, "customer.parquet"))


def main() -> int:
    spark = get_spark("organic-scale")
    dirs = {}
    for k in (1, 10):
        dst = f"/tmp/sforg{k}"
        if not os.path.isdir(dst):
            t0 = time.perf_counter()
            build_organic(spark, dst, k)
            print(f"built {dst} in {time.perf_counter()-t0:.1f}s",
                  file=sys.stderr)
        dirs[k] = dst

    # executor + python-worker warm-up; these corpora hold no NBA
    # tables, so bench.warm_up's table/silver part does not apply
    bench.warm_up(spark)

    qs = queries()

    def warm_run(name: str, sf_dir: str) -> tuple[float, int]:
        # the cold absorb doubles as the row-count probe (r10 review:
        # a separate post-warm .count() was a THIRD full execution per
        # entry — count() lets Catalyst prune cardinality-preserving
        # tails, which is fine for a warm-up, and the heavy joins/
        # shuffles still run, so the timed noop run below stays warm)
        rows = qs[name](spark, sf_dir).count()
        t0 = time.perf_counter()
        bench.drain(qs[name](spark, sf_dir))
        wall = time.perf_counter() - t0
        return round(wall, 2), rows

    # adversarial slopes for contrast, from the committed BENCH_SF1
    adv = {}
    try:
        with open(os.path.join(REPO, "BENCH_SF1.json")) as f:
            sf1 = json.load(f)
        for n in ENTRIES:
            a = sf1.get("sf01_warm_basis", {}).get(n)
            b = sf1.get("queries", {}).get(n)
            if a and b and a > 0:
                adv[n] = round(b / a, 2)
    except (OSError, ValueError, KeyError):
        pass

    out = {"entries": {}, "n_docs": {k: N_DOCS_1X * k for k in dirs},
           "n_customers": {k: N_CUST_1X * k for k in dirs},
           "generator": "organic-unique (scripts/organic_scale.py)"}
    print(f"{'entry':34} {'t_1x':>7} {'t_10x':>7} {'rows_1x':>9} "
          f"{'rows_10x':>9} {'organic':>8} {'advers.':>8}")
    for name in ENTRIES:
        t1, r1 = warm_run(name, dirs[1])
        t10, r10 = warm_run(name, dirs[10])
        slope = round(t10 / t1, 2) if t1 > 0 else None
        out["entries"][name] = {
            "t_1x": t1, "t_10x": t10, "rows_1x": r1, "rows_10x": r10,
            "organic_slope": slope, "adversarial_slope": adv.get(name),
        }
        print(f"{name:34} {t1:7.2f} {t10:7.2f} {r1:9d} {r10:9d} "
              f"{slope!s:>8} {adv.get(name)!s:>8}")

    with open(os.path.join(REPO, "organic_scale.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print("wrote organic_scale.json", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
