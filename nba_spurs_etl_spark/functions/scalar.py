"""Scalar / aggregate expression helpers.

Two design constraints shape these helpers:

1. **Oracle determinism.** The driver compares every query against a
   DuckDB oracle by value hash. Floating-point SUM/AVG over doubles is
   order-dependent, so all money/metric aggregates go through exact
   decimal arithmetic (``dsum``/``davg``) and are cast to double only at
   the very end — both engines then produce bit-identical doubles.

2. **Cross-engine hashing.** Spark's ``xxhash64`` and DuckDB's ``hash``
   disagree, so content hashes use md5 (identical hex in both engines)
   parsed to a 60-bit integer: Spark ``conv(substr(md5(x),1,15),16,10)``
   == DuckDB ``('0x'||substr(md5(x),1,15))::UBIGINT``.

Reference parity notes: ``season_norm`` reproduces the repeated
``CASE WHEN season LIKE '2024' THEN '2024-25' ELSE season END``
(reference ``dbt/models/spurs_analysis/summary_by_season.sql:13-14`` and
4 sibling models); ``opponent_from_matchup`` reproduces the
``SPLIT_PART(matchup,'vs. ',2)`` / ``'@ '`` extraction
(``streaks_and_rivals.sql:63-67``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# exact-arithmetic aggregates (oracle-deterministic)
# ---------------------------------------------------------------------------

def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact SUM: cast to decimal first, return double.

    Decimal addition is associative → the result is independent of
    partitioning / shuffle order, unlike a double sum. The final
    double cast is correctly rounded in both Spark and DuckDB.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 2) -> Column:
    """Exact-numerator AVG: decimal SUM cast to double, / COUNT.

    One IEEE division of two exact operands → bit-identical across
    engines regardless of row order.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(c)


def davg_sql(expr: str, scale: int = 2) -> str:
    """DuckDB-side rendering of :func:`davg` (kept adjacent for parity)."""
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / COUNT({expr})"
    )


def dsum_sql(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def dbig(agg: Column) -> Column:
    """Exact-as-possible decimal→double for LARGE decimals.

    When a decimal's unscaled value exceeds 2^53 (e.g. a sum of
    squared prices at scale 4), DuckDB's decimal→double conversion
    double-rounds (int128→double, then /10^scale) while Spark's is
    correctly rounded — observed 1-ulp divergence. Splitting into
    integer + fractional parts makes each conversion exact /
    correctly rounded on both engines, and the single IEEE add is the
    one shared rounding. Headroom: the integer part itself must stay
    below 2^53 (~9e15) — 10^scale more range than the naive cast.
    """
    hi = F.floor(agg)
    return hi.cast("double") + (agg - hi).cast("double")


def dbig_sql(expr: str) -> str:
    """DuckDB-side rendering of :func:`dbig` (expr = a decimal agg)."""
    return (
        f"(CAST(FLOOR({expr}) AS DOUBLE) "
        f"+ CAST({expr} - FLOOR({expr}) AS DOUBLE))"
    )


# ---------------------------------------------------------------------------
# timestamp helpers
# ---------------------------------------------------------------------------


def epoch_us(col: Column | str) -> Column:
    """``unix_micros`` tolerant of TIMESTAMP_NTZ inputs.

    The testdata parquet stores ``timestamp[us]`` with no zone; Spark 4
    infers TIMESTAMP_NTZ (``spark.sql.parquet.inferTimestampNTZ``), which
    ``unix_micros`` rejects. Every loader that can produce such a column
    (``sources.catalog.load_table``, ``streaming.events.
    read_events_stream``) pins ``spark.sql.session.timeZone=UTC`` as a
    runtime conf on whatever session it is handed, so ``cast("timestamp")``
    is a pure type-tag change (identical wall-clock micros, matching
    DuckDB's ``epoch_us``) applied after the scan — parquet filter
    pushdown on the raw column is unaffected.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


# NOTE on the engine-parity time-bucketing idiom `(x / F.lit(width))
# .cast("bigint")`: Spark's double divide + cast truncates toward
# zero, and DuckDB's BIGINT `//` ALSO truncates toward zero (verified:
# -1 // 7 = 0, -10 // 7 = -1 — it is NOT a floor for integer
# operands), so the idiom is parity-exact for negative (pre-1970)
# epochs too, not just positives. Pinned by
# tests/test_operators.py::test_epoch_bucket_idiom_matches_duckdb_on_negatives.
# The double divide is exact for |x| < 2^53 (epoch micros to ~2255)
# at the bucket widths used (quotient never lands on a rounding edge).


# ---------------------------------------------------------------------------
# cross-engine stable hash
# ---------------------------------------------------------------------------


def md5_long(col: Column | str) -> Column:
    """Deterministic 60-bit non-negative integer hash of a string.

    Matches DuckDB ``('0x' || substr(md5(x),1,15))::UBIGINT`` exactly.
    Used by dedup/minhash/simhash operators so their DuckDB oracles can
    recompute identical hashes in pure SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_expr(x: str) -> str:
    """``md5_long`` as Spark SQL text over the expression ``x``
    (``md5_long_sql`` below is the DuckDB spelling)."""
    return f"CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


MD5_LONG_SQL = "CAST(('0x' || substr(md5({x}), 1, 15)) AS UBIGINT)::BIGINT"


def md5_long_sql(expr: str) -> str:
    return MD5_LONG_SQL.format(x=expr)


# ---------------------------------------------------------------------------
# reference-parity scalar expressions
# ---------------------------------------------------------------------------


def season_norm(col: Column | str) -> Column:
    """``CASE WHEN season LIKE '2024' THEN '2024-25' ELSE season END``.

    The reference's LIKE has no wildcard, so it is equality in disguise;
    we preserve the exact semantics (summary_by_season.sql:13-14).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.like("2024"), F.lit("2024-25")).otherwise(c)


SEASON_NORM_SQL = "CASE WHEN {c} LIKE '2024' THEN '2024-25' ELSE {c} END"


def opponent_from_matchup(col: Column | str) -> Column:
    """Extract the opponent from ``'SAS vs. LAL'`` / ``'SAS @ LAL'``.

    3-way CASE as in streaks_and_rivals.sql:63-67; ``split_part``
    returns '' when the delimiter is absent (Postgres-compatible), and
    the ELSE branch passes the raw matchup through — the reference's
    ``ELSE matchup``, NOT NULL (an earlier version of this helper
    nulled unrecognized formats and silently disagreed with the
    inlined copy in plans/gold.py; there is exactly one definition
    now, used by the model).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.like("%vs.%"), F.split_part(c, F.lit("vs. "), F.lit(2)))
        .when(c.like("%@%"), F.split_part(c, F.lit("@ "), F.lit(2)))
        .otherwise(c)
    )
