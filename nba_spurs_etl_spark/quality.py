"""Data-quality assertions (the reference's 12 dbt schema tests).

Each check compiles to a violation count that must be 0, exactly like
dbt's not_null / accepted_values tests
(``/root/reference/dbt/models/spurs_analysis/spurs_analysis.yml``).
``GOLD_CHECKS`` is the reference's test suite verbatim.

A check is one ``count_if`` aggregate, and the checks on one table are
evaluated together, in one of two ways:

- ``observe`` attaches them to the table as an ``Observation``, so the
  counts are computed by whatever action next scans the table (the
  pipeline's gold Parquet write) and cost no Spark job of their own;
- a table given as a DataFrame gets one fused ``agg`` in ``run_checks``.

``run_checks`` accepts either form per table, and raises on any
failing check.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    table: str
    column: str
    kind: str  # "not_null" | "accepted_values"
    values: tuple[str, ...] = ()

    @property
    def name(self) -> str:
        return f"{self.kind}:{self.table}.{self.column}"

    def violations(self) -> Column:
        """The number of violating rows, as an aggregate named after
        the check."""
        if self.kind == "not_null":
            pred = F.col(self.column).isNull()
        elif self.kind == "accepted_values":
            # dbt's accepted_values test EXCLUDES NULLs (its compiled
            # `column NOT IN (...)` is NULL for NULL input, never
            # selected) — counting NULLs here would fail tables the
            # reference suite passes; nullability is not_null's job
            pred = ~F.col(self.column).isin(*self.values)
        else:
            raise ValueError(f"unknown check kind {self.kind!r}")
        return F.count_if(pred).alias(self.name)


def not_null(table: str, column: str) -> Check:
    return Check(table, column, "not_null")


def accepted_values(table: str, column: str, values: tuple[str, ...]) -> Check:
    return Check(table, column, "accepted_values", values)


# the reference's 12 schema tests (spurs_analysis.yml; SURVEY §2.11)
GOLD_CHECKS: list[Check] = [
    not_null("team_weaknesses_unpivoted", "season2"),
    not_null("team_weaknesses_unpivoted", "weakness_type"),
    accepted_values(
        "team_weaknesses_unpivoted", "resultado", ("Debilidad", "Fortaleza")
    ),
    not_null("players_recommendations", "season2"),
    not_null("players_recommendations", "recommended_player"),
    not_null("players_recommendations", "player_id"),
    not_null("summary_by_season", "season"),
    not_null("summary_by_season", "team_ranking"),
    not_null("spurs_player_contributions_unpivoted", "player_id"),
    not_null("spurs_player_contributions_unpivoted", "player_name"),
    not_null("spurs_player_contributions_unpivoted", "rubro"),
    accepted_values("home_vs_away", "location", ("Home", "Away")),
]


class QualityError(AssertionError):
    pass


def _by_table(checks: list[Check]) -> dict[str, list[Column]]:
    """The violation aggregates of each checked table."""
    cols: dict[str, list[Column]] = {}
    for c in checks:
        cols.setdefault(c.table, []).append(c.violations())
    return cols


def observe(
    tables: Mapping[str, DataFrame],
) -> tuple[dict[str, DataFrame], dict[str, Observation]]:
    """Attach each gold table's ``GOLD_CHECKS`` violation counts as an
    Observation.

    Returns the tables to run the next action on (checked ones
    observed, the rest as given) and the Observations, which
    ``run_checks`` reads once that action has finished. A count may
    exceed the true one if a task is retried, but a table with no
    violation always observes 0."""
    out, observations = dict(tables), {}
    for table, cols in _by_table(GOLD_CHECKS).items():
        observations[table] = Observation()
        out[table] = tables[table].observe(observations[table], *cols)
    return out, observations


def run_checks(
    tables: Mapping[str, DataFrame | Observation],
    checks: list[Check] | None = None,
) -> dict[str, int]:
    """Violation count per check; raises QualityError on any failure.

    A table given as an Observation (see ``observe``, which observes
    ``GOLD_CHECKS``) is read without a Spark job; a DataFrame costs one
    aggregate over the table."""
    checks = GOLD_CHECKS if checks is None else checks
    counts: dict[str, int] = {}
    for table, cols in _by_table(checks).items():
        src = tables[table]
        if isinstance(src, Observation):
            counts.update(src.get)
        else:
            counts.update(src.agg(*cols).first().asDict())
    results = {c.name: int(counts[c.name]) for c in checks}
    failed = {k: v for k, v in results.items() if v}
    if failed:
        raise QualityError(f"quality checks failed: {failed}")
    return results
