"""Deterministic NBA-shaped silver fixture generator.

Reproduces the seven silver tables of the reference
(``/root/reference/dags/spurs_historic_games.py:427-435``; schemas per
FIXTURES.md) with two deliberate upgrades over the reference's
unseeded ``random.*`` generators (``dags:185-285``):

1. **Determinism via hashing, not RNG.** Every synthetic value is
   derived from ``md5`` of a salted key (``functions.scalar.md5_long``),
   so the *identical* table can be regenerated in pure SQL by the
   DuckDB oracle — the whole silver layer becomes oracle-checkable.
2. **Schedule validity.** Games come from a rotating partition pairing
   (day d, slot k: home=(d+k)%30 vs away=(d+15+((k+d)%15))%30, 82
   days): the home half {d..d+14} and away half {d+15..d+29} partition
   the league, so every team plays exactly once per day — game_date is
   unique per team, which keeps the reference's ``SUM(..) OVER (ORDER
   BY game_date)`` windows tie-free (SURVEY §7.4.5) — while the
   within-half rotation by (k+d)%15 varies each team's opponent day to
   day (a fixed +15 partner would give every team ONE opponent all
   season, leaving the per-opponent logic — streaks' team_beat_by_most,
   opponent tie-breaks — exercised against a single value).

All columns are **strings** (the reference's all-VARCHAR silver,
``dags:380``); gold models re-cast. Spurs rows are biased (lower
fg_pct, higher tov, higher reb) so team_weaknesses yields both
Debilidad and Fortaleza rows and players_recommendations is non-empty
(FIXTURES.md cross-table invariants).

Size and layout: fixtures are fixed-size (10,800 ``player_stats``
rows, about 1 MB of JSON, at most) regardless of sf — they model the
reference's one-season dataset. Each table is therefore generated as
ONE slice (``spark.range(0, n, 1, 1)``): slicing by core count cut
every table into ``defaultParallelism`` pieces, so each layer of the
pipeline wrote that many files per table and ran that many tasks, for
data far below one input split. ``games`` is one range over both team
sides (home rows first), not a union of two, so it too stays one slice.

Construction: columns are SQL strings (``selectExpr``), the recipe of
``plans.gold``'s round-6 construction note. A Column-method chain pays
one py4j round trip per call, and these builders make hundreds: the
chains cost 1.3-1.9 s of serial driver time per build of the seven
tables (0.8 s for ``games`` alone), the strings 0.3-0.5 s. The
strings parse JVM-side into the same expressions, so schemas
(nullability included) and rows are those of the chains. Generation is
pure column arithmetic over ``spark.range`` (no driver-side loops, no
UDFs), so the same code would generate arbitrarily large fixtures
distributed — raise the slice count with the row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

N_TEAMS = 30
N_DAYS = 82
GAMES_PER_DAY = N_TEAMS // 2
N_GAMES = N_DAYS * GAMES_PER_DAY  # 1230
PLAYERS_PER_TEAM = 18
N_PLAYERS = N_TEAMS * PLAYERS_PER_TEAM  # 540
GAMES_PER_PLAYER = 20
N_INJURY_ROWS = 200
SPURS_IDX = 29  # team index 29 -> id 1610612759 (the real Spurs id)
SEASON_START = "2024-10-22"

POSITIONS = ["G", "F", "C", "G-F", "F-C"]
INJURY_CATALOG = [f"Lesion_{i}" for i in range(10)]


def _rows(spark: SparkSession, n: int) -> DataFrame:
    """``id`` 0..n-1 in one slice (fixture tables are far below a split)."""
    return spark.range(0, n, 1, 1)


def _array(values: list[str]) -> str:
    return "array(" + ", ".join(f"'{v}'" for v in values) + ")"


def _h(salt: str, key: str) -> str:
    """60-bit hash of salt||key — the cross-engine 'random' source
    (``functions.scalar.md5_long`` as SQL)."""
    return (
        f"CAST(conv(substring(md5(concat('{salt}', CAST({key} AS STRING))),"
        " 1, 15), 16, 10) AS BIGINT)"
    )


def _team_id(idx: str) -> str:
    return f"CAST(1610612730 + {idx} AS STRING)"


def _team_name(idx: str) -> str:
    return (
        f"CASE WHEN {idx} = {SPURS_IDX} THEN 'San Antonio Spurs' "
        f"ELSE concat('Team ', CAST({idx} AS STRING)) END"
    )


def _team_abbr(idx: str) -> str:
    return (
        f"CASE WHEN {idx} = {SPURS_IDX} THEN 'SAS' "
        f"ELSE concat('T', lpad(CAST({idx} AS STRING), 2, '0')) END"
    )


def _pct_str(base: int, span: int, h: str) -> str:
    """'0.NNN' string in [base/1000, (base+span-1)/1000]."""
    return f"concat('0.', CAST({base} + {h} % {span} AS STRING))"


def _player_key(t: str, j: str) -> str:
    return f"CAST(100000 + {t} * 100 + {j} AS STRING)"


#: ``pid`` of player index ``i`` (an INT column named i)
_PID = _player_key(f"CAST(i / {PLAYERS_PER_TEAM} AS INT)", f"i % {PLAYERS_PER_TEAM}")
_POSITION = f"element_at({_array(POSITIONS)}, CAST(i % {len(POSITIONS)} + 1 AS INT))"


def build_teams(spark: SparkSession) -> DataFrame:
    t = "CAST(id AS INT)"
    return _rows(spark, N_TEAMS).selectExpr(
        f"{_team_id(t)} AS id",
        f"{_team_name(t)} AS full_name",
        f"{_team_abbr(t)} AS abbreviation",
        f"concat('Nick', CAST({t} AS STRING)) AS nickname",
        f"concat('City', CAST({t} AS STRING)) AS city",
        f"concat('State', CAST({t} % 50 AS STRING)) AS state",
        f"CAST(1946 + {_h('yf', t)} % 60 AS STRING) AS year_founded",
    )


def build_games(spark: SparkSession) -> DataFrame:
    """2 rows per game x 1230 games: ids below N_GAMES are the home
    sides of games 0..1229, the rest the away sides. Home pts odd, away
    pts even -> no ties, complementary W/L, plus_minus sums to zero per
    game."""
    base = (
        _rows(spark, 2 * N_GAMES)
        .selectExpr(
            f"CAST(id % {N_GAMES} AS INT) AS g",
            f"IF(id < {N_GAMES}, 'h', 'a') AS side",
        )
        .selectExpr(
            "g",
            "side",
            f"CAST(g / {GAMES_PER_DAY} AS INT) AS d",
            f"g % {GAMES_PER_DAY} AS k",
        )
        .selectExpr(
            "g",
            "side",
            "d",
            f"(d + k) % {N_TEAMS} AS home",
            f"(d + {GAMES_PER_DAY} + (k + d) % {GAMES_PER_DAY}) % {N_TEAMS} AS away",
            f"85 + ({_h('ph', 'g')} % 38) * 2 AS pts_h",
            f"86 + ({_h('pa', 'g')} % 38) * 2 AS pts_a",
        )
        .selectExpr(
            "g",
            "side",
            "d",
            "IF(side = 'h', home, away) AS me",
            "IF(side = 'h', away, home) AS opp",
            "IF(side = 'h', pts_h, pts_a) AS my_pts",
            "IF(side = 'h', pts_a, pts_h) AS opp_pts",
        )
    )

    def h(salt: str) -> str:
        # per-side salt: f1h for home rows, f1a for away rows
        return _h(salt, "concat(side, CAST(g AS STRING))")

    # Spurs bias: worse shooting + more turnovers (-> Debilidad rows),
    # more rebounds (-> Fortaleza row). Only SAS rows move.
    sas = f"me = {SPURS_IDX}"
    return base.selectExpr(
        "'2024-25' AS season",
        f"{_team_id('me')} AS team_id",
        f"{_team_name('me')} AS team_name",
        f"{_team_abbr('me')} AS team_abbreviation",
        f"CAST(date_add(to_date('{SEASON_START}'), d) AS STRING) AS game_date",
        f"concat({_team_abbr('me')}, IF(side = 'h', ' vs. ', ' @ '), "
        f"{_team_abbr('opp')}) AS matchup",
        "CASE WHEN my_pts > opp_pts THEN 'W' ELSE 'L' END AS wl",
        "CAST(my_pts AS STRING) AS pts",
        "CAST(my_pts - opp_pts AS STRING) AS plus_minus",
        f"CASE WHEN {sas} THEN {_pct_str(300, 240, h('f1'))} "
        f"ELSE {_pct_str(300, 300, h('f1'))} END AS fg_pct",
        f"{_pct_str(250, 200, h('f2'))} AS fg3_pct",
        f"CAST(CASE WHEN {sas} THEN 8 + {h('f3')} % 18 "
        f"ELSE 5 + {h('f3')} % 18 END AS STRING) AS tov",
        f"CAST(CASE WHEN {sas} THEN 36 + {h('f4')} % 31 "
        f"ELSE 30 + {h('f4')} % 31 END AS STRING) AS reb",
        f"CAST(1 + {h('f5')} % 10 AS STRING) AS blk",
        f"CAST(3 + {h('f6')} % 13 AS STRING) AS stl",
    )


def build_players(spark: SparkSession) -> DataFrame:
    return (
        _rows(spark, N_PLAYERS)
        .selectExpr("CAST(id AS INT) AS i")
        .selectExpr(f"{_PID} AS pid", f"{_POSITION} AS position")
        .selectExpr(
            "pid AS player_id",
            "concat('Player_', pid) AS player",
            "position",
            "'2024' AS season",
            f"CAST(190 + {_h('ht', 'pid')} % 40 AS STRING) AS height_cm",
            f"CAST(75 + {_h('wt', 'pid')} % 50 AS STRING) AS weight_kg",
            f"CAST(19 + {_h('ag', 'pid')} % 20 AS STRING) AS age",
        )
    )


def build_player_stats(spark: SparkSession) -> DataFrame:
    p = f"CAST(CAST(id AS INT) / {GAMES_PER_PLAYER} AS INT)"  # player 0..539
    t = f"CAST({p} / {PLAYERS_PER_TEAM} AS INT)"
    pid = _player_key(t, f"{p} % {PLAYERS_PER_TEAM}")
    key = f"concat(pid, '_', CAST(CAST(id AS INT) % {GAMES_PER_PLAYER} AS STRING))"
    return (
        _rows(spark, N_PLAYERS * GAMES_PER_PLAYER)
        .selectExpr("id", f"{t} AS t", f"{pid} AS pid")
        .selectExpr("t", "pid", f"{key} AS key")
        .selectExpr(
            "pid AS player_id",
            "concat('Player_', pid) AS player_name",
            f"{_team_abbr('t')} AS team_abbreviation",
            f"{_pct_str(300, 300, _h('q1', 'key'))} AS fg_pct",
            f"{_pct_str(250, 200, _h('q2', 'key'))} AS fg3_pct",
            f"CAST({_h('q3', 'key')} % 16 AS STRING) AS reb",
            f"CAST({_h('q4', 'key')} % 9 AS STRING) AS tov",
            f"CAST({_h('q5', 'key')} % 6 AS STRING) AS stl",
            f"CAST({_h('q6', 'key')} % 6 AS STRING) AS blk",
            f"CAST({_h('q7', 'key')} % 61 - 30 AS STRING) AS plus_minus",
        )
    )


def build_salaries(spark: SparkSession) -> DataFrame:
    dollars = f"500000 + {_h('sd', 'pid')} % 44500001"
    cents = f"{_h('sc', 'pid')} % 100"
    return (
        _rows(spark, N_PLAYERS)
        .selectExpr("CAST(id AS INT) AS i")
        .selectExpr(f"{_PID} AS pid")
        .selectExpr(
            "pid AS player_id",
            "concat('Player_', pid) AS player_name",
            "'2024' AS season",
            f"concat(CAST({dollars} AS STRING), '.', "
            f"lpad(CAST({cents} AS STRING), 2, '0')) AS salary_usd",
        )
    )


def build_free_agents(spark: SparkSession) -> DataFrame:
    return (
        _rows(spark, N_PLAYERS)
        .selectExpr("CAST(id AS INT) AS i")
        .selectExpr(f"{_PID} AS pid", f"{_POSITION} AS position")
        .where(f"{_h('fa_sel', 'pid')} % 3 = 0")
        .selectExpr(
            "pid AS player_id",
            "concat('Player_', pid) AS player_name",
            "position",
            f"CAST(19 + {_h('fa_age', 'pid')} % 20 AS STRING) AS age",
            f"CAST(1 + {_h('fa_exp', 'pid')} % 15 AS STRING) AS age_experience",
            # sic — reference column name (dags:242)
            f"concat(CAST(2020 + {_h('fa_av', 'pid')} % 6 AS STRING), '-07-01')"
            " AS avalaiblefrom",
        )
    )


def build_injuries(spark: SparkSession) -> DataFrame:
    idx = f"CAST({_h('inj', 'r')} % {N_PLAYERS} AS INT)"
    pid = _player_key(f"CAST(idx / {PLAYERS_PER_TEAM} AS INT)", f"idx % {PLAYERS_PER_TEAM}")
    mm = f"lpad(CAST(1 + {_h('im', 'r')} % 12 AS STRING), 2, '0')"
    dd = f"lpad(CAST(1 + {_h('id', 'r')} % 28 AS STRING), 2, '0')"
    return (
        _rows(spark, N_INJURY_ROWS)
        .selectExpr("CAST(id AS INT) AS r")
        .selectExpr("r", f"{idx} AS idx")
        .selectExpr(
            f"{pid} AS player_id",
            f"concat('Player_', {pid}) AS player_name",
            f"element_at({_array(INJURY_CATALOG)}, CAST({_h('les', 'r')} % 10 + 1 AS INT))"
            " AS lesion",
            f"concat_ws('-', CAST(2020 + {_h('iy', 'r')} % 6 AS STRING), {mm}, {dd})"
            " AS date",
        )
    )


def build_silver(spark: SparkSession) -> dict[str, DataFrame]:
    """All seven silver tables, keyed as the reference's load map."""
    return {
        "games": build_games(spark),
        "teams": build_teams(spark),
        "players": build_players(spark),
        "player_stats": build_player_stats(spark),
        "salaries": build_salaries(spark),
        "free_agents": build_free_agents(spark),
        "injuries": build_injuries(spark),
    }
