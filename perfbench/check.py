"""Output checks. They run outside every timed region; a mismatch
counts the operation as failed."""

from __future__ import annotations

import hashlib
import math

import duckdb
import numpy as np


def canon(cols, rows):
    """The oracle tests' result canonicalization: columns sorted by name,
    floats at 9 significant digits, rows sorted, md5 of the lines."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9g}"
        return str(v)

    lines = sorted(",".join(cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], hashlib.md5("\n".join(lines).encode()).hexdigest(), len(rows)


def spark_canon(df):
    return canon(list(df.columns), [tuple(r) for r in df.collect()])


def fixture_duck(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def duck_canon(con, sql: str):
    cur = con.execute(sql)
    return canon([d[0] for d in cur.description], cur.fetchall())


def rows_close(a, b, rel: float = 1e-9) -> bool:
    """Row lists equal up to float rounding (both sides sorted the
    same way by the caller)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif math.isnan(x) or math.isnan(y):
                    if not (math.isnan(x) and math.isnan(y)):
                        return False
                elif not math.isclose(x, y, rel_tol=rel, abs_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True


# ---- warehouse analyses over the written parquet -------------------------


def pbp_duck(table_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW pbp AS SELECT * FROM read_parquet('{table_dir}/**/*.parquet', hive_partitioning = true)"
    )
    return con


FRESHNESS_SQL = "SELECT DISTINCT game_id FROM pbp ORDER BY game_id DESC LIMIT {n}"

TEAM_PASS_RATES_SQL = """
WITH n AS (
  SELECT posteam, pass FROM pbp
  WHERE (down = 1 OR down = 2) AND wp BETWEEN 0.2 AND 0.8
    AND half_seconds_remaining > 120 AND epa IS NOT NULL
    AND posteam IS NOT NULL AND season = {season}
), r AS (
  SELECT posteam,
         CASE WHEN count(pass) = count(*) THEN avg(pass) END AS pass_rate,
         count(*) AS n_plays
  FROM n GROUP BY posteam
), g AS (
  SELECT *, CASE WHEN max(CASE WHEN pass_rate IS NULL THEN 1 ELSE 0 END) OVER () = 0
    THEN 100.0 * (pass_rate - min(pass_rate) OVER ()) / (max(pass_rate) OVER () - min(pass_rate) OVER ())
    END AS gauge FROM r
)
SELECT posteam, pass_rate, n_plays, gauge,
       cos((1.0 - gauge / 100.0) * pi()) AS needle_x,
       sin((1.0 - gauge / 100.0) * pi()) AS needle_y
FROM g ORDER BY posteam
"""

# qb_seasons (strict means; the generator never nulls pass/qb_epa/
# success on a kept play, so strict == plain here) → per-QB lag →
# year-over-year correlations
LAG_PANEL_SQL = """
WITH plays AS (
  SELECT * FROM pbp
  WHERE (pass = 1 OR rush = 1) AND down IS NOT NULL AND epa IS NOT NULL
    AND season_type = 'REG' AND id IS NOT NULL
), q AS (
  SELECT id, season, count(*) AS n_plays, sum(pass) AS n_dropbacks,
         avg(qb_epa) AS epa_per_play,
         avg(CASE WHEN isnan(qb_epa) THEN NULL ELSE greatest(least(qb_epa, 1e9), -4.5) END) AS epa_play,
         -- R's mean(na.rm = TRUE) of an all-NA season is NaN
         coalesce(avg(cpoe), 'NaN'::DOUBLE) AS cpoe, avg(success) AS success_rate
  FROM plays GROUP BY id, season
  HAVING sum(pass) > {min_dropbacks} AND count(*) >= {min_plays}
), l AS (
  SELECT *, lag(epa_per_play) OVER w AS lag_epa_per_play,
            lag(epa_play) OVER w AS lag_epa_play,
            lag(cpoe) OVER w AS lag_cpoe,
            lag(success_rate) OVER w AS lag_success_rate,
            lag(n_plays) OVER w AS lag_n_plays
  FROM q WINDOW w AS (PARTITION BY id ORDER BY season)
)
SELECT corr(epa_per_play, lag_epa_per_play) AS yoy_epa_per_play,
       corr(epa_play, lag_epa_play) AS yoy_epa_play,
       -- Spark's corr propagates a NaN operand; DuckDB's refuses one
       CASE WHEN bool_or(isnan(cpoe) OR isnan(lag_cpoe)) THEN 'NaN'::DOUBLE
            ELSE corr(CASE WHEN NOT isnan(cpoe) THEN cpoe END,
                      CASE WHEN NOT isnan(lag_cpoe) THEN lag_cpoe END) END AS yoy_cpoe,
       corr(success_rate, lag_success_rate) AS yoy_success_rate,
       corr(CAST(n_plays AS DOUBLE), CAST(lag_n_plays AS DOUBLE)) AS yoy_n_plays,
       count(lag_epa_per_play) AS n_pairs
FROM l
"""


# ---- streaming --------------------------------------------------------------


def embgate_verdicts(verdicts, batch_ids, seen_ids, emb, threshold: float) -> bool:
    """One verdict per vector of the batch, and each dropped vector's
    ``dup_of`` is a vector seen so far at exact cosine of at least
    ``threshold`` (so a vector with no such partner is kept)."""
    got = {r["vec_id"]: (r["keep"], r["dup_of"]) for r in verdicts}
    if sorted(got) != sorted(int(i) for i in batch_ids):
        return False
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    seen = {int(i) for i in seen_ids}
    return all(
        keep == 1 or (dup_of in seen and dup_of != vid and unit[dup_of] @ unit[vid] >= threshold - 1e-6)
        for vid, (keep, dup_of) in got.items()
    )


def curation_counts(counts, n_submitted: int, n_kept: int) -> bool:
    """The curation report adds up: every submitted doc entered the
    funnel once, and the near-dup survivors are exactly the docs the
    batches returned as kept."""
    return (
        sum(r["n_input"] for r in counts) == n_submitted
        and sum(r["n_neardup"] for r in counts) == n_kept
        and all(r["n_neardup"] <= r["n_final"] <= r["n_input"] for r in counts)
    )
