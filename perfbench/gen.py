"""Seeded input generators for the benchmark.

Everything the program reads is produced here from ``--seed``; the
program never sees the seed. Two input sets:

- ``write_fixture``: the ten driver fixture tables (TPC-H-ish star
  schema + ``events`` + ``documents`` + ``embeddings``) with the
  schemas, domains and row-count ratios of the shipped testdata, as
  one single-row-group parquet file per table.
- ``pbp_frame``: an nflfastR-shaped play-by-play table (the shape of
  ``benchpipes.synth_pbp`` plus the columns the plans read),
  returned as an Arrow table so the caller decides how to split it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"])
PART_ADJ = ["hot", "old", "red", "small", "new", "large", "cold", "blue", "big"]
PART_NOUN = ["bolt", "plate", "gear", "rod", "ring", "anvil", "widget"]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table: adding a table never shifts
    # the draws of another
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))




def fixture_sizes(sf: float) -> dict[str, int]:
    """Row counts of the shipped testdata at scale factor ``sf``
    (documents/embeddings floor at 500 like the shipped tiers)."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(40, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_fixture(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = fixture_sizes(sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    k = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, k), 2),
        "c_mktsegment": SEGMENTS[r.integers(0, 5, k)],
    })

    r = _rng(seed, "supplier")
    k = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, k), 2),
    })

    r = _rng(seed, "part")
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), k)]
    noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), k)]
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": PART_TYPES[r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })

    r = _rng(seed, "orders")
    k = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, k), 2),
        "o_orderdate": _days(r, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, k)],
    })

    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    flags = r.integers(0, 6, k)
    _write(out_dir, "lineitem", {
        "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105_000.0, k), 2),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
        "l_linestatus": np.array(["F", "O"])[flags // 3],
        "l_shipdate": _days(r, k, "1995-01-02", "2001-11-04"),
    })

    r = _rng(seed, "events")
    k = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86_400 * 1_000_000, k))
    _write(out_dir, "events", {
        "event_id": np.arange(k, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(15, k // 66), k).astype(np.int64),
        "event_type": EVENT_TYPES[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    r = _rng(seed, "documents")
    k = n["documents"]
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[r.integers(0, len(vocab), m)]) for m in r.integers(10, 101, k)]
    for i in r.choice(k, max(1, k // 600), replace=False):
        texts[i] = texts[int(r.integers(0, k))]  # rare exact copies
    _write(out_dir, "documents", {
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": LANGS[r.choice(5, k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    r = _rng(seed, "embeddings")
    k = n["embeddings"]
    x = r.standard_normal((k, 64))  # unit vectors, as in the shipped fixture
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, x.size + 1, 64, dtype=np.int32)), pa.array(x.ravel())),
        "label": r.integers(0, 10, k).astype(np.int32),
    })
    n.update(region=5, nation=25)
    return n


# ---- play-by-play -------------------------------------------------------

N_TEAMS = 32
QBS_PER_TEAM = 2
FIRST_SEASON = 1999


def pbp_frame(seed: int, n_seasons: int, plays_per_week: int, weeks: int) -> pa.Table:
    """nflfastR-shaped plays, ``n_seasons × weeks × plays_per_week``
    rows. Each week's games pair the 32 teams; ``game_id`` is
    ``{season}_{week:02d}_{away}_{home}`` so it sorts chronologically
    (the freshness probe relies on that). A QB id belongs to one team,
    so first-by-play-order name/team picks are unambiguous."""
    r = _rng(seed, "pbp")
    per_game = plays_per_week // (N_TEAMS // 2)
    n = n_seasons * weeks * (N_TEAMS // 2) * per_game
    season = np.repeat(np.arange(FIRST_SEASON, FIRST_SEASON + n_seasons), weeks * 16 * per_game)
    week = np.tile(np.repeat(np.arange(1, weeks + 1), 16 * per_game), n_seasons)
    game_ix = np.tile(np.repeat(np.arange(16), per_game), n_seasons * weeks)
    play_id = np.tile(np.arange(1, per_game + 1, dtype=np.float64) * 25.0, n_seasons * weeks * 16)
    # a per-(season, week) team pairing: a seeded permutation of teams
    perm = np.argsort(r.random((n_seasons * weeks, N_TEAMS)), axis=1)
    sw = (season - FIRST_SEASON) * weeks + (week - 1)
    away = perm[sw, 2 * game_ix]
    home = perm[sw, 2 * game_ix + 1]
    teams = np.array([f"T{i:02d}" for i in range(N_TEAMS)])
    game_id = np.char.add(
        np.char.add(np.char.add(season.astype(str), "_"), np.char.zfill(week.astype(str), 2)),
        np.char.add(np.char.add("_", teams[away]), np.char.add("_", teams[home])),
    )
    off_home = r.random(n) < 0.5
    pos = np.where(off_home, home, away)
    de = np.where(off_home, away, home)
    posteam = teams[pos].astype(object)
    no_pos = r.random(n) < 0.02
    posteam[no_pos] = None
    defteam = teams[de].astype(object)
    defteam[no_pos] = None
    kind = r.random(n)
    is_pass = (kind < 0.55).astype(np.int32)
    is_rush = ((kind >= 0.55) & (kind < 0.9)).astype(np.int32)
    play_type = np.where(is_pass == 1, "pass", np.where(is_rush == 1, "run", "kickoff"))
    down = r.integers(1, 5, n).astype(float)
    down[(kind >= 0.9) | (r.random(n) < 0.05)] = np.nan
    epa = np.round(r.normal(0.0, 1.5, n), 6)
    epa[no_pos] = np.nan
    qb = pos * QBS_PER_TEAM + r.integers(0, QBS_PER_TEAM, n)
    cpoe = np.round(r.normal(0.0, 8.0, n), 6)
    cpoe[(is_pass == 0) | (r.random(n) < 0.4)] = np.nan
    outcome = r.random(n)
    complete = ((is_pass == 1) & (outcome < 0.62)).astype(np.int32)
    intercept = ((is_pass == 1) & (outcome >= 0.62) & (outcome < 0.645)).astype(np.int32)
    incomplete = ((is_pass == 1) & (outcome >= 0.645)).astype(np.int32)
    def col(a, t):
        return pa.array(a, t, from_pandas=True)
    return pa.table({
        "game_id": game_id,
        "play_id": play_id,
        "season": season.astype(np.int32),
        "week": week.astype(np.int32),
        "season_type": np.where(week <= weeks - 1, "REG", "POST"),
        "home_team": teams[home],
        "away_team": teams[away],
        "posteam": col(posteam, pa.string()),
        "defteam": col(defteam, pa.string()),
        "down": col(down, pa.int32()),
        "play_type": play_type,
        "rush": is_rush,
        "pass": is_pass,
        "epa": col(epa, pa.float64()),
        "qb_epa": col(epa, pa.float64()),
        "wp": np.round(r.uniform(0.0, 1.0, n), 6),
        "half_seconds_remaining": r.integers(0, 1801, n).astype(np.float64),
        "success": (r.random(n) < 0.45).astype(np.int32),
        "yards_gained": r.integers(-5, 30, n).astype(np.float64),
        "cpoe": col(cpoe, pa.float64()),
        "complete_pass": complete,
        "incomplete_pass": incomplete,
        "interception": intercept,
        "pass_touchdown": ((complete == 1) & (r.random(n) < 0.06)).astype(np.int32),
        "id": np.char.add("00-", np.char.zfill(qb.astype(str), 7)),
        "name": np.char.add("Q.B", qb.astype(str)),
    })
