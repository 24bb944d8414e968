"""Banded random-hyperplane LSH for embedding near-dup
(operators/similarity.embedding_near_dups_banded): planted-pair
recall at a production threshold, bucket-cardinality bounds vs the
coarse sign quantizer, determinism, and the hot-bucket cap."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.operators.similarity import (
    embedding_near_dups_banded,
)

DIM = 32
N = 400
N_PLANTED = 20


@pytest.fixture(scope="module")
def vecs(spark):
    """N random unit-ish vectors + N_PLANTED near-copies (small noise,
    cosine ≥ ~0.99) with ids offset by 10_000."""
    rng = random.Random(7)
    rows = []
    base = []
    for i in range(N):
        v = [rng.gauss(0, 1) for _ in range(DIM)]
        base.append(v)
        rows.append((i, v))
    for i in range(N_PLANTED):
        v = base[i]
        noisy = [x + rng.gauss(0, 0.02) for x in v]
        rows.append((10_000 + i, noisy))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df.persist().count()
    yield df
    df.unpersist()


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / math.sqrt(sum(x * x for x in a) * sum(x * x for x in b))


def test_planted_recall_at_production_threshold(spark, vecs):
    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dups_banded(vecs, threshold=0.95).collect()
    }
    planted = {(i, 10_000 + i) for i in range(N_PLANTED)}
    recall = len(got & planted) / len(planted)
    # theory: ~0.97 at cosine .99, r=8, L=4; tolerate one miss batch
    assert recall >= 0.9, (recall, sorted(planted - got))
    # precision: every reported pair genuinely clears the threshold
    # (verify stage is exact, so this must be 100%)
    by_id = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    for a, b in got:
        assert _cos(by_id[a], by_id[b]) >= 0.95


def test_band_buckets_bounded_vs_coarse_quantizer(spark, vecs):
    """The point of banding: 2^band_bits values per band, so buckets
    stay tiny where the 3-bit quantizer concentrates ~N/8 per
    bucket."""
    from nfl_data_pipeline_spark.operators.similarity import _prep

    c = _prep(vecs, "vec_id", "embedding", "c", DIM)
    n = c.count()
    # coarse: max bucket ~ n/8 (sign bits of 3 dims over gaussians)
    from nfl_data_pipeline_spark.operators.similarity import sign_bucket

    coarse_max = (
        c.withColumn("bucket", sign_bucket("c_vec", 3))
        .groupBy("bucket")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert coarse_max > n / 16  # concentration, the flaw
    # banded: 256 values per band → near-singleton buckets here
    out = embedding_near_dups_banded(vecs, threshold=0.95)
    assert out.count() >= 0  # plan executes
    # directly inspect one band's histogram via the same projections
    from nfl_data_pipeline_spark.operators.similarity import (
        _hyperplane_proj,
    )

    bits = " + ".join(
        f"(CASE WHEN {_hyperplane_proj('c_vec', j, DIM)} > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(8)
    )
    band_max = (
        c.withColumn("hb", F.expr(bits))
        .groupBy("hb")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert band_max <= max(8, n // 16)  # spread, not concentrated


def test_deterministic_across_runs(spark, vecs):
    a = sorted(
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dups_banded(vecs, threshold=0.95).collect()
    )
    b = sorted(
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dups_banded(vecs, threshold=0.95).collect()
    )
    assert a == b


def test_hot_bucket_cap(spark):
    """A flood of identical vectors saturates its band buckets; the
    cap removes the flood from candidate generation while a planted
    pair elsewhere survives."""
    rng = random.Random(3)
    flood_v = [1.0] * DIM
    rows = [(i, flood_v) for i in range(200)]
    v = [rng.gauss(0, 1) for _ in range(DIM)]
    rows += [(9000, v), (9001, [x + rng.gauss(0, 0.01) for x in v])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dups_banded(
            df, threshold=0.95, max_bucket=50
        ).collect()
    }
    assert (9000, 9001) in capped
    assert all(a >= 9000 for a, _ in capped)


def test_arrow_engine_matches_sql_band_values(spark, vecs):
    """The numpy matmul path signs against the SAME hash-derived
    planes as the SQL fold: identical band values on the fixture
    (zero float-noise sign flips measured), ~2 orders faster per
    vector (SCALING.md). Edge rows follow the SQL contract too: a
    NULL or shorter-than-``dim`` vector has band value 0 on every
    band, a longer one is projected on its first ``dim`` elements."""
    from nfl_data_pipeline_spark.operators.similarity import (
        hyperplane_band_rows,
    )

    v0 = vecs.filter(F.col("vec_id") == 0).first()["embedding"]
    edges = spark.createDataFrame(
        [(20_000, None), (20_001, v0[: DIM - 1]), (20_002, v0 + [0.5] * 3)],
        "vec_id long, embedding array<double>",
    )
    vecs = vecs.unionByName(edges)
    kw = dict(band_bits=8, n_bands=4, dim=DIM)
    sql_rows = {
        (r["c_id"], r["band_id"]): r["band_val"]
        for r in hyperplane_band_rows(
            vecs, "vec_id", "embedding", engine="sql", **kw
        ).collect()
    }
    arrow_rows = {
        (r["c_id"], r["band_id"]): r["band_val"]
        for r in hyperplane_band_rows(
            vecs, "vec_id", "embedding", engine="arrow", **kw
        ).collect()
    }
    assert sql_rows == arrow_rows
    for b in range(4):
        assert sql_rows[(20_000, b)] == sql_rows[(20_001, b)] == 0
        assert sql_rows[(20_002, b)] == sql_rows[(0, b)]


def test_gated_fixture_recall_and_bucket_bounds(spark):
    """The CORRECTNESS-gated query (dedup_embedding_banded): planted
    pairs at cosine ~[0.957, 0.996] recall ≥ 0.9 at threshold 0.95,
    and no band bucket holds O(n) rows — the property that keeps the
    verify join linear at 100× corpus (the coarse sign quantizer's
    failure mode)."""
    from nfl_data_pipeline_spark.operators.similarity import (
        hyperplane_band_rows,
    )
    from nfl_data_pipeline_spark.queries.dedup import (
        _BLSH_BAND_BITS,
        _BLSH_DIM,
        _BLSH_ID_OFFSET,
        _BLSH_N_BANDS,
        _BLSH_PLANT_MOD,
        _BLSH_THRESHOLD,
        banded_fixture_corpus,
        dedup_embedding_banded,
    )
    from tests.conftest import SF_SMOKE

    pairs = dedup_embedding_banded(spark, SF_SMOKE)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    n_vec = (
        banded_fixture_corpus(spark, SF_SMOKE)
        .filter(F.col("vec_id") < _BLSH_ID_OFFSET)
        .count()
    )
    planted = {
        (v, v + _BLSH_ID_OFFSET)
        for v in range(0, n_vec, _BLSH_PLANT_MOD)
    }
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"planted recall {recall:.3f}"
    # every reported pair really is above threshold
    assert pairs.filter(F.col("cosine") < _BLSH_THRESHOLD).count() == 0

    corpus = banded_fixture_corpus(spark, SF_SMOKE)
    bands = hyperplane_band_rows(
        corpus, "vec_id", "vec", _BLSH_BAND_BITS, _BLSH_N_BANDS, _BLSH_DIM
    )
    n = corpus.count()
    max_bucket = (
        bands.groupBy("band_id", "band_val")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # 2^band_bits buckets per band → expected n/256 per bucket; a cap
    # at ~10× expectation proves no sign-skew collapse
    assert max_bucket <= max(10 * n // (1 << _BLSH_BAND_BITS), 16), (
        f"hot bucket: {max_bucket} of {n} rows"
    )
