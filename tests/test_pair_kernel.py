"""Focused tests for the r13 segment-vectorized pair kernels: the
grouped pair scorer (operators/similarity._grouped_pair_scores — the
banded near-dup and embedding-gate verify engine) and the
driver-side winner resolution in registry_winner_verdicts.

Both sides of the banded operator's pair-stage gate are run over the
same edge-case frame and hex-compared; the other tests pin the
SEMANTIC contracts that the join forms enforced structurally: pair
orientation, side rules, zero-norm NULL-division behavior,
multi-batch segment carry, and registry-first-arrival winner
selection (on both the driver and the distributed union-find path).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")


def _vec(*xs):
    return [float(x) for x in xs]


def _scores(spark, rows, side=False, dim=2, n_groups_partitions=None):
    from nfl_data_pipeline_spark.operators.similarity import (
        _grouped_pair_scores,
    )

    schema = "g int, c_id long, c_vec array<double>, c_norm double" + (
        ", c_side int" if side else ""
    )
    df = spark.createDataFrame(rows, schema)
    out = _grouped_pair_scores(
        df, ["g"], dim, side_col="c_side" if side else None
    )
    return {
        (r["a_id"], r["b_id"]): r["cosine"] for r in out.collect()
    }


def test_unsided_pairs_once_lower_id_first(spark):
    n = math.sqrt(2.0)
    rows = [
        (1, 10, _vec(1, 1), n),
        (1, 30, _vec(1, 1), n),
        (1, 20, _vec(1, 1), n),
        (2, 7, _vec(1, 0), 1.0),  # singleton group: no pairs
    ]
    got = _scores(spark, rows)
    assert set(got) == {(10, 20), (10, 30), (20, 30)}
    for v in got.values():
        assert v == pytest.approx(1.0)


def test_sided_never_pairs_registry_rows(spark):
    n = math.sqrt(2.0)
    rows = [
        (1, 10, _vec(1, 1), n, 0),   # probe
        (1, 20, _vec(1, 1), n, 0),   # probe
        (1, 100, _vec(1, 1), n, 1),  # registry
        (1, 200, _vec(1, 1), n, 1),  # registry
    ]
    got = _scores(spark, rows, side=True)
    # probe-probe once (a<b), each probe x each registry — and NO
    # (100, 200) registry-registry pair
    assert set(got) == {(10, 20), (10, 100), (10, 200), (20, 100), (20, 200)}


def test_sided_replay_same_id_excluded(spark):
    n = math.sqrt(2.0)
    rows = [
        (1, 10, _vec(1, 1), n, 0),
        (1, 10, _vec(1, 1), n, 1),  # the SAME doc already registered
        (1, 20, _vec(1, 1), n, 0),
    ]
    got = _scores(spark, rows, side=True)
    # (10, 10) excluded; (10, 20) probe-probe; (20, 10) probe-registry
    assert set(got) == {(10, 20), (20, 10)}


def test_zero_norm_pairs_dropped_like_sql_null_division(spark):
    rows = [
        (1, 10, _vec(0, 0), 0.0),
        (1, 20, _vec(1, 1), math.sqrt(2.0)),
    ]
    got = _scores(spark, rows)
    # SQL: dot/0.0 is NULL (not NaN/inf) and the threshold filter
    # drops it — the kernel must not emit the pair at all
    assert got == {}


def test_short_and_null_vectors_skipped(spark):
    rows = [
        (1, 10, _vec(1), 1.0),        # shorter than dim
        (1, 20, None, None),          # NULL vector
        (1, 30, _vec(1, 0), 1.0),
        (1, 40, _vec(0, 1), 1.0),
    ]
    got = _scores(spark, rows)
    assert set(got) == {(30, 40)}
    assert got[(30, 40)] == pytest.approx(0.0)


def test_segment_carry_across_arrow_batches(spark):
    # force tiny Arrow batches so one group spans several batches;
    # the carry must keep its pair set complete
    import numpy as np

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        m = 25
        rows = [(1, i, _vec(1, 1), math.sqrt(2.0)) for i in range(m)]
        got = _scores(spark, rows)
        assert len(got) == m * (m - 1) // 2
        assert all(a < b for a, b in got)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )


def test_winner_verdicts_driver_path_matches_contract(spark):
    from nfl_data_pipeline_spark.operators.dedup import (
        registry_winner_verdicts,
    )
    from nfl_data_pipeline_spark.operators.localframe import local_frame

    base = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (9,)], "doc_id long"
    )
    # component {1, 2, 100(reg), 200(reg)} -> winner 100 (min REG, not
    # min node); component {3, 4} -> winner 3 (min node); 9 untouched
    edges = spark.createDataFrame(
        [(1, 2), (1, 100), (2, 200), (3, 4)], "doc_a long, doc_b long"
    )
    reg = spark.createDataFrame(
        [(100, 1), (200, 1)], "doc_id long, _reg int"
    )
    got = {
        r["doc_id"]: (r["dup_of"], r["keep"])
        for r in registry_winner_verdicts(
            spark, base, edges, reg
        ).collect()
    }
    assert got == {
        1: (100, 0),
        2: (100, 0),
        3: (3, 1),
        4: (3, 0),
        9: (9, 1),
    }


def test_winner_verdicts_no_registry(spark):
    from nfl_data_pipeline_spark.operators.dedup import (
        registry_winner_verdicts,
    )

    base = spark.createDataFrame([(5,), (6,), (7,)], "doc_id long")
    edges = spark.createDataFrame([(6, 7)], "doc_a long, doc_b long")
    got = {
        r["doc_id"]: (r["dup_of"], r["keep"])
        for r in registry_winner_verdicts(
            spark, base, edges, None
        ).collect()
    }
    assert got == {5: (5, 1), 6: (6, 1), 7: (6, 0)}


def test_banded_pair_stage_join_and_kernel_agree(spark, monkeypatch):
    """embedding_near_dups_banded on both sides of its band-row gate —
    the self-join form and the grouped kernel — returns the same
    pairs with hex-equal cosines, edge vectors included: NULL,
    shorter than ``dim`` (NULL cosine), longer than ``dim`` (prefix
    dot) and zero (NULL division)."""
    import random

    from nfl_data_pipeline_spark.operators import similarity

    dim = 8
    rng = random.Random(13)
    base = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(40)]
    # a few planted near-duplicates so high cosines occur too
    base += [[x + rng.uniform(-0.01, 0.01) for x in v] for v in base[:6]]
    null_id, short_id, long_id, zero_id = 1000, 1001, 1002, 1003
    rows = [(i, v) for i, v in enumerate(base)] + [
        (null_id, None),
        (short_id, base[1][: dim - 1]),
        (long_id, base[0] + [0.5, 0.5, 0.5]),  # same bands as id 0
        (zero_id, [0.0] * dim),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(min_rows):
        monkeypatch.setattr(similarity, "_PAIR_KERNEL_MIN_ROWS", min_rows)
        out = similarity.embedding_near_dups_banded(
            df, threshold=-2.0, band_bits=4, n_bands=2, dim=dim
        )
        return {(r["vec_a"], r["vec_b"]): r["cosine"] for r in out.collect()}

    joined = run(10**12)
    kernel = run(0)
    assert joined, "the fixture must produce candidate pairs"
    assert set(joined) == set(kernel)
    assert {k: v.hex() for k, v in joined.items()} == {
        k: v.hex() for k, v in kernel.items()
    }
    assert (0, long_id) in joined
    for a, b in joined:
        assert not {a, b} & {null_id, short_id, zero_id}


def test_winner_verdicts_ignore_non_registry_rows_on_both_paths(
    spark, monkeypatch
):
    """A ``_reg = 0`` row in ``reg_nodes`` is NOT a registry member:
    the driver union-find path and the distributed fallback must give
    the same verdicts, with the batch doc judged like any other."""
    from nfl_data_pipeline_spark.operators import dedup

    base = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    # doc 2 appears with _reg = 0; doc 100 is a real registry row
    # outside every component
    reg = spark.createDataFrame([(2, 0), (100, 1)], "doc_id long, _reg int")

    def verdicts():
        return {
            r["doc_id"]: (r["dup_of"], r["keep"])
            for r in dedup.registry_winner_verdicts(
                spark, base, edges, reg
            ).collect()
        }

    driver = verdicts()
    monkeypatch.setattr(dedup, "_union_find_rows", lambda *a, **k: None)
    distributed = verdicts()
    assert driver == distributed == {1: (1, 1), 2: (1, 0), 3: (1, 0)}


def test_removed_vector_engines_are_rejected(spark):
    """One engine set per operator: ``sql`` and ``arrow`` only."""
    from nfl_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        hyperplane_band_struct,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        cosine_topk(df, df, engine="exact")
    with pytest.raises(ValueError):
        hyperplane_band_struct(
            df, "vec_id", "embedding", 4, 2, 2, engine="exact"
        )
