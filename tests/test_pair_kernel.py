"""Focused tests for the r13 segment-vectorized pair kernels: the
grouped pair scorer (operators/similarity._grouped_pair_scores — the
banded near-dup, embedding-gate verify and semantic_dedup pair engine)
and the driver-side winner resolution in registry_winner_verdicts.

Both sides of the banded operator's pair-stage gate are run over the
same edge-case frame and hex-compared; the other tests pin the
SEMANTIC contracts that the join forms enforced structurally: pair
orientation, side rules (the gate's probe/registry and
semantic_dedup's primary/probe), zero-norm NULL-division behavior,
multi-batch segment carry, semantic_dedup's input contract, and
registry-first-arrival winner selection (on both the driver and the
distributed union-find path).
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


def test_many_pair_blocks_match_the_exact_order_fold(spark):
    """A group with more pairs than one scoring block (2**16) gives
    the same cosines as the per-pair fold, bit for bit."""
    import numpy as np

    rng = np.random.default_rng(3)
    m, dim = 400, 4  # 79,800 pairs
    X = rng.standard_normal((m, dim))
    norms = np.sqrt((X * X).sum(axis=1))
    rows = [(1, i, X[i].tolist(), float(norms[i])) for i in range(m)]
    got = _scores(spark, rows, dim=dim)
    a_idx, b_idx = np.triu_indices(m, k=1)
    dot = np.zeros(len(a_idx))
    for j in range(dim):
        dot += X[a_idx, j] * X[b_idx, j]
    want = dot / (norms[a_idx] * norms[b_idx])
    assert got == {
        (int(a), int(b)): float(c) for a, b, c in zip(a_idx, b_idx, want)
    }


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


def test_semantic_dedup_probe_rule_matches_numpy_reference(spark):
    """semantic_dedup's pair stage on a hand-built probed table:
    primary-primary pairs once, primary-probe pairs always (whichever
    id is lower), probe-probe pairs never, zero-norm vectors never.
    The dropped ids equal a numpy reference of that rule."""
    import numpy as np

    from nfl_data_pipeline_spark.operators.similarity import (
        _dedup_from_assignments,
    )

    # (vid, vec, cid, rn)
    rows = [
        (1, _vec(1, 0, 0), 0, 1),
        (2, _vec(1, 0.01, 0), 0, 1),     # primary-primary with 1
        (9, _vec(0, 0, 0), 0, 1),        # zero norm
        (5, _vec(1, 0, 0.01), 0, 2),     # probe, near 1 and 2
        (6, _vec(1, 0, 0.02), 0, 3),     # probe, near 1, 2 and 5
        (3, _vec(0, 1, 0), 1, 1),
        (0, _vec(0, 1, 0.005), 1, 2),    # probe with a LOWER id than 3
        (7, _vec(0, 0, 1), 1, 2),        # probe-probe only with 8
        (8, _vec(0, 0, 1.01), 1, 2),
        (0, _vec(0, 1, 0.005), 2, 1),
        (5, _vec(1, 0, 0.01), 3, 1),
        (6, _vec(1, 0, 0.02), 4, 1),
        (7, _vec(0, 0, 1), 5, 1),
        (8, _vec(0, 0, 1.01), 6, 1),
    ]
    threshold = 0.9

    def reference(probe_probe):
        drops = set()
        for cid in {r[2] for r in rows}:
            cell = sorted(r for r in rows if r[2] == cid)
            for i, (va, xa, _, ra) in enumerate(cell):
                for vb, xb, _, rb in cell[i + 1 :]:
                    if ra > 1 and rb > 1 and not probe_probe:
                        continue
                    a, b = np.array(xa), np.array(xb)
                    nprod = np.linalg.norm(a) * np.linalg.norm(b)
                    if nprod and a @ b / nprod >= threshold:
                        drops.add(max(va, vb))
        return drops

    probed = spark.createDataFrame(
        rows, "vid long, vec array<double>, cid int, rn int"
    )
    out = _dedup_from_assignments(probed, "vec_id", threshold, 3)
    got = {r["vec_id"] for r in out.collect() if r["is_kept"] == 0}
    assert got == reference(probe_probe=False) == {2, 3, 5, 6}
    # the fixture exercises the rule: scoring probe pairs would drop 8
    assert 8 in reference(probe_probe=True)
    # one row per vector, in its primary cell
    assert out.count() == len({r[0] for r in rows})


def test_semantic_dedup_with_probes_on_smoke_fixture(spark):
    from nfl_data_pipeline_spark.catalog import load
    from nfl_data_pipeline_spark.operators.similarity import semantic_dedup
    from tests.conftest import SF_SMOKE

    e = load(spark, SF_SMOKE, "embeddings")
    out = semantic_dedup(e, k=4, n_probe=2).collect()
    assert len(out) == e.count() == len({r["vec_id"] for r in out})


def test_semantic_dedup_rejects_mixed_widths(spark):
    """Ragged input raises instead of silently losing the rows whose
    width differs from their cluster's first row; NULL vectors are
    skipped, not counted as a width."""
    from nfl_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_ml,
    )

    schema = "vec_id long, embedding array<double>"
    ragged = spark.createDataFrame(
        [(1, _vec(1, 0)), (2, _vec(1, 0, 0)), (3, _vec(1, 0.01))], schema
    )
    with pytest.raises(ValueError, match="one vector width"):
        semantic_dedup(ragged, k=1)
    with pytest.raises(ValueError, match="one vector width"):
        semantic_dedup_ml(ragged, k=1)
    with_null = spark.createDataFrame(
        [(1, _vec(1, 0)), (2, None), (3, _vec(1, 0.01))], schema
    )
    got = {
        r["vec_id"]: r["is_kept"]
        for r in semantic_dedup(with_null, k=1, threshold=0.9).collect()
    }
    assert got == {1: 1, 2: 1, 3: 0}


def test_semantic_dedup_empty_frame(spark):
    from nfl_data_pipeline_spark.operators.similarity import semantic_dedup

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = semantic_dedup(empty)
    assert out.schema.simpleString() == (
        "struct<vec_id:bigint,cluster_id:int,cluster_size:bigint,"
        "is_kept:int>"
    )
    assert out.count() == 0
