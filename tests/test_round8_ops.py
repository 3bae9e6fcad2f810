"""Unit invariants for the round-8 operators (beyond their oracle
parity rows): OPQ rotation properties and the exact-integer
round-half-away division discipline."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_opq_rotation_is_orthogonal_and_deterministic():
    from hiveberg_spark.operators.quantization import PQ_M, _opq_rotation

    rng = np.random.RandomState(7)
    X = rng.standard_normal((256, 64))
    # anisotropy: stretch the first dimensions so allocation has work
    X[:, :8] *= 10.0
    R1 = _opq_rotation(X)
    R2 = _opq_rotation(X.copy())
    # deterministic (eigh sign pinning) and orthogonal
    assert np.array_equal(R1, R2)
    assert np.allclose(R1.T @ R1, np.eye(64), atol=1e-9)
    # variance-balanced: the max/min subspace log-variance loads after
    # rotation must be far closer than the unrotated split's
    def loads(Y):
        d = Y.shape[1] // PQ_M
        v = Y.var(axis=0)
        return [float(np.log(v[j * d : (j + 1) * d]).sum()) for j in range(PQ_M)]

    spread_rot = np.ptp(loads(X @ R1))
    spread_raw = np.ptp(loads(X))
    assert spread_rot < spread_raw / 2, (spread_rot, spread_raw)


def test_exact_integer_round_half_away_matches_float_rounding():
    # the (2a + b) // (2b) formula used by the PCA/whitening/Markov
    # pipelines must equal round-half-away-from-zero of a/b for
    # magnitudes where floats are exact, and stay exact beyond 2^63
    for a in [0, 1, 5, 7, 12345, 2**40 + 3]:
        for b in [1, 2, 3, 7, 1000]:
            got = (2 * a * 10 + b) // (2 * b)
            want = int(np.floor(a * 10 / b + 0.5))
            assert got == want, (a, b, got, want)
    # beyond float precision: 2^64 + 1 over 2 — floats cannot see the +1
    a, b = 2**64 + 1, 2
    assert (2 * a + b) // (2 * b) == 2**63 + 1  # round-half-up of a/b


def test_bbit_estimator_on_real_signatures(spark):
    # Drive the PRODUCTION signature pipeline (shingled ->
    # minhash_signatures) on constructed docs and apply the operator's
    # own estimator constants: identical docs must estimate exactly 1.0,
    # a one-token edit must land within _BBIT_TOL of its exact Jaccard.
    from hiveberg_spark.operators.dedup import (
        _BBIT,
        _BBIT_TOL,
        _N_PERM,
        minhash_signatures,
        shingled,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " zebra")],
        "doc_id long, text string",
    )
    sh = shingled(docs)
    sigs = {r["doc_id"]: [r[f"s{p}"] for p in range(_N_PERM)]
            for r in minhash_signatures(sh).collect()}
    shs = {r["doc_id"]: set(r["shingles"]) for r in sh.collect()}
    mask = (1 << _BBIT) - 1
    c = 1.0 / (1 << _BBIT)

    def est(a, b):
        p = sum(
            (sigs[a][i] & mask) == (sigs[b][i] & mask) for i in range(_N_PERM)
        ) / _N_PERM
        return (p - c) / (1.0 - c)

    assert est(1, 2) == 1.0  # identical shingle sets -> all slots match
    jac = len(shs[1] & shs[3]) / len(shs[1] | shs[3])
    assert jac < 1.0
    assert abs(est(1, 3) - jac) <= _BBIT_TOL, (est(1, 3), jac)


def test_cms_estimate_bound_on_constructed_skew(spark, tmp_path):
    # Run the REGISTERED operator end-to-end on a constructed skewed
    # events table: one heavy user (600 events) among 300 light ones.
    # The CMS estimate must be >= exact (one-sided error) and within
    # the 4N/w bound for every reported heavy hitter.
    from hiveberg_spark import registry

    rows = [(i, 1, "click", 1.0) for i in range(600)]
    rows += [(600 + u, 2 + u, "click", 1.0) for u in range(300)]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    ).withColumn("ts", F.timestamp_micros(F.col("event_id") * 1000000)).write.parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r["user_id"]: r
        for r in registry.QUERIES["sketch_cms_heavy_hitters"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[1]["exact_cnt"] == 600
    assert all(r["cms_ge_exact"] and r["cms_within_bound"] for r in out.values())


def test_bm25_incremental_postings_prune_across_generations(spark, sf_dir):
    """Term-bucket pruning must survive incremental appends: after the
    base+delta builds, every bucket holds 2 files (one per generation),
    and a query bounded to the 3 BM25 terms plans only its terms'
    buckets — both generations of each, never other buckets
    (VERDICT r8 #7; the persisted-path measurement is PERF.md's
    'planned 2 of 8')."""
    import os

    from hiveberg_spark import registry
    from hiveberg_spark.operators.text_analysis import _BM25_TERMS
    from hiveberg_spark.operators.timetravel import warehouse_dir
    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    registry.QUERIES["text_bm25_incremental"](spark, sf_dir).collect()
    post = SnapshotTable.load(
        spark, os.path.join(warehouse_dir(sf_dir), "bm25_inc_postings")
    )
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    allf = post.plan_files()
    pruned = post.plan_files(where=f"w IN ({terms})")
    assert len(allf) == 16  # 8 buckets x 2 generations
    assert 0 < len(pruned) < len(allf)
    kept_buckets = {os.path.dirname(f).rsplit("=", 1)[-1] for f in pruned}
    # every kept bucket contributes BOTH its generations (no rows lost)
    for f in allf:
        if os.path.dirname(f).rsplit("=", 1)[-1] in kept_buckets:
            assert f in pruned
    assert len(pruned) == 2 * len(kept_buckets)
