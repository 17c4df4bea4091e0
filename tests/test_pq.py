"""Product quantization: codebook training, encoding, ADC search."""

from pyspark.sql import functions as F

from sutro_spark.operators.pq import (
    exact_l2_topk,
    pq_encode,
    pq_topk,
    pq_train,
)


def _vecs(spark, n=24, dim=16):
    # clustered synthetic: 4 well-separated groups in a corner each
    rows = []
    for i in range(n):
        g = i % 4
        base = [0.0] * dim
        for d in range(dim):
            base[d] = 0.8 if (d % 4) == g else 0.05 * ((i * 7 + d) % 3)
        rows.append((i, base))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_roundtrip_shapes(spark):
    df = _vecs(spark)
    cb = pq_train(df, m=4, k=4, iters=2, dim=16)
    assert cb.count() == 16  # 4 subs x 4 codes
    codes = pq_encode(df, cb, m=4, k=4, dim=16)
    assert codes.count() == 24 * 4
    assert codes.agg(F.max("code")).first()[0] <= 3
    assert codes.agg(F.min("code")).first()[0] >= 0


def test_pq_identical_vectors_same_codes(spark):
    # init = the 2 lowest-id vectors, so ids 0/1 seed DISTINCT
    # codewords; id 2 duplicates id 0 and must share its codes
    df = spark.createDataFrame(
        [(0, [0.5] * 16), (1, [-0.5] * 16), (2, [0.5] * 16)],
        "vec_id long, embedding array<double>",
    )
    cb = pq_train(df, m=4, k=2, iters=2, dim=16)
    codes = pq_encode(df, cb, m=4, k=2, dim=16)
    by_vec = {}
    for r in codes.collect():
        by_vec.setdefault(r.vec_id, {})[r.sub] = r.code
    assert by_vec[0] == by_vec[2]
    assert by_vec[0] != by_vec[1]


def test_pq_topk_finds_cluster_mates(spark):
    # on well-separated clusters PQ top-k should agree with exact L2
    df = _vecs(spark)
    cb = pq_train(df, m=4, k=4, iters=2, dim=16)
    queries = df.where(F.col("vec_id") < 2)
    approx = pq_topk(df, queries, cb, k=3, m=4, n_codes=4, dim=16)
    exact = exact_l2_topk(df, queries, k=3)
    # every approx neighbor of query 0 is in query 0's cluster (ids % 4 == 0)
    for r in approx.collect():
        assert r.neighbor_id % 4 == r.query_id % 4
        assert r.neighbor_id != r.query_id
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(a & e) >= 4  # high agreement on separable data


def test_pq_validation(spark):
    import pytest as _pytest

    df = _vecs(spark)
    with _pytest.raises(ValueError):
        pq_train(df, m=5, dim=16)
    with _pytest.raises(ValueError):
        pq_train(df, m=4, dim=16, iters=0)


def test_ivfpq_subset_of_full_adc(spark):
    # bucket pruning can only REMOVE candidates: every IVF-PQ result
    # pair must appear in the full-ADC candidate set with the same
    # adist2 (non-residual PQ: codes identical with or without routing)
    from sutro_spark.operators.pq import ivfpq_topk

    df = _vecs(spark)
    queries = df.where(F.col("vec_id") < 2)
    cb = pq_train(df, m=4, k=4, iters=2, dim=16)
    full = {
        (r.query_id, r.neighbor_id): r.adist2
        for r in pq_topk(df, queries, cb, k=24, m=4, n_codes=4, dim=16).collect()
    }
    routed = ivfpq_topk(
        df, queries, k=3, coarse_k=4, nprobe=1, m=4, n_codes=4, dim=16
    ).collect()
    assert routed
    for r in routed:
        assert full[(r.query_id, r.neighbor_id)] == r.adist2


def test_ivfpq_residual_finds_cluster_mates(spark):
    # residual IVFADC on well-separated clusters: with nprobe covering
    # the query's own bucket, the top neighbors must be cluster mates
    # (same construction discipline as test_pq_topk_finds_cluster_mates)
    from sutro_spark.operators.pq import ivfpq_residual_topk

    df = _vecs(spark)
    queries = df.where(F.col("vec_id") < 4)
    rows = ivfpq_residual_topk(
        df, queries, k=3, coarse_k=4, nprobe=2, m=4, n_codes=4, dim=16
    ).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    for q, ns in by_q.items():
        assert len(ns) == 3
        # cluster id is vec_id % 4; every retrieved neighbor shares it
        assert all(n % 4 == q % 4 for n in ns), (q, ns)


def test_ivfpq_residual_shift_cancels_in_distances(spark):
    # ranking must be invariant to the RESID_OFFSET shift: with a
    # single coarse centroid (coarse_k=1, nprobe=1) the residuals are
    # a pure translation of the raw vectors, so residual IVFADC must
    # produce exactly the full-ADC (pq_topk) ranking and distances.
    from sutro_spark.operators.pq import ivfpq_residual_topk

    df = _vecs(spark)
    queries = df.where(F.col("vec_id") < 2)
    routed = {
        (r.query_id, r.neighbor_id): r.adist2
        for r in ivfpq_residual_topk(
            df, queries, k=5, coarse_k=1, coarse_iters=1, nprobe=1,
            m=4, n_codes=4, dim=16,
        ).collect()
    }
    assert len(routed) == 10
    cb = pq_train(df, m=4, k=4, iters=2, dim=16)
    full = {
        (r.query_id, r.neighbor_id): r.adist2
        for r in pq_topk(df, queries, cb, k=5, m=4, n_codes=4, dim=16).collect()
    }
    assert routed == full


def test_ivfpq_pruned_equals_unpruned_with_fewer_candidates(spark):
    # the pruning theorem: identical top-k, strictly smaller ADC input
    # on well-separated clusters (the secondary probed bucket's lower
    # bound exceeds the k-th distance inside the primary bucket)
    from sutro_spark.operators.pq import (
        ivfpq_pruned_topk,
        ivfpq_prune_stats,
        ivfpq_residual_topk,
    )

    df = _vecs(spark)
    queries = df.where(F.col("vec_id") < 4)
    kw = dict(k=3, coarse_k=4, nprobe=2, m=4, n_codes=4, dim=16)
    plain = {
        (r.query_id, r.neighbor_id): (r.adist2, r.rank)
        for r in ivfpq_residual_topk(df, queries, **kw).collect()
    }
    pruned = {
        (r.query_id, r.neighbor_id): (r.adist2, r.rank)
        for r in ivfpq_pruned_topk(df, queries, **kw).collect()
    }
    assert pruned == plain and len(plain) == 12
    row = ivfpq_prune_stats(df, queries, **kw).collect()[0]
    assert row.n_queries == 4
    assert row.cand_pruned < row.cand_full, row


def test_ivfpq_pruned_topk_blocks_go_with_clear_cache(spark):
    # the returned plan is lazy and reads the residual corpus, qdt and
    # codes; clearCache must reach their blocks, and the plan must still
    # run from its lineage afterwards
    from sutro_spark.operators.pq import ivfpq_pruned_topk

    df = _vecs(spark)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    out = ivfpq_pruned_topk(
        df, df.where(F.col("vec_id") < 4), k=3, coarse_k=4, nprobe=2, m=4, n_codes=4, dim=16
    )
    rows = sorted(map(tuple, out.collect()))
    spark.catalog.clearCache()
    assert set(jsc.getPersistentRDDs().keys()) - before == set()
    assert sorted(map(tuple, out.collect())) == rows


def test_ivfpq_rescore_equals_exact_when_routing_is_total(spark):
    # r12 (VERDICT #1): with coarse_k=1/nprobe=1 every vector is a
    # routed candidate, so an exact rescore over a shortlist covering
    # all of them must reproduce exact_l2_topk BIT-FOR-BIT (same dist2,
    # same ranks) — ADC only ordered the shortlist, the rescore decides
    from sutro_spark.operators.pq import ivfpq_residual_topk, ivfpq_topk

    df = _vecs(spark)
    queries = df.where(F.col("vec_id") < 2)
    exact = {
        (r.query_id, r.neighbor_id): (r.dist2, r.rank)
        for r in exact_l2_topk(df, queries, k=3).collect()
    }
    for fn in (ivfpq_topk, ivfpq_residual_topk):
        out = fn(
            df, queries, k=3, coarse_k=1, coarse_iters=1, nprobe=1,
            m=4, n_codes=4, dim=16, rescore_k=23,
        )
        assert out.columns == ["query_id", "neighbor_id", "dist2", "rank"]
        got = {
            (r.query_id, r.neighbor_id): (r.dist2, r.rank)
            for r in out.collect()
        }
        assert got == exact, fn.__name__


def test_ivfpq_rescore_never_hurts_recall(spark):
    # the rescore re-orders a SUPERSET of the unrescored top-k by the
    # exact metric, so its agreement with exact_l2_topk can only rise
    from sutro_spark.operators.pq import ivfpq_residual_topk

    df = _vecs(spark, n=32)
    queries = df.where(F.col("vec_id") < 4)
    kw = dict(k=3, coarse_k=4, nprobe=2, m=4, n_codes=4, dim=16)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in exact_l2_topk(df, queries, k=3).collect()
    }
    plain = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_residual_topk(df, queries, **kw).collect()
    }
    rescored = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_residual_topk(df, queries, rescore_k=8, **kw).collect()
    }
    assert len(rescored & exact) >= len(plain & exact)


def test_ivfpq_rescore_validation(spark):
    import pytest as _pytest

    from sutro_spark.operators.pq import ivfpq_residual_topk, ivfpq_topk

    df = _vecs(spark)
    queries = df.where(F.col("vec_id") < 2)
    for fn in (ivfpq_topk, ivfpq_residual_topk):
        with _pytest.raises(ValueError):
            fn(df, queries, k=3, rescore_k=2, m=4, n_codes=4, dim=16)


# --- OPQ-lite Hadamard rotation -------------------------------------------


def test_hadamard_matrix_identity_and_python_parity(spark):
    from sutro_spark.operators.pq import hadamard_rotate_q

    # H·Hᵀ = d·I for the bit_count sign matrix (the orthogonality that
    # makes exact top-k invariant)
    d = 8
    H = [[1 if bin(i & j).count("1") % 2 == 0 else -1 for j in range(d)]
         for i in range(d)]
    for a in range(d):
        for b in range(d):
            dot = sum(H[a][x] * H[b][x] for x in range(d))
            assert dot == (d if a == b else 0)
    # Spark integer rotation == python replay of the same formula
    vecs = [
        (0, [0.5, -0.25, 0.125, 0.0, -0.5, 0.25, -0.125, 0.375]),
        (1, [0.001 * j for j in range(d)]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {r["id"]: r["rvec"] for r in hadamard_rotate_q(df, dim=d).collect()}
    for vid, v in vecs:
        q = [int(x * 1000) for x in v]  # truncating, all exact here
        expect = [sum(H[i][j] * q[j] for j in range(d)) for i in range(d)]
        assert got[vid] == expect, vid


def test_hadamard_rotated_preserves_exact_topk(spark):
    from pyspark.sql import functions as F

    from sutro_spark.operators.pq import exact_l2_topk, hadamard_rotated

    # well-separated unit-ball vectors: exact top-3 neighbor SETS must
    # survive the orthonormal rotation (distances scale uniformly;
    # re-quantization noise is far below the separation)
    import random

    rng = random.Random(3)
    rows = []
    for i in range(60):
        c = i % 4
        rows.append(
            (i, [0.6 if j == c * 4 else rng.randint(-40, 40) / 1000.0
                 for j in range(16)])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.where(F.col("vec_id") < 8)
    raw = {
        (r["query_id"], r["neighbor_id"])
        for r in exact_l2_topk(df, qs, k=3).collect()
    }
    rot = hadamard_rotated(df, dim=16)
    rotq = rot.where(F.col("vec_id") < 8)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in exact_l2_topk(rot, rotq, k=3).collect()
    }
    assert got == raw


def test_hadamard_guards(spark):
    import pytest as _pytest

    from sutro_spark.operators.pq import hadamard_rotate_q, hadamard_rotated

    df = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.3])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError):
        hadamard_rotate_q(df, dim=3)  # not a power of two
    with _pytest.raises(Exception, match="vector length"):
        hadamard_rotate_q(df, dim=4).collect()  # wrong length raises
    # unit-norm envelope enforced on the float face: ||x||_2 = 2 > 1
    big = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="unit-norm envelope"):
        hadamard_rotated(big, dim=4).collect()
