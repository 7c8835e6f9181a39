"""Similarity search tests: exactness vs numpy oracle, LSH recall."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from imgfact_spark.operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    hyperplane_signature,
    lsh_topk,
)

DIM = 16
N = 120


def _vectors(spark):
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((N, DIM)).astype("float32")
    # plant near-dups: 100+i ≈ i slightly perturbed
    for i in range(5):
        vecs[N - 5 + i] = vecs[i] + rng.standard_normal(DIM).astype("float32") * 0.01
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(N)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        vecs,
    )


def test_brute_force_matches_numpy(spark):
    df, vecs = _vectors(spark)
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(df, q, k=5)
    res = {(r["query_id"], r["rank"]): r["vec_id"] for r in got.collect()}
    v = vecs.astype("float64")
    norms = np.linalg.norm(v, axis=1)
    for qi in range(3):
        cos = (v @ v[qi]) / (norms * norms[qi])
        cos = np.round(cos, 6)
        order = sorted(range(N), key=lambda j: (-cos[j], j))[:5]
        for rank, j in enumerate(order, 1):
            assert res[(qi, rank)] == j, (qi, rank, res[(qi, rank)], j)


def test_hyperplane_signature_paths_agree(spark):
    df, _ = _vectors(spark)
    a = hyperplane_signature(df, "embedding", DIM, 8, 42, "sig", method="column")
    b = hyperplane_signature(df, "embedding", DIM, 8, 42, "sig", method="pandas")
    av = {r["vec_id"]: r["sig"] for r in a.collect()}
    bv = {r["vec_id"]: r["sig"] for r in b.collect()}
    assert av == bv


def test_lsh_topk_recall(spark):
    df, _ = _vectors(spark)
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(df, q, k=3)
    approx = lsh_topk(df, q, dim=DIM, k=3, n_planes=6, n_tables=6)
    ex = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.6, f"LSH recall too low: {recall}"
    # self-match (cosine 1.0) must always be found — a query collides with
    # itself in every table
    for qi in range(5):
        assert (qi, qi) in ap


def test_cosine_neardup_pairs(spark):
    df, _ = _vectors(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(
            df, dim=DIM, threshold=0.98, n_planes=6, n_tables=6
        ).collect()
    }
    found = sum(1 for i in range(5) if (i, N - 5 + i) in pairs)
    assert found >= 4, f"planted near-dups found: {found}/5"


def test_brute_force_pandas_method_parity(spark):
    df, _ = _vectors(spark)
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = {
        (r["query_id"], r["vec_id"]): (r["cosine"], r["rank"])
        for r in brute_force_topk(df, q, k=4, method="column").collect()
    }
    b = {
        (r["query_id"], r["vec_id"]): (r["cosine"], r["rank"])
        for r in brute_force_topk(df, q, k=4, method="pandas").collect()
    }
    assert a == b


def test_query_size_guard_fallback_identical(spark):
    """Above max_broadcast_queries the LSH plan flips from broadcast-probe
    to shuffle joins (bucket + query-id keys) with IDENTICAL results;
    brute force raises, naming the contract.  (ivf_topk has no such gate:
    its cell cogroup shuffles both sides and broadcasts nothing.)"""
    import pytest

    df, _ = _vectors(spark)
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def rows(out):
        return sorted(
            (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
            for r in out.collect()
        )

    # disable Catalyst's size-stat auto-broadcast so any BroadcastExchange
    # in the plan can ONLY come from the operator's explicit hint — that
    # isolates what the guard controls (AQE/Catalyst remain free to pick
    # broadcast from real sizes in production; the guard only stops the
    # operator from FORCING an oversized one)
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        kw = dict(dim=DIM, k=5, n_planes=6, n_tables=2)
        small = lsh_topk(df, q, **kw)
        forced = lsh_topk(df, q, max_broadcast_queries=0, **kw)
        assert rows(small) == rows(forced)
        small_plan = small._jdf.queryExecution().executedPlan().toString()
        forced_plan = forced._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in small_plan
        assert "BroadcastExchange" not in forced_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)

    with pytest.raises(ValueError, match="broadcast-small"):
        brute_force_topk(df, q, k=5, max_broadcast_queries=0)


def test_lsh_degenerate_single_bucket_skew(spark):
    """All-identical vectors: the whole corpus collapses into ONE
    (table, signature) bucket — the worst-case bucket skew.  The shuffle
    fallback join must still complete (AQE skew-split owns the oversized
    bucket) and return the exact id-tiebroken top-k."""
    n = 2000
    df = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(n)], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame(
        [(0, [1.0] * 8)], "query_id long, embedding array<float>"
    )
    # exercise the shuffle-join path — the one where bucket skew exists
    out = lsh_topk(df, q, dim=8, k=5, n_planes=6, n_tables=2,
                   max_broadcast_queries=0)
    got = [(r.vec_id, r.cosine) for r in out.collect()]
    assert got == [(i, 1.0) for i in range(5)]  # all cosine 1.0 → id tiebreak
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_mean_pool_and_udaf(spark):
    from imgfact_spark.functions.vectors import avg_l2_norm_udaf, mean_pool

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [6.0, 8.0])],
        "k int, vec array<float>",
    )
    pooled = {r["k"]: r["mean_vec"] for r in mean_pool(df, ["k"], "vec", 2).collect()}
    assert pooled[1] == [2.0, 3.0] and pooled[2] == [6.0, 8.0]
    norms = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(avg_l2_norm_udaf("vec").alias("n")).collect()
    }
    assert abs(norms[2] - 10.0) < 1e-9


def test_ivf_topk_recall_and_determinism(spark):
    """IVF probe path: top-1 must be found for every query (near-dup
    planted), overall recall@5 vs brute force is high, and results are
    partitioning-invariant."""
    from imgfact_spark.operators.similarity import ivf_topk

    df, _ = _vectors(spark)
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(df, q, k=5).collect()
    }
    approx_df = ivf_topk(df, q, dim=DIM, k=5, n_cells=16, nprobe=6)
    approx = {(r["query_id"], r["vec_id"]) for r in approx_df.collect()}
    # the query vector itself (cosine 1.0) must always be retrieved: it
    # lives in the probed-first cell by construction
    for i in range(5):
        assert (i, i) in approx
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall@5 = {recall}"

    b = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(
            df.repartition(7), q.repartition(3), dim=DIM, k=5, n_cells=16, nprobe=6
        ).collect()
    }
    a = {(r["query_id"], r["vec_id"], r["rank"]) for r in approx_df.collect()}
    assert a == b


def test_ivf_candidates_bounded_by_probed_cells(spark):
    """nprobe < n_cells ⇒ the rerank never sees the whole corpus."""
    from imgfact_spark.operators.similarity import (
        _assign_cells,
        ivf_train_centroids,
    )

    df, _ = _vectors(spark)
    cents = ivf_train_centroids(df, DIM, n_cells=16, n_iters=2)
    assert cents.shape == (16, DIM)
    # centroids are unit-norm
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)
    assigned = _assign_cells(df, cents, "embedding")
    sizes = {r["_cell"]: r["count"] for r in assigned.groupBy("_cell").count().collect()}
    assert sum(sizes.values()) == N
    # probing 6 of 16 cells can only surface those cells' members
    assert max(sizes.values()) < N


def test_quantize_roundtrip_error_bound(spark):
    """int8-style quantization: codes bounded, zero vectors → zeros, and the
    reconstruction cosine stays above the scalar-quantization error bound."""
    from imgfact_spark.functions.vectors import (
        cosine_sim,
        dequantize_vec,
        quantize_vec,
        vec_max_abs,
    )

    df, vecs = _vectors(spark)
    df = df.unionByName(
        spark.createDataFrame([(999, [0.0] * DIM)], "vec_id long, embedding array<float>")
    )
    d = (
        df.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .withColumn("ma", vec_max_abs("v"))
        .withColumn("qv", quantize_vec("v"))
        .withColumn("dv", dequantize_vec("qv", "ma"))
        .withColumn("recon", cosine_sim("dv", "v"))
    )
    rows = d.collect()
    for r in rows:
        assert all(-128 <= q <= 127 for q in r["qv"])
        if r["vec_id"] == 999:
            assert all(q == 0 for q in r["qv"])
        else:
            assert r["recon"] > 0.995, (r["vec_id"], r["recon"])


def test_ivf_tiny_corpus_degrades_gracefully(spark):
    """Corpus smaller than n_cells: fewer cells, exact results (every
    vector probed), no crash; empty corpus raises."""
    import pytest

    from imgfact_spark.operators.similarity import ivf_topk, ivf_train_centroids

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cols = ["query_id", "vec_id", "cosine", "rank"]
    got = ivf_topk(df, q, dim=4, k=3, n_cells=64, nprobe=64, n_iters=1).select(*cols)
    exact = brute_force_topk(df, q, k=3).select(*cols)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exact.collect()))

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(Exception):
        ivf_train_centroids(empty, dim=4, n_cells=4)


def test_ivf_deterministic_training_matches_numpy_replica(spark):
    """deterministic=True Spark training must be BITWISE-equal to
    ivf_train_centroids_numpy (the oracle builder's replica): md5 init,
    sequential-fold dots, sorted sequential-fold means."""
    from imgfact_spark.operators.similarity import (
        ivf_train_centroids,
        ivf_train_centroids_numpy,
    )

    df, vecs = _vectors(spark)
    d = df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    got = ivf_train_centroids(d, DIM, n_cells=8, n_iters=3, deterministic=True)
    want = ivf_train_centroids_numpy(
        np.arange(N), vecs.astype("float64"), n_cells=8, n_iters=3
    )
    assert got.shape == want.shape
    assert np.array_equal(got, want), "centroids diverge bitwise"
    # and repartitioning must not change a single bit
    got2 = ivf_train_centroids(
        d.repartition(7), DIM, n_cells=8, n_iters=3, deterministic=True
    )
    assert np.array_equal(got, got2)


def test_ivf_fast_training_matches_deterministic(spark):
    """The two kernel choices of the one Lloyd loop (BLAS dots + mean vs
    sequential folds) agree to float associativity, with identical cell
    assignments on the fixture."""
    from imgfact_spark.operators.similarity import (
        _assign_cells,
        ivf_train_centroids,
    )

    df, _ = _vectors(spark)
    fast = ivf_train_centroids(df, DIM, n_cells=8, n_iters=3)
    det = ivf_train_centroids(df, DIM, n_cells=8, n_iters=3, deterministic=True)
    assert fast.shape == det.shape
    assert np.allclose(fast, det, atol=1e-9), "kernels diverge"

    def cells(cents):
        return {
            r["vec_id"]: r["_cell"]
            for r in _assign_cells(df, cents, "embedding").collect()
        }

    assert cells(fast) == cells(det)


def test_ivf_training_above_bound_uses_md5_key_sample(spark, monkeypatch):
    """Above MAX_TRAIN_ELEMS the driver gets exactly MAX_TRAIN_ELEMS // dim
    rows — the smallest hashlib md5(seed, id) keys, whatever the
    partitioning — and deterministic training on that sample equals the
    numpy replica run on the same subset."""
    import hashlib

    from imgfact_spark.operators import similarity as sim

    dim, n, cap = 1024, 40, 8
    monkeypatch.setattr(sim, "MAX_TRAIN_ELEMS", cap * dim + 100)
    rng = np.random.RandomState(3)
    vecs = rng.standard_normal((n, dim))
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    def sample_ids(d):
        return sim._train_sample(d, dim, "vec_id", "embedding", 42)["vec_id"].tolist()

    want = sorted(range(n), key=lambda i: hashlib.md5(f"42\x1f{i}".encode()).hexdigest())
    assert sim.MAX_TRAIN_ELEMS // dim == cap
    assert sample_ids(df) == want[:cap]
    assert sample_ids(df.repartition(7)) == want[:cap]

    got = sim.ivf_train_centroids(df, dim, n_cells=3, n_iters=2, deterministic=True)
    sub = np.array(want[:cap])
    ref = sim.ivf_train_centroids_numpy(sub, vecs[sub], n_cells=3, n_iters=2)
    assert np.array_equal(got, ref)
    # the replica applies the same bound to the full corpus
    full = sim.ivf_train_centroids_numpy(np.arange(n), vecs, n_cells=3, n_iters=2)
    assert np.array_equal(got, full)
    got7 = sim.ivf_train_centroids(
        df.repartition(7), dim, n_cells=3, n_iters=2, deterministic=True
    )
    assert np.array_equal(got, got7)


def test_ivf_training_one_iteration_hand_computed(spark):
    """Two well-separated clusters whose members are known: one Lloyd
    iteration yields each cluster's normalized member mean, in both
    modes.  The empty corpus raises ValueError."""
    import hashlib

    import pytest

    from imgfact_spark.operators.similarity import ivf_train_centroids

    n, dim = 20, 4
    rank = sorted(range(n), key=lambda i: hashlib.md5(f"42\x1f{i}".encode()).hexdigest())
    # the key-smallest id seeds cell 0, the next one cell 1: alternate
    # cluster membership along the key order so each seed is in its own
    members = [rank[0::2], rank[1::2]]
    rng = np.random.RandomState(11)
    vecs = np.zeros((n, dim))
    for c, ids in enumerate(members):
        for i in ids:
            vecs[i] = np.eye(dim)[c] * 5 + rng.uniform(0, 0.5, dim)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    want = np.vstack([vecs[ids].mean(axis=0) for ids in members])
    want /= np.linalg.norm(want, axis=1, keepdims=True)
    for det in (False, True):
        got = ivf_train_centroids(df, dim, n_cells=2, n_iters=1, deterministic=det)
        assert np.allclose(got, want, rtol=0, atol=1e-12), det

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        ivf_train_centroids(empty, dim=dim, n_cells=2)


def test_ivf_deterministic_kernels_are_sequential_folds():
    """deterministic=True dots and means are plain left folds — the
    JVM aggregate / DuckDB list_dot_product order — so the oracle's
    centroid literals do not depend on the BLAS build: after one
    iteration each centroid is the normalized left-fold mean of its
    members in sorted order, with members picked by left-fold dots."""
    from functools import reduce

    from imgfact_spark.operators.similarity import _fold_dots, _lloyd

    rng = np.random.RandomState(5)
    mat = rng.standard_normal((300, 7)) * 10.0 ** rng.randint(-8, 8, (300, 7))
    cents = mat[:3] / np.linalg.norm(mat[:3], axis=1, keepdims=True)

    def fold(xs):
        return reduce(lambda acc, x: acc + x, xs, 0.0)

    dots = np.array([[fold(a * b for a, b in zip(v, c)) for c in cents] for v in mat])
    assert np.array_equal(_fold_dots(mat, cents), dots)
    cells = np.argmax(dots, axis=1)
    want = cents.copy()
    for cell in np.unique(cells):
        sub = mat[cells == cell]
        vec = np.array([fold(sorted(sub[:, j])) / len(sub) for j in range(7)])
        want[cell] = vec / np.linalg.norm(vec)
    assert np.array_equal(_lloyd(mat, 3, 1, True), want)


def test_ivf_column_mode_matches_pandas_candidates(spark):
    """column-mode ivf_topk (sequential dots, the oracle path) retrieves
    the planted self-match for every query and is partitioning-invariant."""
    from imgfact_spark.operators.similarity import ivf_topk

    df, _ = _vectors(spark)
    d = df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = d.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(
            d, q, dim=DIM, k=5, n_cells=8, nprobe=4,
            method="column", deterministic=True,
        ).collect()
    }
    for i in range(5):
        assert (i, i, 1) in a  # self cosine 1.0 ranks first
    b = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(
            d.repartition(5), q.repartition(2), dim=DIM, k=5, n_cells=8,
            nprobe=4, method="column", deterministic=True,
        ).collect()
    }
    assert a == b


def _tie_corpus(spark):
    """150 base vectors × 6 copies, each copy exact or perturbed by 1e-7:
    a query's top k runs through whole groups of rows that share a
    rounded cosine, so the k boundary falls inside tie groups."""
    rng = np.random.RandomState(11)
    base = rng.standard_normal((150, DIM))
    rows = []
    for b in range(150):
        for c in range(6):
            noise = rng.choice([-1e-7, 0.0, 1e-7], DIM) if c % 2 else 0.0
            rows.append((b * 6 + c, (base[b] + noise).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_full_probe_equals_brute_force_column(spark):
    """Probing every cell, ivf_topk equals brute_force_topk(method='column')
    row for row with BITWISE cosines in both modes: the cell kernel's
    prune is exact and the cosines it emits are the JVM folds (the pandas
    mode refolds its BLAS survivors).  Run on the float fixture and on a
    double tie-stress corpus whose k boundary falls inside tie groups."""
    from imgfact_spark.operators.similarity import ivf_topk

    cols = ["query_id", "vec_id", "cosine", "rank"]
    fixture, _ = _vectors(spark)
    for df, qfilter in (
        (fixture, F.col("vec_id") < 5),
        (_tie_corpus(spark), (F.col("vec_id") % 6 == 1) & (F.col("vec_id") < 120)),
    ):
        q = df.filter(qfilter).select(F.col("vec_id").alias("query_id"), "embedding")
        want = sorted(map(tuple, brute_force_topk(df, q, k=10, method="column")
                          .select(*cols).collect()))
        for method in ("column", "pandas"):
            got = ivf_topk(df, q, dim=DIM, k=10, n_cells=8, nprobe=8, method=method)
            assert sorted(map(tuple, got.select(*cols).collect())) == want, method


def test_ivf_single_query_single_probe_meets_empty_query_sides(spark):
    """One query with nprobe=1: every other cell reaches the cell kernel
    with an empty query side.  The result is exactly brute force over the
    probed cell's members; the kernel itself returns typed empty frames
    for an empty side."""
    import pandas as pd

    from imgfact_spark.operators.similarity import (
        _assign_cells,
        _cell_kernel,
        ivf_topk,
        ivf_train_centroids,
    )

    cols = ["query_id", "vec_id", "cosine", "rank"]
    df, _ = _vectors(spark)
    q = df.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for method in ("pandas", "column"):
        det = method == "column"
        got = ivf_topk(df, q, dim=DIM, k=5, n_cells=8, nprobe=1,
                       method=method, deterministic=det)
        cents = ivf_train_centroids(df, DIM, n_cells=8, deterministic=det)
        assigned = _assign_cells(df, cents, "embedding", method=method)
        cell = assigned.filter(F.col("vec_id") == 3).first()["_cell"]
        members = assigned.filter(F.col("_cell") == cell).drop("_cell")
        want = brute_force_topk(members, q, k=5, method="column")
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, want.select(*cols).collect())
        ), method

    members = pd.DataFrame({"vec_id": [1, 2], "embedding": [np.ones(DIM)] * 2})
    probing = pd.DataFrame({"query_id": [7], "_qvec": [np.ones(DIM)]})
    for m, p in ((members, probing.iloc[:0]), (members.iloc[:0], probing)):
        out = _cell_kernel(m, p, 5, "vec_id", "embedding", "query_id")
        assert list(out.columns) == ["query_id", "vec_id", "cosine"] and len(out) == 0
        assert out["vec_id"].dtype == np.int64 and out["cosine"].dtype == np.float64
    # degenerate members score like the JVM cosine_sim: a NaN vector gives
    # NaN (Spark's NaN > 0 holds), a zero vector 0.0
    odd = pd.DataFrame({"vec_id": [1, 2], "embedding": [np.full(DIM, np.nan), np.zeros(DIM)]})
    out = _cell_kernel(odd, probing, 5, "vec_id", "embedding", "query_id")
    assert np.isnan(out["cosine"][0]) and out["cosine"][1] == 0.0


def _kernel_frames(n_members, n_queries, dim, seed):
    import pandas as pd

    rng = np.random.RandomState(seed)
    vecs = rng.standard_normal((n_members, dim)).astype("float32")
    qv = rng.standard_normal((n_queries, dim)).astype("float32")
    members = pd.DataFrame({"vec_id": np.arange(n_members), "embedding": list(vecs)})
    probing = pd.DataFrame({"query_id": np.arange(n_queries), "_qvec": list(qv)})
    return vecs, qv, members, probing


def test_ivf_cell_kernel_prune_is_exact_across_tiles(monkeypatch):
    """With tiles far smaller than the cell (many member and query tiles),
    the kernel emits, per query, the rows within the prune slack of its
    k-th best fold cosine in the WHOLE cell — about k rows, not k per
    tile — and every dropped row folds more than 1e-6 below that k-th
    best, so it rounds strictly below k kept rows.  The emitted cosines
    are bitwise the sequential folds on float vectors (where the JVM
    rounds each product to float and BLAS over doubles does not)."""
    from imgfact_spark.operators import similarity
    from imgfact_spark.operators.similarity import _cell_kernel, _fold_cosines

    k = 10
    monkeypatch.setattr(similarity, "_SCAN_TILE", 64 * k * 4)  # 4 queries × 640 members
    vecs, qv, members, probing = _kernel_frames(3000, 30, DIM, seed=9)
    out = _cell_kernel(members, probing, k, "vec_id", "embedding", "query_id")
    folds = _fold_cosines(vecs[:, None, :], qv[None, :, :])  # (members, queries)
    r, c = out["vec_id"].to_numpy(), out["query_id"].to_numpy()
    assert (out["cosine"].to_numpy() == folds[r, c]).all()
    kth = np.sort(folds, axis=0)[-k]
    kept = np.zeros(folds.shape, bool)
    kept[r, c] = True
    assert (kept | (folds < kth - 1e-6)).all()
    assert (kept[folds >= kth]).all()
    per_query = np.bincount(c, minlength=30)
    assert per_query.min() >= k and per_query.sum() <= 30 * k + 3


def test_ivf_cell_kernel_prunes_many_probing_queries():
    """A cell probed by so many queries that |queries|·dim exceeds
    2^22 / k still comes out at about k rows per query: the scan tiles
    the queries too, so its member tiles stay far wider than k."""
    from imgfact_spark.operators.similarity import _cell_kernel

    k, n_q, dim = 10, 7000, 64
    assert n_q * dim > (1 << 22) // k
    _, _, members, probing = _kernel_frames(300, n_q, dim, seed=5)
    out = _cell_kernel(members, probing, k, "vec_id", "embedding", "query_id")
    per_query = np.bincount(out["query_id"].to_numpy(), minlength=n_q)
    assert per_query.min() >= k and per_query.sum() <= n_q * k * 1.01


def test_semantic_dedup_drops_planted_copies(spark):
    """Planted near-copies (ids 115-119 ≈ 0-4) are dropped with dup_of =
    the original; a numpy brute-force twin of the full policy (cell
    assignment + within-cell τ-pairs + min-id drop) agrees row for row;
    partitioning never changes the result."""
    from imgfact_spark.operators.similarity import (
        ivf_train_centroids_numpy,
        semantic_dedup,
    )

    df, vecs = _vectors(spark)
    out = semantic_dedup(
        df, dim=DIM, threshold=0.9, n_cells=6, n_iters=3,
        method="column", deterministic=True,
    )
    got = {r.vec_id: (r.cell, r.keep, r.dup_of) for r in out.collect()}
    assert len(got) == N

    # numpy twin
    ids = np.arange(N)
    m = vecs.astype("float64")
    cents = ivf_train_centroids_numpy(ids, m, n_cells=6, n_iters=3, seed=42)
    cells = np.argmax(m @ cents.T, axis=1)
    norms = np.linalg.norm(m, axis=1)
    dup_of = {}
    for j in range(N):
        for i in range(j):
            if cells[i] != cells[j]:
                continue
            cos = round(m[i] @ m[j] / (norms[i] * norms[j]), 6)
            if cos >= 0.9:
                dup_of.setdefault(j, i)
    for v_id, (cell, keep, d) in got.items():
        assert cell == cells[v_id], v_id
        assert keep == (v_id not in dup_of), v_id
        assert d == dup_of.get(v_id), v_id
    # the 5 planted copies are exactly the drops, each pointing at its twin
    assert {v for v, (_, k, _) in got.items() if not k} == {N - 5 + i for i in range(5)}
    for i in range(5):
        assert got[N - 5 + i][2] == i

    # partitioning invariance
    got2 = {
        r.vec_id: (r.cell, r.keep, r.dup_of)
        for r in semantic_dedup(
            df.repartition(13), dim=DIM, threshold=0.9, n_cells=6, n_iters=3,
            method="column", deterministic=True,
        ).collect()
    }
    assert got2 == got
