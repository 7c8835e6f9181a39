"""Similarity search over ``array<float>`` embedding columns.

  * brute_force_topk — exact cosine top-k of each query against the corpus.
    Baseline / verification path: broadcast the (small) query set, one pass
    over the corpus, per-query top-k window.  Corpus is never self-joined.
  * lsh_topk — random-hyperplane LSH bucketing: queries only meet corpus
    vectors sharing a signature bucket (multi-probe via several tables).
    The 100 TB path: shuffle cost ∝ bucket collisions, not |corpus|×|queries|.
  * ivf_topk — IVF coarse quantizer (spherical k-means trained on the
    driver over a seeded, element-bounded md5-key sample) + distributed
    nprobe cell probing; the corpus and the probes cogroup on the cell id
    and one Arrow kernel scores each probed cell's members × queries
    block — the second ANN scale path (FAISS IVF-flat shape).
  * cosine_neardup_pairs — embedding near-duplicate pairs via the same LSH
    tables + exact cosine verification.

Dot products run JVM-side (zip_with/aggregate) by default; for wide vectors
or many queries the ``method="pandas"`` paths switch to Arrow-batched numpy
matmuls with identical outputs.  The IVF cell kernel scans with BLAS and
refolds its survivors in numpy (``cumsum``), so its cosines are bitwise
the JVM fold values in both modes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imgfact_spark.functions.vectors import cosine_sim
from imgfact_spark.operators.topk import topk_per_group
from imgfact_spark.operators.util import ensure_parallelism, snapshot

# The query relation is broadcast (and, for brute force, collected) under a
# documented small-query contract.  Above this row count the LSH plan flips
# to shuffle joins keyed on the bucket/query-id columns instead of
# silently OOMing the executors with an over-sized broadcast.  200k rows ×
# a 64-float vector ≈ 110 MB serialized — the upper end of what a healthy
# executor broadcast should carry.
DEFAULT_MAX_BROADCAST_QUERIES = 200_000

# IVF training moves at most this many vector elements to the driver: the
# sample is the MAX_TRAIN_ELEMS // dim rows with the smallest md5(seed, id)
# keys.  200k × 64 doubles ≈ 100 MB at any vector width.
MAX_TRAIN_ELEMS = 200_000 * 64


def _query_side(df: DataFrame, n_queries: int, limit: int) -> DataFrame:
    """Broadcast the query-derived relation when it is contract-small;
    return it unhinted (→ shuffle hash join on the join keys) otherwise."""
    return F.broadcast(df) if n_queries <= limit else df


def _probe_n_queries(
    queries: DataFrame, limit: int, n_queries: "int | None"
) -> int:
    """Size of the query relation for the broadcast-vs-shuffle decision.

    The decision only needs to know whether the relation exceeds ``limit``,
    so the probe job is bounded with ``limit(limit+1)`` instead of a full
    count — an expensive uncached query lineage stops at limit+1 rows
    instead of being executed twice in full.  Callers that already know the
    size pass ``n_queries`` and no probe job runs at all."""
    if n_queries is not None:
        return n_queries
    return queries.limit(limit + 1).count()


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    method: str = "column",
    max_broadcast_queries: int = DEFAULT_MAX_BROADCAST_QUERIES,
    n_queries: "int | None" = None,
) -> DataFrame:
    """Exact cosine top-k: queries × corpus scan → window top-k.

    ``column``: broadcast-join + zip_with/aggregate dot products (JVM-side,
    no Python; right default for narrow vectors / few queries).
    ``pandas``: the query matrix is closed over into ONE Arrow-batched
    mapInPandas kernel doing a numpy ``(batch, dim) @ (dim, n_q)`` matmul —
    BLAS beats codegen once n_q × dim is a few thousand mults per row.

    CONTRACT: brute force scores every query against every corpus row — the
    query relation must be broadcast/collect-small.  A query set above
    ``max_broadcast_queries`` raises (there is no join key a shuffle could
    use; the cross product itself is the wrong algorithm at that size — use
    ``lsh_topk`` / ``ivf_topk``, which shuffle on bucket/cell keys instead).

    Output: (query_id, vec_id, cosine, rank) — identical for both methods
    (tests/test_similarity.py pins them together).
    """
    n_q = _probe_n_queries(queries, max_broadcast_queries, n_queries)
    if n_q > max_broadcast_queries:
        raise ValueError(
            f"brute_force_topk: >{max_broadcast_queries} queries exceeds the broadcast-small "
            f"query contract ({max_broadcast_queries}); every query meets "
            "every corpus row, so a large query set needs a bucketed ANN "
            "plan — use lsh_topk (its shuffle fallback handles large query "
            "relations) or ivf_topk, or raise max_broadcast_queries "
            "explicitly if the executors can hold the broadcast."
        )
    if method == "pandas":
        import numpy as np
        import pandas as pd

        qrows = queries.select(query_id_col, vec_col).collect()
        qids = np.array([r[query_id_col] for r in qrows])
        qmat = np.vstack([np.asarray(r[vec_col], dtype="float64") for r in qrows])
        qnorm = np.linalg.norm(qmat, axis=1)
        qnorm[qnorm == 0] = 1.0
        qt = (qmat / qnorm[:, None]).T  # (dim, n_q), pre-normalized

        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
                nrm = np.linalg.norm(m, axis=1)
                nrm[nrm == 0] = 1.0
                cos = np.round((m / nrm[:, None]) @ qt, 6)  # (batch, n_q)
                n, nq = cos.shape
                yield pd.DataFrame(
                    {
                        query_id_col: np.tile(qids, n),
                        id_col: np.repeat(pdf[id_col].to_numpy(), nq),
                        "cosine": cos.ravel(),
                    }
                )

        scored = ensure_parallelism(corpus.select(id_col, vec_col)).mapInPandas(
            score, schema=f"{query_id_col} long, {id_col} long, cosine double"
        )
    else:
        q = queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec")
        )
        scored = (
            ensure_parallelism(corpus.select(id_col, vec_col))
            .join(F.broadcast(q))
            .withColumn("cosine", F.round(cosine_sim(vec_col, "_qvec"), 6))
            .drop("_qvec", vec_col)
        )
    return topk_per_group(
        scored,
        keys=[query_id_col],
        order_by=[F.desc("cosine")],
        k=k,
        tiebreak=[id_col],
    )


def _table_planes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    """(n_tables*n_planes, dim) plane matrix; table t's block is exactly
    ``RandomState(seed+t).standard_normal((n_planes, dim))`` so multi-table
    signatures are bit-identical to per-table calls."""
    return np.vstack(
        [
            np.random.RandomState(seed + t).standard_normal((n_planes, dim))
            for t in range(n_tables)
        ]
    ).astype("float64")


def hyperplane_signatures(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    n_tables: int = 1,
    seed: int = 42,
    out_col: str = "lsh_sigs",
    method: str = "auto",
) -> DataFrame:
    """Random-hyperplane (SRP) signatures for ALL ``n_tables`` hash tables
    in ONE pass over ``df``: ``out_col`` is an ``array<long>`` of length
    ``n_tables`` where element t's bit i = sign(v · h_{t,i}).

    One projection (one matmul / one expression tree) instead of n_tables
    separate scans — callers explode the array, so the corpus is read once
    regardless of table count.  Two execution paths with identical results:

      * ``column`` — JVM-side zip_with/aggregate per plane.  No Python, no
        shuffle; fine for a handful of planes × small dim, but codegen cost
        grows as n_tables·n_planes·dim expressions per row.
      * ``pandas`` — one Arrow-batched pandas UDF doing a single numpy
        ``(batch, dim) @ (dim, n_tables*n_planes)`` matmul per batch — the
        vectorized model-kernel shape (BLAS, zero per-row Python).

    ``auto`` picks pandas when n_tables*n_planes*dim ≥ 512.
    """
    planes = _table_planes(dim, n_planes, n_tables, seed)
    if method == "auto":
        method = "pandas" if n_tables * n_planes * dim >= 512 else "column"

    if method == "column":
        sigs = []
        for t in range(n_tables):
            sig = F.lit(0).cast("long")
            for i in range(n_planes):
                plane = F.array(
                    *[F.lit(float(x)) for x in planes[t * n_planes + i]]
                )
                dot = F.aggregate(
                    F.zip_with(F.col(vec_col), plane, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                sig = sig.bitwiseOR(
                    F.when(
                        dot > 0, F.shiftleft(F.lit(1).cast("long"), i)
                    ).otherwise(F.lit(0).cast("long"))
                )
            sigs.append(sig)
        return df.withColumn(out_col, F.array(*sigs))

    planes_t = planes.T  # (dim, n_tables*n_planes)
    nt, npl = n_tables, n_planes

    @F.pandas_udf("array<long>")
    def sig_udf(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        mat = np.vstack(v.to_numpy())  # (batch, dim) float
        bits = mat.astype("float64") @ planes_t > 0  # (batch, nt*npl)
        out = np.zeros((len(v), nt), dtype=np.int64)
        for t in range(nt):
            for i in range(npl):
                out[:, t] |= bits[:, t * npl + i].astype(np.int64) << i
        return pd.Series(list(out))

    return df.withColumn(out_col, sig_udf(F.col(vec_col)))


def hyperplane_signature(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    out_col: str = "lsh_sig",
    method: str = "auto",
) -> DataFrame:
    """Single-table SRP signature (see hyperplane_signatures)."""
    return hyperplane_signatures(
        df, vec_col, dim, n_planes, 1, seed, "_sigs1", method
    ).withColumn(out_col, F.col("_sigs1")[0]).drop("_sigs1")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    method: str = "auto",
    max_broadcast_queries: int = DEFAULT_MAX_BROADCAST_QUERIES,
    n_queries: "int | None" = None,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing an LSH bucket
    with the query in ANY of ``n_tables`` hash tables; exact cosine + top-k
    on candidates only.

    All table signatures are emitted in one projection and exploded to
    (table, sig) rows, so the corpus is scanned ONCE regardless of
    ``n_tables`` (round-1 looped n_tables separate scans).

    The query-derived relations broadcast while the query set is under
    ``max_broadcast_queries``; above it the plan degrades gracefully to
    shuffle hash joins keyed on (table, signature) for the bucket probe and
    on the query id for the rerank — no driver/executor materialization of
    the query set, so a 10^7-query batch job plans instead of OOMing.

    ``method="column"`` forces sequential JVM dot products — bit-identical
    to DuckDB's list_dot_product, which is what the oracle-checked driver
    query uses; ``auto``/``pandas`` pick the BLAS kernel for throughput."""
    n_q = _probe_n_queries(queries, max_broadcast_queries, n_queries)
    c = ensure_parallelism(corpus.select(id_col, vec_col))
    q = queries.select(query_id_col, F.col(vec_col).alias("_qvec"))
    cexp = hyperplane_signatures(
        c, vec_col, dim, n_planes, n_tables, seed, method=method
    ).select(id_col, vec_col, F.posexplode("lsh_sigs").alias("_t", "_sig"))
    qexp = hyperplane_signatures(
        q.select(query_id_col, F.col("_qvec").alias(vec_col)),
        vec_col, dim, n_planes, n_tables, seed, method=method,
    ).select(query_id_col, F.posexplode("lsh_sigs").alias("_t", "_sig"))
    cand = (
        cexp.join(_query_side(qexp, n_q, max_broadcast_queries), ["_t", "_sig"])
        .select(query_id_col, id_col, vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = (
        cand.join(_query_side(q, n_q, max_broadcast_queries), query_id_col)
        .withColumn("cosine", F.round(cosine_sim(vec_col, "_qvec"), 6))
        .drop("_qvec", vec_col)
    )
    return topk_per_group(
        scored, keys=[query_id_col], order_by=[F.desc("cosine")], k=k, tiebreak=[id_col]
    )


def _train_sample(
    corpus: DataFrame, dim: int, id_col: str, vec_col: str, seed: int
) -> pd.DataFrame:
    """The IVF training sample, in ONE Spark job: the ``MAX_TRAIN_ELEMS //
    dim`` rows with the smallest ``md5(seed ‖ id)`` keys, ordered by
    (key, id), moved to the driver through Arrow (a row-based collect of
    150k array rows measured ~30 s of driver deserialization against ~1 s
    for Arrow).  Seeded and independent
    of partitioning; the key is the same string hashlib or DuckDB hashes,
    so every engine picks the same sample.  Returns (id, vec) rows."""
    key = F.md5(F.concat_ws("\x1f", F.lit(str(seed)), F.col(id_col).cast("string")))
    return (
        corpus.select(id_col, vec_col, key.alias("_k"))
        .orderBy("_k", id_col)
        .limit(MAX_TRAIN_ELEMS // dim)
        .select(id_col, vec_col)
        .toPandas()
    )


def ivf_train_centroids(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 64,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    deterministic: bool = False,
) -> np.ndarray:
    """Spherical k-means coarse quantizer for IVF (the second ANN scale
    path next to LSH; FAISS-style IVF over a DataFrame).  Returns the
    (n_cells, dim) L2-normalized centroid matrix.

    The driver trains on a seeded, element-bounded sample
    (:func:`_train_sample`): at most ``MAX_TRAIN_ELEMS`` vector
    elements reach it at any ``dim``, in one Spark job, and no job runs
    inside the Lloyd loop.  A corpus under the bound is trained in full;
    above it the centroids come from the sample, as FAISS trains its
    coarse quantizer.  Init = the first ``n_cells`` sample rows (tiny
    corpora degrade to fewer cells); each iteration assigns by max dot
    and recentres on the normalized member mean; empty cells keep their
    centroid.

    ``deterministic=True`` swaps two kernels for order-fixed folds —
    sequential dots and sorted sequential means — so the centroids are
    bitwise-equal to :func:`ivf_train_centroids_numpy`, which is what lets
    the driver queries inject them into DuckDB oracles as literals.  The
    default BLAS kernels agree to float associativity.
    """
    pdf = _train_sample(corpus, dim, id_col, vec_col, seed)
    if len(pdf) == 0:
        raise ValueError("ivf_train_centroids: empty corpus")
    mat = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
    return _lloyd(mat, n_cells, n_iters, deterministic)


def ivf_train_centroids_numpy(
    ids: np.ndarray,
    mat: np.ndarray,
    n_cells: int = 64,
    n_iters: int = 3,
    seed: int = 42,
) -> np.ndarray:
    """Exact numpy replica of ``ivf_train_centroids(deterministic=True)``:
    the same md5-key sample via hashlib, then the same Lloyd loop —
    bitwise-equal centroids.  Used by the s_ivf_topk / d_semantic_dedup
    oracle builders to embed the trained centroids as SQL literals without
    a SparkSession, and by tests as the trainer's reference."""
    import hashlib

    ids = ids.tolist()
    keys = [hashlib.md5(f"{seed}\x1f{i}".encode()).hexdigest() for i in ids]
    order = sorted(range(len(ids)), key=lambda j: (keys[j], ids[j]))
    order = order[: MAX_TRAIN_ELEMS // mat.shape[1]]
    return _lloyd(mat[order].astype("float64"), n_cells, n_iters, True)


def _lloyd(
    mat: np.ndarray, n_cells: int, n_iters: int, deterministic: bool
) -> np.ndarray:
    """The one Lloyd loop over the key-ordered sample ``mat``.

    Deterministic kernels: dots are sequential left folds (``cumsum`` IS
    the fold — bitwise the JVM zip_with/aggregate and DuckDB
    list_dot_product), means fold each column in sorted order.  Otherwise
    BLAS dots and ``mean``.  ``argmax`` takes the first max: the
    smallest-index tie-break of the column-mode cell ranking."""
    cents = mat[:n_cells]
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cents = cents / norms
    for _ in range(n_iters):
        dots = _fold_dots(mat, cents) if deterministic else mat @ cents.T
        cells = np.argmax(dots, axis=1)
        for cell in np.unique(cells):
            sub = mat[cells == cell]
            if deterministic:
                vec = np.cumsum(np.sort(sub, axis=0), axis=0)[-1] / len(sub)
            else:
                vec = sub.mean(axis=0)
            n = np.linalg.norm(vec)
            if n > 0:
                cents[cell] = vec / n
    return cents


def _fold_dots(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(rows, n_cells) sequential-fold dots, computed in row blocks so the
    (rows, n_cells, dim) product never exceeds ~2^22 elements (a full
    200k × 64 × 64 product is 6.5 GB)."""
    step = max(1, (1 << 22) // cents.size)
    return np.vstack([
        np.cumsum(mat[i : i + step, None, :] * cents[None, :, :], axis=2)[:, :, -1]
        for i in range(0, len(mat), step)
    ])


def _cell_rank_array(vec_col: str, centroids: np.ndarray):
    """Column expression: array of cell indices ordered by descending
    sequential-fold dot(v, centroid) with index tie-break — the JVM twin of
    DuckDB ``list_sort([{d: -list_dot_product(v, C_i), i: i}, ...])``."""
    structs = []
    for i, cent in enumerate(centroids):
        arr = F.array(*[F.lit(float(x)) for x in cent])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(
            F.struct((-dot).alias("d"), F.lit(i).cast("int").alias("i"))
        )
    return F.transform(F.sort_array(F.array(*structs)), lambda x: x["i"])


def _assign_cells(
    df: DataFrame, centroids: np.ndarray, vec_col: str, method: str = "pandas"
) -> DataFrame:
    """df + ``_cell`` = argmax cosine against the (broadcast-closed-over)
    centroid matrix.  ``pandas``: one Arrow-batched BLAS matmul per batch
    (the throughput path).  ``column``: sequential JVM fold dots, bitwise
    reproducible and DuckDB-replicable (argmax over raw dots — positive
    scaling by 1/||v|| never changes the argmax, so normalization is
    skipped)."""
    if method == "column":
        return df.withColumn(
            "_cell", _cell_rank_array(vec_col, centroids)[0]
        )
    ct = centroids.T  # (dim, n_cells)

    @F.pandas_udf("int")
    def cell_udf(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        sims = _unit_rows(np.vstack(v.to_numpy())) @ ct
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    return df.withColumn("_cell", cell_udf(F.col(vec_col)))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 64,
    nprobe: int = 8,
    n_iters: int = 3,
    seed: int = 42,
    method: str = "pandas",
    deterministic: bool = False,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell; each query probes its ``nprobe`` nearest cells and is scored
    exactly against those cells' members only — work ∝ probed-cell sizes,
    not |corpus|×|queries| (the FAISS IVF-flat shape).

    Probe assignment is DISTRIBUTED: the same closed-over centroid matrix
    that assigns corpus cells scores every query batch, taking the
    top-``nprobe`` per query.  The probe relation ``(query_id, vec,
    _cell)`` carries the query vector and inherits the query id's type
    from ``queries`` itself, so non-long ids work.

    Scoring is FAISS's inverted-list scan: the corpus and the probe
    relation cogroup on ``_cell`` (both sides shuffle on the cell id;
    nothing query-sized is broadcast, so there is no query-count gate) and
    :func:`_cell_kernel` scores each cell's members × probing queries in
    one Arrow call.  No row carries a vector per (query, candidate) pair,
    and no pair needs deduplication: every vector has one cell and a
    query's probed cells are distinct.  The kernel keeps only rows that
    can still reach a query's top k (k per query and probed cell, plus
    rows within 2e-6 of the k-th best), so the scored relation grows with
    |Q|·nprobe·k, not |Q|·nprobe·|cell|.

    Memory: both sides of a cell meet one kernel call whole — its members
    (raise ``n_cells`` to bound |cell|) and every query that probes it,
    about |Q|·nprobe/n_cells query vectors, more for a popular cell.
    Nothing bounds or spills that query frame, so split a query batch too
    large for one worker into several calls; each query's result depends
    only on the corpus and ``seed``, never on the other queries.  The
    scan itself runs in tiles of at most 2^22 scores.

    ``method="pandas"`` (default): Arrow-batched BLAS matmuls for cell
    assignment and probing.  ``method="column"`` + ``deterministic=True``:
    sequential JVM fold dots for assignment and probing, and fold-kernel
    training on the md5-key sample — bitwise-replicable in DuckDB with the
    trained centroids as literals (the oracle-checked driver query
    s_ivf_topk).  The cell kernel is the same in both modes: a BLAS scan
    whose survivors are refolded, so its cosines are always the JVM folds.
    """
    # ONE materialized (id, vec) projection feeds the training sample job
    # AND the cell assignment — the source is scanned once.
    c0 = snapshot(ensure_parallelism(corpus.select(id_col, vec_col)))
    cents = ivf_train_centroids(
        c0, dim, n_cells, n_iters, id_col, vec_col, seed,
        deterministic=deterministic,
    )
    assigned = _assign_cells(c0, cents, vec_col, method=method)

    nprobe_eff = min(nprobe, len(cents))
    # fresh aliases: a query relation derived from the corpus shares its
    # column ids, and cogroup would then bind the kernel's query-side
    # arguments to the corpus columns
    q = queries.select(
        F.col(query_id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    if method == "column":
        cells = F.slice(_cell_rank_array("_qvec", cents), 1, nprobe_eff)
    else:
        ct = cents.T  # (dim, n_cells)

        @F.pandas_udf("array<int>")
        def probe_udf(v: pd.Series) -> pd.Series:
            if len(v) == 0:
                return pd.Series([], dtype="object")
            sims = _unit_rows(np.vstack(v.to_numpy())) @ ct  # (batch, n_cells)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe_eff]
            return pd.Series([row.astype("int32") for row in order])

        cells = probe_udf(F.col("_qvec"))
    probes = q.select(query_id_col, "_qvec", F.explode(cells).alias("_cell"))

    schema = T.StructType([
        q.schema[query_id_col],
        c0.schema[id_col],
        T.StructField("cosine", T.DoubleType()),
    ])

    scored = (
        assigned.groupBy("_cell")
        .cogroup(probes.groupBy("_cell"))
        .applyInPandas(
            lambda members, probing: _cell_kernel(
                members, probing, k, id_col, vec_col, query_id_col
            ),
            schema,
        )
        .withColumn("cosine", F.round("cosine", 6))
    )
    return topk_per_group(
        scored, keys=[query_id_col], order_by=[F.desc("cosine")], k=k,
        tiebreak=[id_col],
    )


# Slack of the kernel's prune.  Spark's round(·, 6) is monotone and moves a
# value by less than 5e-7, so a raw cosine below kth − 1e-6 rounds strictly
# below the k rows at or above kth and can never enter the (cosine desc,
# id asc) top k.  The other 1e-6 covers the BLAS scan's distance from the
# fold values (under 2e-7: float products rounded to float in the fold
# move a unit dot and each norm by at most ~6e-8 relative).
_PRUNE_SLACK = 2e-6

# Elements of one scan tile (members × queries raw cosines) and of one
# survivor fold (rows × dim products) in the cell kernel.  A tile spans at
# least 64·k members, so the tile loop stays short and few rows survive a
# tile only to fail the cell's final threshold.
_SCAN_TILE = 1 << 22


def _cell_kernel(
    members: pd.DataFrame,
    probing: pd.DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> pd.DataFrame:
    """Raw cosines of one IVF cell: its members (id, vec) × the queries
    probing it (query_id, ``_qvec``), as (query_id, id, cosine) rows,
    pruned per query to the rows whose scan score is at least that
    query's k-th best in the cell minus :data:`_PRUNE_SLACK` — exact for
    the rounded top k (see the constant) and about k rows per query.

    The scan is one BLAS matmul per tile of L2-normalized members ×
    queries, at most :data:`_SCAN_TILE` scores.  Each query carries its k
    best scores across the member tiles, so after the last tile its
    threshold is the cell's k-th best; the survivors of earlier tiles are
    filtered once more against it.  The emitted cosines are the sequential
    folds of :func:`_fold_cosines` over the survivors, bitwise the JVM
    ``cosine_sim``.  A cell no query probes, or a probed cell with no
    members, yields no rows."""
    if len(members) == 0 or len(probing) == 0:
        return pd.DataFrame({
            query_id_col: probing[query_id_col].iloc[:0],
            id_col: members[id_col].iloc[:0],
            "cosine": np.empty(0),
        })
    mat = np.vstack(members[vec_col].to_numpy())
    qmat = np.vstack(probing["_qvec"].to_numpy())
    munit = _unit_rows(mat)
    qstep = max(1, _SCAN_TILE // (64 * k))
    mstep = max(64 * k, _SCAN_TILE // min(qstep, len(qmat)))
    rows, cols = [], []
    for j in range(0, len(qmat), qstep):
        qunit = _unit_rows(qmat[j : j + qstep]).T
        best = np.full((k, qunit.shape[1]), -np.inf)  # best[0]: k-th best
        hits = []
        for i in range(0, len(munit), mstep):
            scan = munit[i : i + mstep] @ qunit
            best = np.partition(np.vstack([best, scan]), -k, axis=0)[-k:]
            r, c = np.nonzero(~(scan < best[0] - _PRUNE_SLACK))  # keeps NaN
            hits.append((i + r, c, scan[r, c]))
        r, c, score = (np.concatenate(h) for h in zip(*hits))
        keep = ~(score < best[0][c] - _PRUNE_SLACK)
        rows.append(r[keep])
        cols.append(j + c[keep])
    rows, cols = np.concatenate(rows), np.concatenate(cols)
    fstep = max(1, _SCAN_TILE // mat.shape[1])
    cos = np.concatenate([
        _fold_cosines(mat[rows[s : s + fstep]], qmat[cols[s : s + fstep]])
        for s in range(0, len(rows), fstep)
    ])
    return pd.DataFrame({
        query_id_col: probing[query_id_col].to_numpy()[cols],
        id_col: members[id_col].to_numpy()[rows],
        "cosine": cos,
    })


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """float64 rows scaled to unit L2 norm; zero rows stay zero."""
    mat = mat.astype("float64")
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    return mat / nrm


def _fold_cosines(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosines of ``a``'s and ``b``'s vectors (last axis; the other axes
    broadcast) with the arithmetic of the JVM ``cosine_sim``: products in
    the inputs' own precision (float × float is a float there too), each
    dot and squared norm a sequential double fold (``cumsum``),
    ``sqrt(|a|²)·sqrt(|b|²)`` as the denominator and 0.0 where it is not
    positive — bitwise the JVM value and DuckDB's ``list_dot_product``.
    A NaN denominator divides, as in Spark, where NaN > 0 holds."""
    dots = np.cumsum(a * b, axis=-1, dtype="float64")[..., -1]
    den = _fold_norms(a) * _fold_norms(b)
    return np.divide(dots, den, out=np.zeros(dots.shape), where=~(den <= 0))


def _fold_norms(a: np.ndarray) -> np.ndarray:
    return np.sqrt(np.cumsum(a * a, axis=-1, dtype="float64")[..., -1])


def cosine_neardup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 14,
    n_tables: int = 3,
    seed: int = 42,
    method: str = "auto",
) -> DataFrame:
    """Embedding near-duplicate pairs: bucket self-join over (table, sig)
    → distinct candidate pairs → exact cosine ≥ threshold.

    One corpus scan emits every table's signature (array → posexplode);
    ``snapshot`` materializes the tiny (id, table, sig) relation so the
    self-join does not recompute the signatures (round-1 looped n_tables
    scans of the corpus).  ``method="column"``: sequential JVM dots for
    oracle bit-equality (see lsh_topk)."""
    c = ensure_parallelism(corpus.select(id_col, vec_col))
    sig = snapshot(
        hyperplane_signatures(
            c, vec_col, dim, n_planes, n_tables, seed, method=method
        ).select(id_col, F.posexplode("lsh_sigs").alias("_t", "_sig"))
    )
    l = sig.select(F.col(id_col).alias("id_a"), "_t", "_sig")
    r = sig.select(F.col(id_col).alias("id_b"), "_t", "_sig")
    cand = (
        l.join(r, ["_t", "_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", F.round(cosine_sim("_va", "_vb"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_cells: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    method: str = "pandas",
    deterministic: bool = False,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540): cluster the embedding space with the spherical k-means
    coarse quantizer, then search for τ-similar pairs ONLY within each
    cluster — turning the O(n²) all-pairs cosine scan into Σ O(|cell|²)
    with |cell| ≈ n/k, while catching exactly the pairs a semantic dedup
    wants (near-dups share a cell because the quantizer is trained on the
    same geometry).

    Keep policy (deterministic, partitioning-invariant): a row is DROPPED
    iff some τ-similar neighbor with a smaller ``id_col`` shares its cell;
    ``dup_of`` reports the smallest such neighbor.  (The paper keeps one
    random exemplar per duplicate set; smallest-id is the deterministic
    equivalent — the same representative rule as exact_dedup.)

    Returns (id_col, cell, keep, dup_of).

    Scale shape: centroid training = one top-k pass that moves a seeded,
    element-bounded md5-key sample to the driver, which trains on it
    (ivf_train_centroids; above the bound the centroids come from the
    sample); assignment is a map-only broadcast-closure pass; the pair
    search is an equi-self-join on the cell id — shuffle ∝ corpus rows,
    compare work bounded by the largest cell (AQE skew-split absorbs
    unbalanced cells; raise ``n_cells`` to cap |cell| — the paper runs
    k ≈ n/100k).  Nothing is all-pairs; only the bounded sample is
    driver-side.  ``deterministic=True`` +
    ``method='column'`` makes every value (cells, cosines, drops)
    bitwise-replicable in numpy/DuckDB, which is what the driver oracle
    injects as centroid literals.

    Engine extension: the reference dedups by exact media key only
    (composite-key dropDuplicates, SURVEY §2 A5); this is the embedding-
    space near-dup its corpus curation lacks.
    """
    c = ensure_parallelism(corpus.select(id_col, vec_col))
    if centroids is None:
        # shared materialized projection: training sample + final
        # assignment.  With caller-provided centroids the assignment is
        # the projection's ONLY consumer — no snapshot then.
        c = snapshot(c)
        centroids = ivf_train_centroids(
            c, dim, n_cells=n_cells, n_iters=n_iters, id_col=id_col,
            vec_col=vec_col, seed=seed, deterministic=deterministic,
        )
    assigned = snapshot(
        _assign_cells(c, centroids, vec_col, method=method).select(
            id_col, vec_col, F.col("_cell").cast("bigint").alias("cell")
        )
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), "cell", F.col(vec_col).alias("_va")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), "cell", F.col(vec_col).alias("_vb")
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_sim("_va", "_vb"), 6))
        .filter(F.col("cosine") >= threshold)
    )
    drops = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        assigned.select(id_col, "cell")
        .join(drops, [id_col], "left")
        .select(
            id_col, "cell", F.col("dup_of").isNull().alias("keep"), "dup_of"
        )
    )
