"""Deduplication family for large-scale corpus work.

Five strategies, all shuffle-conscious:

  * exact_dedup          — hash-groupBy on a normalized fingerprint; one
                           shuffle on the 64-bit hash, not the full text.
  * minhash_lsh_dup_pairs— shingle → minhash → band → bucket-join; candidate
                           pairs only ever meet inside a band bucket, so the
                           join never goes quadratic in corpus size.
  * simhash_dup_pairs    — 64-bit simhash, Hamming-adjacency via band tables.
  * ngram_jaccard        — exact Jaccard on token n-gram sets for a given
                           candidate pair set (verification stage after LSH).
  * embedding-cosine near-dup lives in operators/similarity.py (same LSH
    bucketing machinery over random hyperplanes).

At 100 TB the only viable plan is: cheap signature per doc (map-only) →
group tiny signatures (shuffle of ~100 bytes/doc) → verify only candidate
pairs.  Everything here follows that shape.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from imgfact_spark.functions.text import doc_fingerprint, normalized_tokens
from imgfact_spark.operators.util import ensure_parallelism, snapshot


def _h64(col, salt: int | None = None, hash_mode: str = "xxhash64") -> Column:
    """64-bit hash of a string column, optionally salted.

    ``xxhash64`` (default): fastest, JVM-native — the production path.
    ``md5``: 60-bit value from the md5 hex prefix — the cross-engine seeded
    primitive; DuckDB computes the identical value as
    ``('0x' || substr(md5(x || chr(31) || salt), 1, 15))::BIGINT``, which is
    what the driver-facing dedup queries use for oracle checking.
    """
    c = F.col(col) if isinstance(col, str) else col
    if hash_mode == "xxhash64":
        return F.xxhash64(c, F.lit(salt)) if salt is not None else F.xxhash64(c)
    inp = c if salt is None else F.concat_ws("\x1f", c, F.lit(str(salt)))
    return F.conv(F.substring(F.md5(inp), 1, 15), 16, 10).cast("bigint")


# --------------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact normalized-text duplicate
    group.  Shuffles only (fingerprint, id)."""
    fp = df.select(F.col(id_col), doc_fingerprint(text_col).alias("_fp"))
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


# ------------------------------------------------------------------ shingles


def _sliding_concat(toks: Column, n: int, num) -> Column:
    """Space-joined word n-grams as a zip_with chain over ``n`` shifted
    slices — LINEAR in document length.

    The previous form, ``transform(sequence(1..num), j -> concat_ws(" ",
    slice(toks, j, n)))``, re-slices the token array per element: O(len)
    per gram ⇒ O(len²) per document (measured 8.8 s vs 0.47 s for the
    bench shingle pass over 3.1M shingles — guide §1.2 "fix the
    distributed algorithm / per-task work first", and the repo's own
    zip_with-over-shifted-slices lesson from repetition_ratio).

    Value-identical to the transform form: element j-1 joins
    toks[j..j+n-1]; slices truncate at the array end, zip_with pads the
    tail with NULLs, and concat_ws skips NULLs — exactly the
    shorter-than-n tail grams the slice form produced.  NULL ``toks``
    read as ``[""]`` — the slice form's concat_ws of a NULL slice.
    ``num`` is the gram count (Column, >= 1)."""
    toks = F.coalesce(toks, F.array(F.lit("")))
    acc = F.slice(toks, 1, num)
    for i in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, i + 1, num),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    return acc


def _shingles(text_col: str, n: int) -> Column:
    """Word n-gram shingle array of the lowercased text (distinct)."""
    toks = normalized_tokens(text_col)
    num = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(_sliding_concat(toks, n, num))


def shingle_df(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    return ensure_parallelism(df).select(
        F.col(id_col), _shingles(text_col, n).alias("shingles")
    )


# ------------------------------------------------------------------- minhash


def minhash_signature(
    df: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    num_hashes: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signature as array<long>: for hash i,
    ``min over shingles of hash64(shingle, i)``.

    Shape: explode shingles → hash-aggregate ``num_hashes`` mins per id.
    Catalyst's partial aggregation computes the mins map-side, so the
    shuffle carries only ``num_hashes`` longs per (id, input-partition) —
    NOT the shingles.  (The no-shuffle alternative — num_hashes nested
    array-transform expressions per row — blows up whole-stage codegen and
    is ~10× slower in practice.)

    ``hash_mode="md5"`` switches to the cross-engine md5-prefix hash so a
    DuckDB oracle can replicate signatures exactly (driver queries)."""
    ex = df.select(F.col(id_col), F.explode_outer(shingle_col).alias("_sh"))
    if hash_mode == "xxhash64":
        # Production family: hash the shingle STRING once, derive the
        # num_hashes values from the 8-byte base hash (xxhash64 folds the
        # salt into the base hash's avalanche output — the classic
        # derive-k-hashes-from-one composition).  The previous form
        # re-hashed the string per salt: num_hashes × O(len) string
        # passes per shingle vs one (measured ~0.8 s of the bench
        # section).  Same minwise-independence quality; md5 (oracle) mode
        # is untouched — its values are replayed by DuckDB oracles.
        ex = ex.select(F.col(id_col), F.xxhash64("_sh").alias("_sh"))
    aggs = [
        F.min(_h64("_sh", i, hash_mode)).alias(f"_h{i}") for i in range(num_hashes)
    ]
    g = ex.groupBy(id_col).agg(*aggs)
    return g.select(
        F.col(id_col),
        F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"),
    )


#: Version of the PRODUCTION (xxhash64-mode) minhash/band hash family.
#: r7 changed the family (one base string hash + derived salts; band
#: hashes fold signature longs directly), so band/bh values are NOT
#: comparable across versions: a band index persisted under an older
#: family matches nothing computed under this one — silently keeping
#: every historical duplicate.  Any store that persists band relations
#: between runs (e.g. the streaming incremental-dedup index) must be
#: REBUILT when this number changes; record it next to the index (the
#: input-fingerprint convention) so a mismatch is detectable.  md5
#: (oracle) mode is engine-pinned and unversioned.
MINHASH_FAMILY_VERSION = 2


def minhash_band_table(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """The storable LSH band index: (id, band, bh) — ``bands`` 16-byte rows
    per document.  This relation IS the persistent artifact an incremental
    pipeline keeps between crawl batches (:func:`dedup_against_index`);
    :func:`minhash_lsh_dup_pairs` self-joins it for the batch case.

    Persisted xxhash64-mode band relations are only valid against the
    :data:`MINHASH_FAMILY_VERSION` they were written under — rebuild the
    index on a family bump (see the constant's docstring)."""
    def _band_hash(b: int) -> Column:
        elems = [
            F.element_at("sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        if hash_mode == "xxhash64":
            # production: fold the row hashes directly (JVM-native multi-
            # column xxhash64) instead of stringifying + concatenating +
            # string-hashing them — same collision contract (equal band
            # rows ⇒ equal hash), no per-row string materialization.
            # md5 (oracle) mode keeps the DuckDB-replayable string form.
            return F.xxhash64(*elems)
        return _h64(
            F.concat_ws(",", *[e.cast("string") for e in elems]), None, hash_mode
        )

    band_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _band_hash(b).alias("bh"))
            for b in range(bands)
        ]
    )
    return sig_df.select(F.col(id_col), F.explode(band_arr).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def minhash_lsh_dup_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banding: docs sharing any full band
    collide.  Returns distinct (id_a < id_b) pairs with the matching band
    count — the classic MinHash-LSH S-curve (bands=16 × rows=4 over 64
    hashes ⇒ ~50% threshold near Jaccard 0.5).

    Scale shape: explode to (band_id, band_hash, id) — ``bands`` rows per doc
    of ~16 bytes — then self-join per bucket.  Bucket sizes are bounded by
    collision probability, not corpus size; a pathological bucket (all-empty
    docs) is capped via ``spark.sql.adaptive`` skew split.
    """
    buckets = minhash_band_table(
        sig_df, id_col, bands=bands, rows_per_band=rows_per_band,
        hash_mode=hash_mode,
    )
    # materialize once: both self-join sides reuse it instead of recomputing
    # the whole shingle→minhash chain per side
    buckets = snapshot(buckets)
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_bands"))
    )
    return pairs


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Full near-dup dedup: LSH pairs → connected components → keep min id
    per component.  Returns the deduplicated rows of ``df``."""
    from imgfact_spark.operators.connected_components import connected_components

    sh = shingle_df(df, text_col, id_col, n)
    sig = minhash_signature(sh, id_col, num_hashes=num_hashes)
    pairs = minhash_lsh_dup_pairs(sig, id_col, bands=bands, rows_per_band=num_hashes // bands)
    if pairs.isEmpty():
        return df
    comp = connected_components(
        pairs.select(
            F.col("id_a").cast("string").alias("src"),
            F.col("id_b").cast("string").alias("dst"),
        )
    )
    # Components are computed over stringified nodes, but the kept
    # representative is min over the NATIVE id type (consistent with
    # exact_dedup's F.min) — map nodes back through the corpus ids rather
    # than trusting the lexicographic component label ("10" < "9").
    member = df.select(F.col(id_col)).join(
        comp.select(F.col("node"), F.col("component")),
        F.col(id_col).cast("string") == F.col("node"),
        "inner",
    )
    keep = member.groupBy("component").agg(F.min(id_col).alias("_keep_id"))
    drop = (
        member.join(keep, "component")
        .filter(F.col(id_col) != F.col("_keep_id"))
        .select(F.col(id_col).alias("_drop_id"))
    )
    return df.join(drop, df[id_col] == drop["_drop_id"], "left_anti")


# ------------------------------------------------------------------- simhash


def simhash64(
    df: DataFrame, text_col: str, id_col: str, n: int = 2,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over word n-grams: bit b of the result is the sign of
    ``sum over shingles of (hash bit b ? +1 : -1)``.

    Same explode → partial-agg shape as minhash_signature: 64 conditional
    sums per id computed map-side, then one projection folds the signs into
    a single long.

    ``hash_mode="md5"`` uses the 60-bit cross-engine md5-prefix hash; bits
    60-63 are then constant 0 for every document (a 60-bit simhash), which
    leaves Hamming distances unchanged."""
    ex = ensure_parallelism(df).select(
        F.col(id_col), F.explode_outer(_shingles(text_col, n)).alias("_sh")
    ).select(F.col(id_col), _h64("_sh", None, hash_mode).alias("_h"))
    aggs = [
        F.sum(
            F.when(F.shiftright("_h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(64)
    ]
    g = ex.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(
                F.col(f"_b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return g.select(F.col(id_col), sim.alias("simhash"))


def simhash_dup_pairs(
    sim_df: DataFrame, id_col: str, max_hamming: int = 3, blocks: int = 4
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ max_hamming via block-permuted
    banding (pigeonhole: distance ≤ 3 ⇒ at least one of 4 16-bit blocks is
    equal).  Join meets only within equal blocks; exact Hamming verified with
    bit_count."""
    block_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(F.col("simhash"), i * (64 // blocks))
                .bitwiseAND(F.lit((1 << (64 // blocks)) - 1))
                .alias("key"),
            )
            for i in range(blocks)
        ]
    )
    b = sim_df.select(F.col(id_col), F.col("simhash"), F.explode(block_arr).alias("b")).select(
        id_col, "simhash", F.col("b.blk").alias("blk"), F.col("b.key").alias("key")
    )
    b = snapshot(b)
    l, r = b.alias("l"), b.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ----------------------------------------------------- corpus n-gram stats


def ngram_topk(
    df: DataFrame, text_col: str, id_col: str, n: int = 2, k: int = 50
) -> DataFrame:
    """Corpus-wide top-k word n-grams by document frequency (distinct doc
    count — each doc credits an n-gram once, the LM-corpus stats shape).

    Scale: explode distinct per-doc shingles → count per n-gram (two-phase
    hash agg) → global top-k via orderBy+limit, which compiles to
    TakeOrdered over the PRE-AGGREGATED counts (no full sort of the corpus).
    Deterministic tiebreak on the n-gram string."""
    sh = shingle_df(df, text_col, id_col, n)
    counts = (
        sh.select(F.explode("shingles").alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_docs"))
    )
    return counts.orderBy(F.desc("n_docs"), "ngram").limit(k)


def contamination_check(
    corpus: DataFrame,
    testset: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Train/test contamination: per test document, the fraction of its
    word n-grams that appear ANYWHERE in the training corpus (the standard
    n-gram-overlap decontamination signal for LM training data).

    Scale shape: the corpus reduces to a DISTINCT n-gram relation (shuffle
    of n-gram keys only, never documents); test n-grams LEFT SEMI against
    it; ratios from two counts per test doc.  → (id, n_ngrams,
    n_contaminated, contamination) with the ratio floor-truncated at 1e-4
    (cross-engine exact)."""
    corpus_grams = (
        shingle_df(corpus, text_col, id_col, n)
        .select(F.explode("shingles").alias("ngram"))
        .distinct()
    )
    test_grams = shingle_df(testset, text_col, id_col, n).select(
        id_col, F.explode("shingles").alias("ngram")
    )
    hits = test_grams.join(corpus_grams, "ngram", "left_semi").groupBy(id_col).agg(
        F.count("*").alias("n_contaminated")
    )
    totals = test_grams.groupBy(id_col).agg(F.count("*").alias("n_ngrams"))
    return (
        totals.join(hits, id_col, "left")
        .fillna(0, subset=["n_contaminated"])
        .withColumn(
            "contamination",
            F.floor(
                F.col("n_contaminated").cast("double") * 10000 / F.col("n_ngrams")
            )
            / 10000,
        )
    )


# ------------------------------------------------------------- exact jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    shingles: "DataFrame | None" = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate (id_a, id_b) pairs — the verify
    stage after LSH.  Joins shingle arrays to both sides; set algebra stays
    JVM-side (array_intersect / array_union).

    ``shingles``: a pre-computed (id, shingles) relation to reuse —
    callers that already shingled the corpus (dedup_corpus computes the
    same relation for the MinHash stage) pass it so the tokenize+n-gram
    subtree runs once, not once per consumer (both join sides read the
    same relation)."""
    sh = shingles if shingles is not None else shingle_df(df, text_col, id_col, n)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ------------------------------------------------- duplicate-passage stats


def _gram_positions(
    df: DataFrame, text_col: str, id_col: str, k: int, hash_mode: str
):
    """Shared tokenize → k-gram start-position relation for the
    duplicate-passage family: returns ``(base, grams)`` where base is
    (id, _t normalized-token array, n_tokens) and grams is the snapshot'd
    (id, _pos 1-based gram start, _gh 64-bit gram hash).  One definition so
    detection (duplicate_passage_stats) and removal
    (strip_duplicate_passages) can never tokenize differently."""
    toks = normalized_tokens(text_col)
    base = ensure_parallelism(df).select(
        F.col(id_col), toks.alias("_t"), F.size(toks).cast("long").alias("n_tokens")
    )
    n_grams = F.col("n_tokens") - F.lit(k - 1)
    gram_arr = F.when(
        n_grams >= 1,
        _sliding_concat(F.col("_t"), k, n_grams.cast("int")),
    ).otherwise(F.array().cast("array<string>"))
    grams = snapshot(
        base.select(F.col(id_col), F.posexplode(gram_arr).alias("_p0", "_gram")).select(
            F.col(id_col),
            (F.col("_p0") + 1).cast("long").alias("_pos"),
            _h64("_gram", hash_mode=hash_mode).alias("_gh"),
        )
    )
    return base, grams


def duplicate_passage_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_df: int = 2,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact duplicate-passage coverage per document: the fraction of each
    document's tokens covered by some k-token span that also appears
    verbatim in at least ``min_df - 1`` OTHER documents (the
    exact-substring dedup signal of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the suffix-array step
    re-expressed as a distributed k-gram position join).

    Pipeline (all shuffles on 64-bit keys, never text):
      1. map-only: tokenize, emit every k-gram START position as
         ``(gram_hash, doc, pos)`` — shuffle ∝ tokens × ~24 B.
      2. two-phase ``countDistinct(doc)`` per gram hash → the duplicated
         gram set (boilerplate heavy-hitters are absorbed by map-side
         partial distinct + AQE skew split; output is one row per gram).
      3. LEFT SEMI positions against the duplicated set, then per-doc
         interval union via a lag window: a start at ``pos`` adds
         ``min(k, pos - prev_pos)`` covered tokens, so overlapping
         duplicate spans never double-count.

    Cross-doc duplication only: a span repeated inside one document does
    not count (``countDistinct``).  ``hash_mode='md5'`` makes the gram
    hash DuckDB-replayable for oracle checking; production uses xxhash64.
    Returns (id, n_tokens, dup_tokens, dup_ratio) with the ratio
    floor-truncated at 1e-4 (cross-engine exact)."""
    from pyspark.sql import Window

    # gram relation (snapshot'd) feeds both the agg and the semi
    base, grams = _gram_positions(df, text_col, id_col, k, hash_mode)
    dup = (
        grams.groupBy("_gh")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("_gh")
    )
    starts = grams.join(dup, "_gh", "left_semi")
    w = Window.partitionBy(id_col).orderBy("_pos")
    covered = F.least(
        F.lit(k).cast("long"),
        F.col("_pos") - F.coalesce(F.lag("_pos").over(w), F.col("_pos") - k),
    )
    cov = (
        starts.withColumn("_c", covered)
        .groupBy(id_col)
        .agg(F.sum("_c").alias("dup_tokens"))
    )
    return (
        base.select(id_col, "n_tokens")
        .join(cov, id_col, "left")
        .fillna(0, subset=["dup_tokens"])
        .withColumn(
            "dup_ratio",
            F.floor(F.col("dup_tokens").cast("double") * 10000 / F.col("n_tokens"))
            / 10000,
        )
    )


def strip_duplicate_passages(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_df: int = 2,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """The dedup ACTION for duplicate passages: remove every k-token span
    that also appears verbatim in >=``min_df - 1`` other documents, except
    from the span's CANONICAL document (min id among the docs containing
    it) — each duplicated passage survives exactly once corpus-wide, the
    removal policy of Lee et al. 2022's exact-substring dedup.

    Output text is the kept tokens of the NORMALIZED stream (lowercased,
    whitespace-collapsed — the same tokenization the detection ran on)
    joined by single spaces, so detection and removal operate on one
    consistent token sequence.  Returns
    (id, n_tokens, n_kept_tokens, cleaned_text).

    Scale shape: the token-level explode/rebuild runs ONLY for documents
    that actually lose a span (left-semi against the affected-doc set);
    untouched documents pass through map-only as ``concat_ws(' ',
    tokens)``.  At real-corpus dup rates (~1-10% of docs affected) the
    expensive path is proportional to the duplicated slice, not the
    corpus.  Gram shuffles are 64-bit hashes as in
    ``duplicate_passage_stats``; ``hash_mode='md5'`` is the
    DuckDB-replayable oracle mode."""
    base, grams = _gram_positions(df, text_col, id_col, k, hash_mode)
    dup_stats = (
        grams.groupBy("_gh")
        .agg(F.countDistinct(id_col).alias("_df"), F.min(id_col).alias("_canon"))
        .filter(F.col("_df") >= min_df)
        .select("_gh", "_canon")
    )
    bad_starts = grams.join(dup_stats, "_gh").filter(F.col(id_col) != F.col("_canon"))
    removed = (
        bad_starts.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("_pos"), F.col("_pos") + (k - 1))).alias("_rm"),
        )
        .distinct()
    )
    affected = removed.select(id_col).distinct()

    untouched = (
        base.join(affected, id_col, "left_anti")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("n_tokens").alias("n_kept_tokens"),
            F.concat_ws(" ", "_t").alias("cleaned_text"),
        )
    )
    tokens = (
        base.join(affected, id_col, "left_semi")
        .select(F.col(id_col), F.col("n_tokens"), F.posexplode("_t").alias("_p0", "_tok"))
        .withColumn("_pos", (F.col("_p0") + 1).cast("long"))
    )
    # LEFT join + null-flag instead of left_anti so fully-removed documents
    # keep their group (empty kept-list → "" text) — one token explode, one
    # grouped pass, no second affected-docs subtree. `removed` is distinct
    # on (id, _rm) so the join cannot multiply token rows.
    flagged = tokens.join(
        removed.withColumnRenamed(id_col, "_rm_id"),
        (F.col(id_col) == F.col("_rm_id")) & (F.col("_pos") == F.col("_rm")),
        "left",
    )
    rebuilt = (
        flagged.groupBy(id_col, "n_tokens")
        .agg(
            F.collect_list(
                F.when(F.col("_rm").isNull(), F.struct("_pos", "_tok"))
            ).alias("_kept")
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.size("_kept").cast("long").alias("n_kept_tokens"),
            F.array_join(
                F.transform(F.array_sort("_kept"), lambda s: s["_tok"]), " "
            ).alias("cleaned_text"),
        )
    )
    return untouched.unionByName(rebuilt)


# ------------------------------------------------------------- winnowing
# (Schleimer/Wilkerson/Aiken 2003, "Winnowing: Local Algorithms for
# Document Fingerprinting" — the MOSS fingerprint selector)

_WINNOW_POS_BITS = 24  # supports documents up to 2^24-1 k-grams
_WINNOW_M = 1 << _WINNOW_POS_BITS


def _narrow_h(col, hash_mode: str, bits: int = 36) -> Column:
    """Non-negative ``bits``-wide hash (bits % 4 == 0, <= 40): md5 mode
    takes the hex prefix (``('0x' || substr(md5(x),1,bits/4))::BIGINT`` in
    DuckDB — engine-portable), xxhash64 mode the top bits (production)."""
    c = F.col(col) if isinstance(col, str) else col
    if hash_mode == "xxhash64":
        return F.shiftrightunsigned(F.xxhash64(c), 64 - bits)
    return F.conv(F.substring(F.md5(c), 1, bits // 4), 16, 10).cast("bigint")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Winnowed document fingerprints: from every ``window`` consecutive
    k-gram hashes select the minimum (rightmost on ties — the classic
    robust-winnowing rule), guaranteeing every duplicate span of length
    >= k + window - 1 tokens shares at least one selected fingerprint
    while keeping only ~2/(window+1) of the grams.  Documents with fewer
    grams than ``window`` select the minimum of what they have; documents
    with < k tokens emit nothing.

    → (id, fp bigint, pos bigint 1-based gram start), distinct.

    One pass, one shuffle: grams carry (id, pos, 36-bit hash); both the
    window min and the rightmost-tie rule ride a single integer ROWS
    window via the order-embedding key ``gh·2²⁴ + (2²⁴−1−pos)`` (min key
    = min hash, then max pos), so no struct comparisons and no self-join.
    36-bit hashes keep the key in 60 bits (ANSI-safe); collisions only
    add candidate pairs (winnowing is a candidate generator — exact
    verification is ngram_jaccard_pairs' job).  ``hash_mode='md5'`` is the
    DuckDB-replayable oracle mode.  Position cap: 2²⁴−1 grams per doc
    (guarded — beyond it the key embedding would corrupt silently)."""
    from pyspark.sql import Window

    toks = normalized_tokens(text_col)
    base = ensure_parallelism(df).select(
        F.col(id_col), toks.alias("_t"), F.size(toks).cast("long").alias("n_tokens")
    )
    n_grams = F.col("n_tokens") - F.lit(k - 1)
    gram_arr = F.when(
        n_grams >= 1,
        _sliding_concat(F.col("_t"), k, n_grams.cast("int")),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        F.col(id_col), F.posexplode(gram_arr).alias("_p0", "_gram")
    ).select(
        F.col(id_col),
        (F.col("_p0") + 1).cast("long").alias("_pos"),
        _narrow_h("_gram", hash_mode).alias("_gh"),
    )
    # guard the order-embedding: a doc with >= 2^24 grams would wrap
    guarded_pos = F.when(
        F.col("_pos") < F.lit(_WINNOW_M),
        F.col("_pos"),
    ).otherwise(
        F.assert_true(
            F.col("_pos") < F.lit(_WINNOW_M),
            F.lit(f"winnow_fingerprints: document exceeds {_WINNOW_M - 1} grams"),
        ).cast("long")
    )
    keyed = grams.select(
        F.col(id_col),
        "_pos",
        (
            F.col("_gh") * F.lit(_WINNOW_M)
            + (F.lit(_WINNOW_M - 1) - guarded_pos)
        ).alias("_key"),
    )
    w_frame = (
        Window.partitionBy(id_col).orderBy("_pos").rowsBetween(0, window - 1)
    )
    w_doc = Window.partitionBy(id_col)
    sel = keyed.select(
        F.col(id_col),
        "_pos",
        F.min("_key").over(w_frame).alias("_selkey"),
        F.count(F.lit(1)).over(w_doc).alias("_ng"),
    ).filter(F.col("_pos") <= F.greatest(F.col("_ng") - (window - 1), F.lit(1)))
    return sel.select(
        F.col(id_col),
        F.shiftrightunsigned("_selkey", _WINNOW_POS_BITS).alias("fp"),
        (F.lit(_WINNOW_M - 1) - F.pmod("_selkey", F.lit(_WINNOW_M))).alias("pos"),
    ).distinct()


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowed fingerprints:
    (id_a, id_b, n_shared) with id_a < id_b and >= ``min_shared`` distinct
    shared fingerprints.  Same bucket-self-join shape as the MinHash/
    SimHash candidate generators — one snapshot'd fingerprint relation
    joined to itself on fp, never all-pairs; hub fingerprints (boilerplate
    selected corpus-wide) ride AQE's skew split, and exact verification
    downstream is ngram_jaccard_pairs."""
    fps = snapshot(
        winnow_fingerprints(df, text_col, id_col, k, window, hash_mode)
        .select(F.col(id_col).alias("_a"), "fp")
        .distinct()
    )
    return (
        fps.join(fps.select(F.col("_a").alias("_b"), "fp"), "fp")
        .filter(F.col("_a") < F.col("_b"))
        .groupBy(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ----------------------------------------------------------- corpus action


def dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    jaccard_threshold: float = 0.8,
    hash_mode: str = "xxhash64",
    max_iter: int = 20,
    shingle_strategy: str = "candidates",
) -> DataFrame:
    """The end-to-end fuzzy-dedup ACTION over a document corpus — the
    composition every web-scale curation pipeline runs (Lee et al. 2022;
    the GPT-3/Gopher dedup stage): MinHash-LSH candidate pairs → exact
    n-gram Jaccard verification → connected components → keep ONE
    canonical representative (min id) per duplicate cluster.

    → the input rows minus non-canonical duplicates (all columns
    preserved; docs in no cluster pass through untouched).

    Scale shape: every stage is the already-bounded operator it names —
    banded bucket joins (never all-pairs), verification over candidate
    pairs only, O(diameter) hash-min label propagation — and the final
    drop is one left-anti join on the id.  The reference's only dedup
    primitive is exact-key skipping during its dataset merge
    (clustering/cluster.py:73, ``if (s,p,o) not in idx``); this is the
    fuzzy content-level generalization its corpus would need from crawl
    data.
    """
    # Corpus-scale cost control — the first cut re-ran the tokenize+
    # n-gram explode over the WHOLE corpus three times (measured 2.6×
    # the wall).  Two repairs, chosen by ``shingle_strategy``:
    #   * "candidates" (default — the 100 TB shape): the corpus is
    #     shingled exactly once (lazily, feeding MinHash) and the verify
    #     stage re-shingles only the LSH-candidate docs, a left-semi
    #     slice that is O(candidate pairs); nothing corpus-sized is ever
    #     materialized ("shuffle signatures, never the shingles").
    #   * "checkpoint": eagerly localCheckpoint the corpus shingle
    #     relation and share it with all three consumers — measured
    #     ~1.6× faster single-node (97s vs 159s on the 40k calibration
    #     corpus: the cached arrays also feed MinHash), at the price of
    #     corpus-scale executor storage and checkpoint blocks that are
    #     not recomputable on executor loss.  Right for node-local /
    #     moderate corpora, wrong at cluster scale.
    # Both produce identical results (pinned by test_dedup).
    if shingle_strategy not in ("candidates", "checkpoint"):
        raise ValueError(f"unknown shingle_strategy {shingle_strategy!r}")
    sh = shingle_df(df, text_col, id_col, n)
    if shingle_strategy == "checkpoint":
        sh = snapshot(sh)
    sig = minhash_signature(sh, id_col, num_hashes=num_hashes, hash_mode=hash_mode)
    cand = snapshot(  # pairs-sized; consumed twice (id slice + verify)
        minhash_lsh_dup_pairs(
            sig, id_col, bands=bands, rows_per_band=rows_per_band,
            hash_mode=hash_mode,
        ).select("id_a", "id_b")
    )
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if shingle_strategy == "checkpoint":
        verified = ngram_jaccard_pairs(
            df, cand, text_col, id_col,
            n=n, threshold=jaccard_threshold, shingles=sh,
        )
    else:
        in_cand = df.join(cand_ids, id_col, "left_semi")
        verified = ngram_jaccard_pairs(
            in_cand, cand, text_col, id_col,
            n=n, threshold=jaccard_threshold,
        )
    from imgfact_spark.operators.connected_components import connected_components

    comp = connected_components(verified, src="id_a", dst="id_b", max_iter=max_iter)
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


# ------------------------------------------------------- decontamination


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    max_overlap: float = 0.0,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-decontamination ACTION: drop every corpus document whose
    distinct word n-gram overlap with the benchmark set exceeds
    ``max_overlap`` (fraction of the DOC's distinct n-grams; 0.0 = the
    GPT-3-style any-collision rule, Brown et al. 2020 App. C — the
    measuring twin is :func:`contamination_check`).

    → corpus rows minus contaminated documents, all columns preserved.

    Scale shape: the benchmark reduces to ONE distinct n-gram relation —
    eval suites are tiny next to a 100 TB corpus, so it broadcasts
    (``broadcast_benchmark``; disable for benchmark sets beyond executor
    memory and AQE shuffles the gram join instead).  The corpus side is a
    map-only gram explode + one count aggregate per doc; contaminated ids
    leave via a left-anti join.  The reference ships no decontamination
    stage; its eval split leaks are handled by exact path disjointness
    (split_sets) — this is the n-gram generalization training corpora
    need.
    """
    bench_grams = (
        shingle_df(benchmark, text_col, id_col, n)
        .select(F.explode("shingles").alias("ngram"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    doc_grams = shingle_df(corpus, text_col, id_col, n).select(
        id_col, F.explode("shingles").alias("ngram")
    )
    # ONE corpus pass: hit-mark via broadcast left join, then count total
    # and hits in the same aggregate (two separate aggregations would
    # re-run the tokenize+explode subtree — the dominant map cost — since
    # semi-join and bare groupBy plans share no exchange)
    marked = doc_grams.join(
        bench_grams.withColumn("_hit", F.lit(1)), "ngram", "left"
    )
    contaminated = (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("_total"),
            F.count("_hit").alias("_hits"),
        )
        .filter(
            F.col("_hits").cast("double")
            > F.lit(max_overlap) * F.col("_total").cast("double")
        )
        .select(id_col)
    )
    return corpus.join(contaminated, id_col, "left_anti")


# ------------------------------------------------- incremental (CDC) dedup


class IncrementalDedupResult(NamedTuple):
    """dedup_against_index output: the surviving new docs, the full
    updated index (input index ∪ kept bands — write-back for the next
    batch), and the kept docs' band rows alone (the APPEND delta — what
    an append-only index store like the streaming consumer persists)."""

    kept: DataFrame
    updated_index: DataFrame
    kept_bands: DataFrame


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    hash_mode: str = "xxhash64",
) -> IncrementalDedupResult:
    """Incremental near-dup dedup of a NEW batch against a persisted LSH
    band index — the CDC shape a daily-crawl pipeline runs: the corpus is
    never re-shingled; only its (id, band, bh) relation
    (:func:`minhash_band_table`, ~``bands``×16 bytes/doc) is kept between
    batches and equi-joined with the new batch's bands.

    Two deterministic phases:
      1. a new doc colliding with the INDEX in any band drops (the stored
         corpus copy is canonical);
      2. among phase-1 survivors, for every within-batch colliding pair
         the LARGER id drops — the one-pass greedy rule (no iterative
         label propagation: incremental batches are small next to the
         index, and O(1) passes is the point; run :func:`minhash_dedup` /
         :func:`dedup_corpus` for the transitive batch semantics).

    → :class:`IncrementalDedupResult` ``(kept, updated_index,
    kept_bands)``.
    Band-join cost ∝ bucket collisions, never |index| × |batch|.  Reference analog: the exact-key ``not in idx``
    merge skip (clustering/cluster.py:73) — the incremental fuzzy form a
    continuously-crawled corpus needs.
    """
    sh = shingle_df(new_docs, text_col, id_col, n)
    sig = minhash_signature(sh, id_col, num_hashes=num_hashes, hash_mode=hash_mode)
    new_bands = snapshot(
        minhash_band_table(
            sig, id_col, bands=bands, rows_per_band=rows_per_band,
            hash_mode=hash_mode,
        )
    )
    # phase 1: any band shared with the index ⇒ drop
    vs_index = (
        new_bands.join(index.select("band", "bh"), ["band", "bh"], "left_semi")
        .select(id_col)
        .distinct()
    )
    survivors = new_bands.join(vs_index, id_col, "left_anti")
    # phase 2: within-batch collisions among survivors — larger id drops
    a = survivors.alias("a")
    b = survivors.alias("b")
    dominated = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    dropped = vs_index.unionByName(dominated)
    kept = new_docs.join(dropped, id_col, "left_anti")
    kept_bands = survivors.join(dominated, id_col, "left_anti")
    return IncrementalDedupResult(
        kept, index.unionByName(kept_bands), kept_bands
    )
