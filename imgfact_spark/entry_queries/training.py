"""Training-data pipeline queries: text curation gates (t_*),
deduplication (d_*), embedding similarity/ANN (s_*), and the temporal /
statistical extensions (x_asof, x_range, x_time_rollup, x_event_anomaly,
x_cooccurrence_lift)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from imgfact_spark.entry_queries._registry import ORACLES, QUERIES, _register, _t




# =========================================================================
# Text analysis (driver-mandated training-data ops over `documents`)
# =========================================================================

# shared oracle legs (factored so SQL twins can't drift): whitespace token
# count and the floored-4dp quality blend, each matching the Spark columns
# token_count("text") / floor(quality_score("text", round_to=None)*1e4)/1e4
_TOKENS_LEG_SQL = r"""CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END"""



_QUALITY_RAW_SQL = (
    r"""(
             0.4 * LEAST(length(text) / 500.0, 1.0)
           + 0.3 * (CASE WHEN length(text) > 0
                    THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
                    ELSE 0.0 END)
           + 0.2 * LEAST(("""
    + _TOKENS_LEG_SQL
    + r""") / 100.0, 1.0)
           + 0.1 * (1.0 - CASE WHEN length(text) > 0
                    THEN LEAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) * 10.0 / length(text), 1.0)
                    ELSE 0.0 END)
           )"""
)



_QUALITY_LEG_SQL = "FLOOR(" + _QUALITY_RAW_SQL + " * 10000) / 10000"




@_register(
    "t_token_count",
    r"""
    SELECT doc_id,
           """
    + _TOKENS_LEG_SQL
    + """ AS n_tokens
    FROM documents
    """,
)
def t_token_count(spark, sf_dir):
    """Token counting (whitespace tokenizer) over the corpus."""
    from imgfact_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count("text").alias("n_tokens"))




@_register(
    "t_lang_id",
    """
    SELECT doc_id,
           CASE WHEN len(list_distinct(list_intersect(
                    string_split_regex(lower(text), '[^a-z]+'),
                    ['the','a','an','of','to','in','and','is','was','for','on','with','as','by','at','from','that','this','it','are','be','or','his','her','their','its']
                ))) >= 2
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM documents
    """,
)
def t_lang_id(spark, sf_dir):
    """Language-ID heuristic (stopword n-gram hits)."""
    from imgfact_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id("text").alias("lang_guess"))




@_register(
    "t_quality_score",
    """
    SELECT doc_id,
           """
    + _QUALITY_LEG_SQL
    + """ AS q
    FROM documents
    """,
)
def t_quality_score(spark, sf_dir):
    """Quality scoring: length/alpha/token/punctuation blend (floor-scaled
    to dodge cross-engine round-midpoint divergence)."""
    from imgfact_spark.functions.text import quality_score

    d = _t(spark, sf_dir, "documents")
    # raw (unrounded) score floored at 4 dp: floor of the same IEEE754
    # arithmetic is bit-identical across engines, round() is not
    return d.select(
        "doc_id",
        (F.floor(quality_score("text", round_to=None) * 10000) / 10000).alias("q"),
    )




@_register(
    "t_gopher_rules",
    r"""
    WITH m AS (
      SELECT doc_id,
             length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0 AS blank,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks,
             string_split(text, chr(10)) AS lines,
             len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_sym
      FROM documents
    ), r AS (
      SELECT doc_id, blank, lines, toks, n_sym,
             CASE WHEN blank THEN 0 ELSE len(toks) END AS n_words,
             list_sum(list_transform(toks, t -> length(t))) AS sum_len,
             len(list_filter(lines, l -> regexp_matches(l, '^[ \t]*[-*•]'))) AS n_bullet,
             len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)[ \t]*$'))) AS n_ell,
             CASE WHEN blank THEN 0
                  ELSE len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) END AS n_alpha,
             len(list_intersect(toks, string_split('the,be,to,of,and,that,have,with', ','))) AS stop_hits
      FROM m
    ), b AS (
      SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
             n_words >= 50 AND n_words <= 100000 AS r_word_count,
             CASE WHEN n_words > 0
                  THEN CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
                   AND CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
                  ELSE FALSE END AS r_mean_word_len,
             CASE WHEN n_words > 0
                  THEN CAST(n_sym AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1
                  ELSE FALSE END AS r_symbol_ratio,
             CAST(n_bullet AS DOUBLE) / CAST(len(lines) AS DOUBLE) <= 0.9 AS r_bullet_lines,
             CAST(n_ell AS DOUBLE) / CAST(len(lines) AS DOUBLE) <= 0.3 AS r_ellipsis_lines,
             CASE WHEN n_words > 0
                  THEN CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8
                  ELSE FALSE END AS r_alpha_words,
             stop_hits >= 2 AS r_stopwords
      FROM r
    )
    SELECT doc_id, n_words, r_word_count, r_mean_word_len, r_symbol_ratio,
           r_bullet_lines, r_ellipsis_lines, r_alpha_words, r_stopwords,
           (r_word_count::INT + r_mean_word_len::INT + r_symbol_ratio::INT
            + r_bullet_lines::INT + r_ellipsis_lines::INT
            + r_alpha_words::INT + r_stopwords::INT) AS n_rules,
           (r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_bullet_lines
            AND r_ellipsis_lines AND r_alpha_words AND r_stopwords) AS keep
    FROM b
    """,
)
def t_gopher_rules(spark, sf_dir):
    """Gopher rule-based quality gate (Rae et al. 2021 §A1.1): seven
    boolean rules + passed-count + conjunction per document, map-only
    (fuses into the scan).  The driver's synthetic corpus fails the
    stopword gate corpus-wide (no English function words), so ``keep`` is
    all-false there by construction — the per-rule booleans and
    ``n_rules`` carry the variety the hash compare certifies; keep=true
    paths are pinned by the python-twin test.  Engine extension — the
    reference's corpus arrives pre-curated (its gates are model
    thresholds, ptuningfilter.py:33-47)."""
    from imgfact_spark.functions.text import gopher_rules

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", gopher_rules("text").alias("g")).select(
        "doc_id", "g.*"
    )




@_register(
    "t_tfidf_keywords",
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      FROM documents WHERE doc_id < 100
    ), t AS (
      SELECT doc_id, UNNEST(list_filter(toks, x -> length(x) >= 2)) AS term
      FROM base
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
    ), sc AS (
      SELECT doc_id, term, tf,
             COUNT(*) OVER (PARTITION BY term) AS dfreq,
             (SELECT COUNT(*) FROM base) AS n_docs
      FROM tf
    ), s2 AS (
      SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
             CAST(dfreq AS BIGINT) AS dfreq,
             FLOOR(tf * ln(CAST(n_docs AS DOUBLE) / dfreq) * 1e6) / 1e6 AS score
      FROM sc
    )
    SELECT doc_id, term, tf, dfreq, score, rank FROM (
      SELECT doc_id, term, tf, dfreq, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rank
      FROM s2
    ) WHERE rank <= 5
    """,
)
def t_tfidf_keywords(spark, sf_dir):
    """Top-5 TF-IDF keywords per document (tf·ln(N/df), window-computed
    df — no vocab-sized join) via operators/retrieval.tfidf_keywords."""
    from imgfact_spark.operators.retrieval import tfidf_keywords

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return tfidf_keywords(d, k=5)




@_register(
    "t_chunk_documents",
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks,
             length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0 AS blank
      FROM documents
    ), m AS (
      SELECT doc_id, toks,
             CASE WHEN blank THEN 0 ELSE len(toks) END AS n
      FROM base
    ), c AS (
      SELECT doc_id, toks,
             1 + (GREATEST(n - 64, 0) + 47) // 48 AS nc
      FROM m WHERE n > 0
    ), e AS (
      SELECT doc_id, toks, UNNEST(range(0, nc)) AS chunk_id FROM c
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           len(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS n_tokens,
           array_to_string(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ') AS chunk_text
    FROM e
    """,
)
def t_chunk_documents(spark, sf_dir):
    """Context-window chunking with overlap (chunk 64, stride 48 → 16
    tokens shared between neighbors) via operators/packing.chunk_documents
    — map-only, no shuffle; integer chunk arithmetic exact on both
    engines."""
    from imgfact_spark.operators.packing import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=64, stride=48)




@_register(
    "t_exact_dedup_groups",
    r"""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
    """,
)
def t_exact_dedup_groups(spark, sf_dir):
    """Exact dedup by normalized text: representative (min id) + group size.
    Hash-free formulation so both engines agree exactly; the production
    operator (operators/dedup.exact_dedup) shuffles a 64-bit fingerprint
    instead of full text — same semantics."""
    d = _t(spark, sf_dir, "documents")
    normed = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        d.groupBy(normed.alias("_norm"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .drop("_norm")
        .select("doc_id", "n_copies")
    )




@_register(
    "d_ngram_jaccard_pairs",
    r"""
    WITH sh AS (
      SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
      FROM documents WHERE doc_id < 80
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           FLOOR(len(list_intersect(a.toks, b.toks)) * 1000000.0
                 / len(list_distinct(a.toks || b.toks))) / 1000000 AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks)) * 1.0
          / len(list_distinct(a.toks || b.toks)) >= 0.62
    """,
)
def d_ngram_jaccard_pairs(spark, sf_dir):
    """n-gram (n=1 token) Jaccard near-dup pairs, exact, over a small slice
    — the verify stage of LSH dedup (operators/dedup.ngram_jaccard_pairs
    machinery with an all-pairs candidate set)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    toks = F.array_distinct(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    )
    sh = d.select(F.col("doc_id"), toks.alias("toks"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("sh_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        pairs.withColumn("_j", jac)
        .filter(F.col("_j") >= 0.62)
        .select(
            "id_a",
            "id_b",
            (F.floor(F.col("_j") * 1000000.0) / 1000000).alias("jaccard"),
        )
    )




@_register(
    "x_asof_join",
    r"""
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    v AS (
      SELECT user_id, ts AS v_ts, event_id AS v_id, value AS v_value
      FROM events WHERE event_type = 'view'
    ),
    cand AS (
      SELECT c.event_id, c.user_id, c.ts, v.v_ts, v.v_id, v.v_value,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
                                ORDER BY v.v_ts DESC, v.v_id DESC) AS rn
      FROM c JOIN v ON c.user_id = v.user_id AND v.v_ts <= c.ts
    )
    SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(epoch_us(v_ts) AS BIGINT) AS asof_v_ts_us,
           v_id AS asof_v_id, v_value AS asof_v_value
    FROM cand WHERE rn = 1
    UNION ALL
    SELECT c.event_id, c.user_id, CAST(epoch_us(c.ts) AS BIGINT),
           NULL, NULL, NULL
    FROM c WHERE NOT EXISTS (
      SELECT 1 FROM v WHERE v.user_id = c.user_id AND v.v_ts <= c.ts
    )
    """,
)
def x_asof_join(spark, sf_dir):
    """As-of join (operators/temporal.asof_join): every click matched to
    the user's latest view at-or-before it — the union-and-carry-forward
    window plan (ONE shuffle on the key, no inequality join), vs the
    oracle's quadratic candidate-rank formulation.  Unmatched clicks keep
    NULLs (left semantics); ties among same-timestamp views resolve to the
    greatest view id on both engines."""
    from imgfact_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    views = ev.filter("event_type = 'view'").select(
        "user_id",
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_id"),
        F.col("value").alias("v_value"),
    )
    out = asof_join(
        clicks, views, on=["user_id"], probe_ts="ts", ref_ts="v_ts",
        ref_payload=["v_id", "v_value"], tiebreak="v_id",
    )
    # timestamps leave as epoch micros (the module's timestamp-free
    # driver-compare contract; session tz is UTC so NTZ→LTZ is identity)
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp")).cast("bigint")  # noqa: E731
    return out.select(
        "event_id", "user_id", us("ts").alias("ts_us"),
        us("asof_v_ts").alias("asof_v_ts_us"), "asof_v_id", "asof_v_value",
    )




@_register(
    "x_range_join",
    r"""
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    v AS (
      SELECT user_id, event_id AS v_id, ts AS start_ts,
             ts + INTERVAL 4 HOUR AS end_ts
      FROM events WHERE event_type = 'view'
    )
    SELECT c.event_id, c.user_id, CAST(epoch_us(c.ts) AS BIGINT) AS ts_us,
           v.v_id, CAST(epoch_us(v.start_ts) AS BIGINT) AS start_us,
           CAST(epoch_us(v.end_ts) AS BIGINT) AS end_us
    FROM c JOIN v ON c.user_id = v.user_id
                 AND c.ts >= v.start_ts AND c.ts <= v.end_ts
    """,
)
def x_range_join(spark, sf_dir):
    """Binned range join (operators/temporal.range_join): clicks inside
    each view's 4-hour attribution window, per user — the equi-join on
    (key, time bin) with interval explode (bin = interval span, explode
    factor ≤ 2), vs the oracle's plain inequality join.  No
    CartesianProduct / broadcast-nested-loop in the plan."""
    from imgfact_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    intervals = ev.filter("event_type = 'view'").select(
        "user_id",
        F.col("event_id").alias("v_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 4 HOURS")).alias("end_ts"),
    )
    out = range_join(
        clicks, intervals, on=["user_id"], point_ts="ts",
        start_ts="start_ts", end_ts="end_ts", bin_width_seconds=14400,
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp")).cast("bigint")  # noqa: E731
    return out.select(
        "event_id", "user_id", us("ts").alias("ts_us"), "v_id",
        us("start_ts").alias("start_us"), us("end_ts").alias("end_us"),
    )




@_register(
    "x_time_rollup",
    """
    WITH e AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hour_us,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type, day_us, hour_us,
           CASE WHEN GROUPING(hour_us) = 0 THEN 'hour'
                WHEN GROUPING(day_us) = 0 THEN 'day'
                ELSE 'all' END AS gran,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM e
    GROUP BY event_type, ROLLUP(day_us, hour_us)
    """,
)
def x_time_rollup(spark, sf_dir):
    """Hypertable-style multi-granularity rollup
    (operators/rollup.time_rollup): hour + day + all-time aggregates per
    event type in ONE Expand + hash-aggregate pass (partial agg collapses
    map-side; shuffle ∝ group cells), vs the oracle's GROUP BY ROLLUP.
    Integer-cent sums; buckets leave as epoch micros (timestamp-free
    driver-compare contract)."""
    from imgfact_spark.operators.rollup import time_rollup

    ev = _t(spark, sf_dir, "events")
    return time_rollup(ev, "ts", ["event_type"], "value", ("day", "hour"))




@_register(
    "x_event_anomaly",
    """
    WITH c AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS bucket_us,
             COUNT(*) AS n
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type, date_trunc('hour', ts)
    ), w AS (
      SELECT event_type, bucket_us, CAST(n AS BIGINT) AS n,
             CAST(SUM(n) OVER tw AS BIGINT) AS s,
             CAST(SUM(n * n) OVER tw AS BIGINT) AS s2,
             COUNT(n) OVER tw AS c
      FROM c
      WINDOW tw AS (PARTITION BY event_type ORDER BY bucket_us
                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, bucket_us, n,
           CASE WHEN c >= 12 AND (c * s2 - s * s) > 0
                THEN FLOOR((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / c)
                           / sqrt(CAST(c * s2 - s * s AS DOUBLE)
                                  / CAST(c * (c - 1) AS DOUBLE)) * 1e4) / 1e4
                ELSE NULL END AS z
    FROM w
    """,
)
def x_event_anomaly(spark, sf_dir):
    """Trailing-window z-score anomaly over hourly event counts
    (operators/stats.rolling_anomaly): per event type, each hour's count
    scored against its previous 24 observed hours.  Integer-exact window
    sums make the variance numerator exact, so z is bitwise-reproducible
    (floored 1e-4).  Engine extension, same tier as the temporal joins."""
    from imgfact_spark.operators.stats import rolling_anomaly

    ev = _t(spark, sf_dir, "events")
    return rolling_anomaly(
        ev, "ts", ["event_type"], bucket="hour", trailing=24, min_history=12
    )




@_register(
    "t_lm_fluency",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    uni AS (
      SELECT u.w AS w1, CAST(COUNT(*) AS DOUBLE) AS cu
      FROM toks, UNNEST(t) AS u(w) GROUP BY 1
    ),
    v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
    pairs AS (
      SELECT UNNEST(t[1:len(t)-1]) AS w1, UNNEST(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    big AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS cb FROM pairs GROUP BY 1, 2),
    db AS (
      SELECT doc_id,
             UNNEST(range(1, len(t))) AS pos,
             UNNEST(t[1:len(t)-1]) AS w1,
             UNNEST(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    lp AS (
      SELECT db.doc_id, db.pos,
             ln((COALESCE(big.cb, CAST(0 AS DOUBLE)) + CAST(0.1 AS DOUBLE))
                / (COALESCE(uni.cu, CAST(0 AS DOUBLE)) + CAST(0.1 AS DOUBLE) * v.v))
               AS lp
      FROM db LEFT JOIN big ON db.w1 = big.w1 AND db.w2 = big.w2
              LEFT JOIN uni ON db.w1 = uni.w1
              CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY pos)),
                         (h, x) -> h + x) AS s
      FROM lp GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CASE WHEN a.n_bigrams IS NULL THEN CAST(0.0 AS DOUBLE)
                ELSE floor(a.s / CAST(a.n_bigrams AS DOUBLE)
                           * CAST(1000000.0 AS DOUBLE))
                     / CAST(1000000.0 AS DOUBLE)
           END AS avg_logprob
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
)
def t_lm_fluency(spark, sf_dir):
    """Bigram-LM fluency scoring (operators/lm.bigram_lm_scores): every
    document's average add-α-smoothed bigram log-probability under the
    corpus's own bigram model — the CCNet-style perplexity gate web-scale
    pipelines bucket/filter by.  Exact counts + IEEE arithmetic in a
    pinned sequential fold order make the float output engine-exact
    (truncated at 1e-6); the reference's quality gates are classifier
    thresholds (ptuningfilter.py:33-47) with no corpus-LM stage."""
    from imgfact_spark.operators.lm import bigram_lm_scores

    d = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(d, "text", "doc_id", alpha=0.1)




@_register(
    "d_dup_components",
    r"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
      FROM documents WHERE doc_id < 80
    ),
    edges AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks)) * 1.0
            / len(list_distinct(a.toks || b.toks)) >= 0.62
    ),
    sym AS (SELECT s AS a, d AS b FROM edges UNION SELECT d, s FROM edges),
    r(node, reach) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.node, s.b FROM r JOIN sym s ON r.reach = s.a
    )
    SELECT node AS doc_id, LEAST(node, MIN(reach)) AS component
    FROM r GROUP BY node
    """,
)
def d_dup_components(spark, sf_dir):
    """Near-dup clusters as connected components: the Jaccard pair relation
    (d_ngram_jaccard_pairs' edge set) resolved to one min-id label per
    component by iterative hash-min label propagation
    (operators/connected_components — O(diameter) rounds, one shuffle per
    round, localCheckpoint-truncated lineage).  The dedup ACTION consumes
    this: keep component == doc_id, drop the rest.  Oracle: transitive
    closure by recursive CTE, component = min reachable node."""
    from imgfact_spark.operators.connected_components import connected_components

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    sh = d.select(F.col("doc_id"), toks.alias("toks"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    edges = a.join(b, F.col("id_a") < F.col("id_b")).filter(jac >= 0.62)
    comp = connected_components(edges, src="id_a", dst="id_b")
    return comp.select(F.col("node").alias("doc_id"), "component")




@_register(
    "d_minhash_lsh_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, u.s FROM toks, UNNEST(t) AS u(s)
    ),
    h AS (
      SELECT doc_id, r.i AS hidx,
             MIN(('0x' || substr(md5(s || chr(31) || CAST(r.i AS VARCHAR)), 1, 15))::BIGINT) AS mh
      FROM sh, UNNEST(range(0, 32)) AS r(i)
      GROUP BY doc_id, r.i
    ),
    sig AS (
      SELECT doc_id, list(mh ORDER BY hidx) AS sig FROM h GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.b AS band,
             ('0x' || substr(md5(array_to_string(sig[b.b*4+1 : b.b*4+4], ',')), 1, 15))::BIGINT AS bh
      FROM sig, UNNEST(range(0, 8)) AS b(b)
    )
    SELECT a.doc_id AS id_a, b2.doc_id AS id_b, COUNT(*) AS n_bands
    FROM bands a
    JOIN bands b2 ON a.band = b2.band AND a.bh = b2.bh AND a.doc_id < b2.doc_id
    GROUP BY a.doc_id, b2.doc_id
    """,
)
def d_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH candidate near-dup pairs (shingle→minhash→band→bucket
    join).  Uses the md5 cross-engine hash mode so DuckDB replicates the
    exact signatures and band buckets; the production xxhash64 path is
    pinned separately by tests/test_dedup.py."""
    from imgfact_spark.operators.dedup import (
        minhash_lsh_dup_pairs,
        minhash_signature,
        shingle_df,
    )

    d = _t(spark, sf_dir, "documents")
    sh = shingle_df(d, "text", "doc_id", n=1)
    sig = minhash_signature(sh, "doc_id", num_hashes=32, hash_mode="md5")
    return minhash_lsh_dup_pairs(
        sig, "doc_id", bands=8, rows_per_band=4, hash_mode="md5"
    )




@_register(
    "d_simhash_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents WHERE doc_id < 200
    ),
    sh AS (
      SELECT DISTINCT doc_id, u.s FROM toks, UNNEST(t) AS u(s)
    ),
    hv AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh
    ),
    bits AS (
      SELECT doc_id, b.b AS bit,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hv, UNNEST(range(0, 60)) AS b(b)
      GROUP BY doc_id, b.b
    ),
    sim AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 16
      AND (   ((a.simhash >> 0)  & 65535) = ((b.simhash >> 0)  & 65535)
           OR ((a.simhash >> 16) & 65535) = ((b.simhash >> 16) & 65535)
           OR ((a.simhash >> 32) & 65535) = ((b.simhash >> 32) & 65535)
           OR ((a.simhash >> 48) & 65535) = ((b.simhash >> 48) & 65535))
    """,
)
def d_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (block-permuted Hamming banding).  md5 hash
    mode → the oracle recomputes the 60-bit simhashes brute-force and
    applies the same block-collision pigeonhole condition."""
    from imgfact_spark.operators.dedup import simhash64, simhash_dup_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sim = simhash64(d, "text", "doc_id", n=1, hash_mode="md5")
    return simhash_dup_pairs(sim, "doc_id", max_hamming=16, blocks=4)




# =========================================================================
# Similarity search over embeddings
# =========================================================================


@_register(
    "t_ngram_topk",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i.i : i.i + 1], ' ') AS ngram
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1) + 1)) AS i(i)
    ),
    counts AS (SELECT ngram, COUNT(*) AS n_docs FROM sh GROUP BY ngram)
    SELECT ngram, n_docs FROM counts ORDER BY n_docs DESC, ngram LIMIT 50
    """,
)
def t_ngram_topk(spark, sf_dir):
    """Corpus-wide top-50 word bigrams by document frequency
    (operators/dedup.ngram_topk) — LM-corpus n-gram statistics."""
    from imgfact_spark.operators.dedup import ngram_topk

    d = _t(spark, sf_dir, "documents")
    return ngram_topk(d, "text", "doc_id", n=2, k=50)




@_register(
    "t_contamination",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i.i : i.i + 2], ' ') AS ngram
      FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS i(i)
    ),
    corpus_grams AS (SELECT DISTINCT ngram FROM grams WHERE doc_id >= 50),
    test_grams AS (SELECT doc_id, ngram FROM grams WHERE doc_id < 50),
    totals AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM test_grams GROUP BY doc_id),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_contaminated
      FROM test_grams WHERE ngram IN (SELECT ngram FROM corpus_grams)
      GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_ngrams,
           COALESCE(h.n_contaminated, 0) AS n_contaminated,
           FLOOR(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) * 10000 / t.n_ngrams)
             / 10000 AS contamination
    FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def t_contamination(spark, sf_dir):
    """Train/test n-gram contamination check (operators/dedup.
    contamination_check): test docs (doc_id < 50) vs the rest as corpus."""
    from imgfact_spark.operators.dedup import contamination_check

    d = _t(spark, sf_dir, "documents")
    return contamination_check(
        d.filter(F.col("doc_id") >= 50),
        d.filter(F.col("doc_id") < 50),
        "text",
        "doc_id",
        n=3,
    )




@_register(
    "s_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
         scored AS (
           SELECT q.query_id, c.vec_id,
                  FLOOR(
                    (list_dot_product(c.cv, q.qv)
                     / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))))
                    * 10000) / 10000 AS cosine
           FROM c CROSS JOIN q
         )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def s_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search (baseline/verification
    path) via operators/similarity.brute_force_topk."""
    from imgfact_spark.functions.vectors import cosine_sim
    from imgfact_spark.operators.topk import topk_per_group

    e = _t(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    corpus = e.select("vec_id", dbl.alias("cv"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), dbl.alias("qv")
    )
    scored = (
        corpus.join(F.broadcast(q))
        .withColumn(
            "cosine", F.floor(cosine_sim("cv", "qv") * 10000) / 10000
        )
        .drop("cv", "qv")
    )
    return topk_per_group(
        scored, keys=["query_id"], order_by=[F.desc("cosine")], k=5,
        tiebreak=["vec_id"],
    ).select("query_id", "vec_id", "cosine", "rank")




def _lsh_oracle_sql() -> str:
    """DuckDB oracle for s_lsh_topk: the seeded hyperplanes are embedded as
    double literals (repr round-trips exactly); signatures, bucket matching,
    cosine and top-5 mirror operators/similarity.lsh_topk with sequential
    (list_dot_product-identical) float math."""
    from imgfact_spark.operators.similarity import _table_planes

    planes = _table_planes(64, 8, 4, 42)

    def sig_expr(vcol: str, t: int) -> str:
        terms = []
        for i in range(8):
            lit = "[" + ",".join(repr(float(x)) for x in planes[t * 8 + i]) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({vcol}, {lit}) > 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    c_sigs = ",\n             ".join(
        f"({sig_expr('v', t)}) AS sig{t}" for t in range(4)
    )
    q_sigs = ",\n             ".join(
        f"({sig_expr('v', t)}) AS sig{t}" for t in range(4)
    )
    bucket_match = " OR ".join(f"c.sig{t} = q.sig{t}" for t in range(4))
    return f"""
    WITH c AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {c_sigs}
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS v,
             {q_sigs}
      FROM embeddings WHERE vec_id < 5
    ),
    cand AS (
      SELECT q.query_id, c.vec_id,
             ROUND(list_dot_product(c.v, q.v)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(q.v, q.v))), 6) AS cosine
      FROM c JOIN q ON {bucket_match}
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM cand
    ) WHERE rank <= 5
    """




@_register("s_lsh_topk")
def s_lsh_topk(spark, sf_dir):
    """Approximate ANN top-k via random-hyperplane LSH bucketing — the
    100 TB-scale path; recall vs brute force asserted in
    tests/test_similarity.py.  The driver query forces method='column'
    (sequential JVM dots == DuckDB list_dot_product) and double-cast
    embeddings so the generated-literal oracle is bit-exact; the BLAS
    pandas path is pinned equal by tests."""
    from imgfact_spark.operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(e, q, dim=64, k=5, n_planes=8, n_tables=4, method="column")




ORACLES["s_lsh_topk"] = _lsh_oracle_sql()




def _neardup_oracle_sql() -> str:
    """Oracle for d_cosine_neardup: replicate the 2-table/8-plane bucket
    self-join with embedded plane literals, then the exact-cosine gate."""
    from imgfact_spark.operators.similarity import _table_planes

    planes = _table_planes(64, 8, 2, 42)

    def sig_expr(vcol: str, t: int) -> str:
        terms = []
        for i in range(8):
            lit = "[" + ",".join(repr(float(x)) for x in planes[t * 8 + i]) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({vcol}, {lit}) > 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    sigs = ",\n             ".join(f"({sig_expr('v', t)}) AS sig{t}" for t in range(2))
    match = " OR ".join(f"a.sig{t} = b.sig{t}" for t in range(2))
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < 300
      UNION ALL
      SELECT vec_id + 10000 AS vec_id,
             list_transform(embedding::DOUBLE[], x -> x * 1.25 + 0.01) AS v
      FROM embeddings WHERE vec_id < 30
    ),
    c AS (
      SELECT vec_id, v,
             {sigs}
      FROM base
    )
    SELECT * FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM c a JOIN c b ON a.vec_id < b.vec_id AND ({match})
    ) WHERE cosine >= 0.4
    """




@_register("d_cosine_neardup")
def d_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: SRP bucket self-join over
    (table, sig) + exact cosine verify — the embedding leg of the dedup
    family, oracle-checked with plane-literal SQL like s_lsh_topk.

    The driver's random embeddings contain no organic pairs at the 0.4
    threshold (the r1–r4 row matched on 0 rows — vacuously).  Both engines
    now also plant 30 affine near-copies (``x·1.25 + 0.01``, ids +10000)
    whose bucketing AND exact cosines the oracle replays, so the green row
    certifies real detected pairs, not an empty set."""
    from imgfact_spark.operators.similarity import cosine_neardup_pairs

    base = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") * 1.25 + 0.01
        ).alias("embedding"),
    )
    e = base.unionByName(planted)
    return cosine_neardup_pairs(
        e, dim=64, threshold=0.4, n_planes=8, n_tables=2, method="column"
    )




ORACLES["d_cosine_neardup"] = _neardup_oracle_sql()




def _semantic_dedup_oracle_sql() -> str:
    """Oracle for d_semantic_dedup: train the spherical-k-means centroids
    with the exact numpy replica of ``ivf_train_centroids
    (deterministic=True)`` over the SAME union corpus the query builds
    (base < 300 ∪ 30 planted affine near-copies), embed them as double
    literals, then replicate cell assignment (list_sort struct ranking),
    the within-cell pair search and the min-id drop rule in SQL."""
    import numpy as np
    import pandas as _pd

    from imgfact_spark.operators.similarity import ivf_train_centroids_numpy

    pdf = _pd.read_parquet("/root/testdata/sf0.01/embeddings.parquet")
    base_m = pdf["vec_id"] < 300
    pl_m = pdf["vec_id"] < 30
    base = np.vstack(pdf.loc[base_m, "embedding"].to_numpy()).astype("float64")
    planted = (
        np.vstack(pdf.loc[pl_m, "embedding"].to_numpy()).astype("float64")
        * 1.25
        + 0.01
    )
    ids = np.concatenate(
        [pdf.loc[base_m, "vec_id"].to_numpy(), pdf.loc[pl_m, "vec_id"].to_numpy() + 10000]
    )
    cents = ivf_train_centroids_numpy(
        ids, np.vstack([base, planted]), n_cells=8, n_iters=3, seed=42
    )
    structs = ", ".join(
        "{'d': -list_dot_product(v, ["
        + ",".join(repr(float(x)) for x in cent)
        + f"]), 'i': {i}}}"
        for i, cent in enumerate(cents)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < 300
      UNION ALL
      SELECT vec_id + 10000 AS vec_id,
             list_transform(embedding::DOUBLE[], x -> x * 1.25 + 0.01) AS v
      FROM embeddings WHERE vec_id < 30
    ),
    r AS (
      SELECT vec_id, v,
             CAST(list_transform(list_sort([{structs}]), x -> x.i)[1] AS BIGINT) AS cell
      FROM base
    ),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM r a JOIN r b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    d AS (
      SELECT id_b AS vec_id, MIN(id_a) AS dup_of
      FROM p WHERE cosine >= 0.4 GROUP BY id_b
    )
    SELECT r.vec_id, r.cell, d.dup_of IS NULL AS keep, d.dup_of
    FROM r LEFT JOIN d USING (vec_id)
    """




@_register("d_semantic_dedup")
def d_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023): spherical-k-means
    cells bound the pair search; a row drops iff a τ-similar smaller-id
    neighbor shares its cell.  ``deterministic=True, method='column'`` so
    the centroids (driver-trained with fold kernels on the md5-key sample,
    here the whole corpus), cell assignments, cosines and drops are all
    bitwise-replicable in the DuckDB oracle (centroid literals, like
    s_ivf_topk).  The same 30 planted affine near-copies as
    d_cosine_neardup guarantee the green row certifies real drops."""
    from imgfact_spark.operators.similarity import semantic_dedup

    base = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") * 1.25 + 0.01
        ).alias("embedding"),
    )
    e = base.unionByName(planted)
    return semantic_dedup(
        e, dim=64, threshold=0.4, n_cells=8, n_iters=3,
        method="column", deterministic=True,
    )




ORACLES["d_semantic_dedup"] = _semantic_dedup_oracle_sql()




@_register(
    "s_quantize_embeddings",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
    q AS (SELECT vec_id, v, ma,
                 CASE WHEN ma > 0
                      THEN list_transform(v, x -> CAST(FLOOR(x * 127 / ma) AS INT))
                      ELSE list_transform(v, x -> 0) END AS qv
          FROM m),
    d AS (SELECT vec_id, v, qv,
                 list_transform(qv, x -> CAST(x AS DOUBLE) * ma / 127) AS dv
          FROM q)
    SELECT vec_id,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_min(qv) AS INT) AS q_min,
           CAST(list_max(qv) AS INT) AS q_max,
           FLOOR(list_dot_product(dv, v)
                 / (sqrt(list_dot_product(dv, dv)) * sqrt(list_dot_product(v, v)))
                 * 1000000) / 1000000 AS recon_cosine
    FROM d
    """,
)
def s_quantize_embeddings(spark, sf_dir):
    """Embedding int8-style quantization (functions/vectors.quantize_vec):
    the 4× storage/shuffle reduction path for embedding columns at corpus
    scale.  Emits per-vector integer checksums of the quantized codes and
    the reconstruction cosine (floor-truncated) — every value exactly
    replicated by the DuckDB oracle (floor arithmetic, order-independent
    max, sequential dots)."""
    from imgfact_spark.functions.vectors import (
        cosine_sim,
        dequantize_vec,
        quantize_vec,
        vec_max_abs,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    d = (
        e.withColumn("ma", vec_max_abs("v"))
        .withColumn("qv", quantize_vec("v"))
        .withColumn("dv", dequantize_vec("qv", "ma"))
    )
    return d.select(
        "vec_id",
        F.aggregate("qv", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        (F.floor(cosine_sim("dv", "v") * 1000000) / 1000000).alias("recon_cosine"),
    )




def _ivf_oracle_sql() -> str:
    """Oracle for s_ivf_topk: the spherical-k-means centroids are trained
    by :func:`ivf_train_centroids_numpy` — an exact numpy replica of the
    query's ``ivf_train_centroids(deterministic=True)`` (md5-key sample and
    init, sequential-fold dots, sorted sequential-fold means) — then embedded as
    double literals.  Assignment / nprobe probing are replicated with
    ``list_sort`` over (−dot, index) structs, the DuckDB twin of the
    query's JVM sort_array ranking; rerank mirrors the s_lsh_topk oracle.
    Trains over the driver's sf0.01 parquet (the scale the driver compares
    at, like every oracle here)."""
    import numpy as np
    import pandas as _pd

    from imgfact_spark.operators.similarity import ivf_train_centroids_numpy

    pdf = _pd.read_parquet("/root/testdata/sf0.01/embeddings.parquet")
    ids = pdf["vec_id"].to_numpy()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
    cents = ivf_train_centroids_numpy(ids, mat, n_cells=16, n_iters=3, seed=42)

    structs = ", ".join(
        "{'d': -list_dot_product(v, ["
        + ",".join(repr(float(x)) for x in cent)
        + f"]), 'i': {i}}}"
        for i, cent in enumerate(cents)
    )
    return f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    r AS (
      SELECT vec_id, v,
             list_transform(list_sort([{structs}]), x -> x.i) AS cell_rank
      FROM c
    ),
    a AS (SELECT vec_id, cell_rank[1] AS cell FROM r),
    q AS (
      SELECT vec_id AS query_id, UNNEST(list_slice(cell_rank, 1, 4)) AS cell
      FROM r WHERE vec_id < 5
    ),
    cand AS (SELECT DISTINCT q.query_id, a.vec_id FROM q JOIN a USING (cell)),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             ROUND(list_dot_product(ca.v, qq.v)
                   / (sqrt(list_dot_product(ca.v, ca.v))
                      * sqrt(list_dot_product(qq.v, qq.v))), 6) AS cosine
      FROM cand
      JOIN c ca ON ca.vec_id = cand.vec_id
      JOIN c qq ON qq.vec_id = cand.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """




@_register("s_ivf_topk")
def s_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (spherical k-means coarse quantizer + nprobe
    cell probing) — the second ANN scale path next to LSH.  The driver
    query runs ``method='column', deterministic=True``: sequential JVM fold
    dots for cell assignment and probing, numpy ``cumsum`` folds (bitwise
    the JVM fold and list_dot_product) in the per-cell scoring kernel, and
    the driver trains on the seeded md5-key sample (the whole
    500-row corpus here, under the element bound) with fold kernels, so
    the trained centroids are bitwise-replicable in numpy and injectable
    into the DuckDB oracle as literals (was rows-only in rounds 1-2).  The
    BLAS pandas path's recall and determinism stay pinned by
    tests/test_similarity.py::test_ivf_*."""
    from imgfact_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        e, q, dim=64, k=5, n_cells=16, nprobe=4,
        method="column", deterministic=True,
    )




ORACLES["s_ivf_topk"] = _ivf_oracle_sql()




@_register(
    "t_bm25_topk",
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    docs AS (SELECT doc_id, len(t) AS dl, t FROM base),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM docs
    ),
    tf AS (
      SELECT doc_id, dl, u.term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM docs, UNNEST(t) AS u(term)
      WHERE u.term IN ('spark', 'join', 'hash', 'window')
      GROUP BY doc_id, dl, u.term
    ),
    dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / s.avgdl))
               AS c
      FROM tf JOIN dfreq d ON tf.term = d.term, stats s
    ),
    folded AS (
      SELECT doc_id,
             list_dot_product(list(c ORDER BY term),
                              list(CAST(1.0 AS DOUBLE) ORDER BY term)) AS raw
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, FLOOR(raw * 1000000) / 1000000 AS score
    FROM folded
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def t_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-20 for a 4-term query over the documents corpus
    (operators/retrieval.bm25_topk) — ranked lexical retrieval, the corpus
    operation the reference's exact-key pool lookups (imgfact_api/
    imgfact.py retrieve_*) do not cover.  Query-term filter applied inside
    the token array BEFORE the explode (shuffle carries only hits); per-doc
    term sums folded sequentially over term-sorted arrays on both engines;
    k1=1.2, b=0.75."""
    from imgfact_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, ["spark", "join", "hash", "window"], k=20)




@_register(
    "t_corpus_length_profile",
    r"""
    SELECT lang,
           COUNT(*) AS n,
           FLOOR(AVG(CAST(n_chars AS DOUBLE)) * 1000000) / 1000000 AS mean,
           FLOOR(quantile_cont(CAST(n_chars AS DOUBLE), 0.5) * 1000000) / 1000000 AS q50,
           FLOOR(quantile_cont(CAST(n_chars AS DOUBLE), 0.9) * 1000000) / 1000000 AS q90,
           FLOOR(quantile_cont(CAST(n_chars AS DOUBLE), 0.99) * 1000000) / 1000000 AS q99
    FROM documents GROUP BY lang
    """,
)
def t_corpus_length_profile(spark, sf_dir):
    """Per-language document-length distribution profile (operators/stats.
    length_quantiles): exact type-7 interpolated p50/p90/p99 via Spark's
    native percentile aggregate == DuckDB quantile_cont, plus count and
    mean — the distribution-shape gates a corpus pipeline monitors
    (truncation budgets, outlier cutoffs).  Map-side-merged (value→count)
    state; the approx GK-sketch path is the unbounded-domain variant
    (pinned by an error-bound test, not an oracle)."""
    from imgfact_spark.operators.stats import length_quantiles

    d = _t(spark, sf_dir, "documents")
    return length_quantiles(d, "n_chars", by=["lang"]).select(
        "lang", "n", "mean", "q50", "q90", "q99"
    )




@_register(
    "t_pii_redact",
    r"""
    WITH pii AS (
      SELECT doc_id,
             text || ' Contact u' || CAST(doc_id AS VARCHAR)
                  || '@ex.com via 10.0.0.' || CAST(doc_id % 255 AS VARCHAR)
                  || ' tel +1 (415) 555-00' || CAST(10 + doc_id % 90 AS VARCHAR)
                  || ' end' AS raw
      FROM documents WHERE doc_id < 500
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS clean
    FROM pii
    """,
)
def t_pii_redact(spark, sf_dir):
    """PII redaction (functions/text.redact_pii) — the standard corpus
    scrub: emails, IPv4s and phone-shaped digit runs replaced with typed
    placeholders via chained JVM regexp_replace (map-only, fuses into the
    scan).  PII is planted deterministically per doc so both engines
    redact the same text; patterns are written to mean the same thing
    under Java regex and RE2."""
    from imgfact_spark.functions.text import redact_pii

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    raw = F.concat(
        F.col("text"),
        F.lit(" Contact u"), F.col("doc_id").cast("string"),
        F.lit("@ex.com via 10.0.0."), F.pmod("doc_id", F.lit(255)).cast("string"),
        F.lit(" tel +1 (415) 555-00"),
        (F.pmod("doc_id", F.lit(90)) + 10).cast("string"),
        F.lit(" end"),
    )
    return d.select("doc_id", redact_pii(raw).alias("clean"))




@_register(
    "t_repetition_ratio",
    r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(t) < 2 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(
                         list_transform(range(1, len(t)),
                                        i -> t[i] || chr(31) || t[i + 1])))
                       AS DOUBLE)
                     / CAST(len(t) - 1 AS DOUBLE)
           END AS rep_ratio
    FROM base
    """,
)
def t_repetition_ratio(spark, sf_dir):
    """Bigram repetition ratio (functions/text.repetition_ratio) — the
    Gopher-style boilerplate/spam gate: 1 − |distinct bigrams|/|bigrams|,
    0 for <2 tokens.  Pure array Column algebra (split → indexed transform
    → array_distinct), no explode and no shuffle — the signal computes
    inside the scan projection."""
    from imgfact_spark.functions.text import repetition_ratio

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", repetition_ratio("text").alias("rep_ratio"))




@_register(
    "t_bm25_multi",
    r"""
    WITH q(query_id, term) AS (
      VALUES (1, 'spark'), (1, 'join'),
             (2, 'hash'), (2, 'window'),
             (3, 'spark'), (3, 'window'), (3, 'join')
    ),
    base AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    docs AS (SELECT doc_id, len(t) AS dl, t FROM base),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM docs
    ),
    tf AS (
      SELECT doc_id, dl, u.term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM docs, UNNEST(t) AS u(term)
      WHERE u.term IN (SELECT DISTINCT term FROM q)
      GROUP BY doc_id, dl, u.term
    ),
    dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / s.avgdl))
               AS c
      FROM tf JOIN dfreq d ON tf.term = d.term, stats s
    ),
    folded AS (
      SELECT q.query_id, c.doc_id,
             list_dot_product(list(c.c ORDER BY c.term),
                              list(CAST(1.0 AS DOUBLE) ORDER BY c.term)) AS raw
      FROM contrib c JOIN q ON c.term = q.term
      GROUP BY q.query_id, c.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, FLOOR(raw * 1000000) / 1000000 AS score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY FLOOR(raw * 1000000) / 1000000 DESC, doc_id) AS rnk
      FROM folded
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk <= 10
    """,
)
def t_bm25_multi(spark, sf_dir):
    """BM25 over a RELATION of queries (operators/retrieval.
    bm25_topk_queries) — the serving shape of ranked retrieval: per-(doc,
    term) tf and per-term df computed once, fanned out to queries by a
    broadcast (query_id, term) join; the query-term dimension is collapsed
    to one broadcast array so the term filter still runs inside the token
    array BEFORE the explode (corpus-side shuffle ∝ query-term hits,
    independent of |queries|); per-query top-10 as one WindowGroupLimit."""
    from imgfact_spark.operators.retrieval import bm25_topk_queries

    d = _t(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        [
            (1, ["spark", "join"]),
            (2, ["hash", "window"]),
            (3, ["spark", "window", "join"]),
        ],
        "query_id long, terms array<string>",
    )
    return bm25_topk_queries(d, qdf, k=10).select(
        "query_id", "doc_id", "score", "rank"
    )




@_register(
    "t_sample_stratified",
    r"""
    WITH keyed AS (
      SELECT lang, doc_id,
             ('0x' || substr(md5('7' || chr(31) || CAST(doc_id AS VARCHAR)
                                 || chr(31) || lang), 1, 15))::BIGINT AS sample_key
      FROM documents
    ),
    ranked AS (
      SELECT lang, doc_id, sample_key,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sample_key, doc_id)
               AS sample_rank
      FROM keyed
    )
    SELECT lang, doc_id, sample_key, CAST(sample_rank AS INT) AS sample_rank
    FROM ranked WHERE sample_rank <= 10
    """,
)
def t_sample_stratified(spark, sf_dir):
    """Seeded 10-per-language sample (operators/sampling.sample_stratified)
    — the distributed form of the reference's per-key shuffle-then-take
    (p_entity_setup.py:117, s_o_prepare_data.py:40).  Integer md5 ranking:
    reproducible across runs, partitionings and engines; WindowGroupLimit
    bounds rank state at k per stratum."""
    from imgfact_spark.operators.sampling import sample_stratified

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = sample_stratified(d, strata=["lang"], k=10, seed=7)
    return out.select("lang", "doc_id", "sample_key", "sample_rank")




@_register(
    "t_sample_weighted",
    r"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             (('0x' || substr(md5('11' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              + 1) / CAST(1152921504606846976 AS DOUBLE) AS u
      FROM documents WHERE n_chars > 0
    ),
    sel AS (
      SELECT doc_id, n_chars,
             CAST(FLOOR(LEAST(-ln(u) / n_chars, 9000000000.0) * 1000000000)
                  AS BIGINT) AS sk
      FROM keyed
      ORDER BY sk, doc_id LIMIT 25
    )
    SELECT doc_id, n_chars, sk / 1000000000.0 AS sample_key FROM sel
    """,
)
def t_sample_weighted(spark, sf_dir):
    """Efraimidis–Spirakis weighted sample of 25 docs, weight = n_chars
    (operators/sampling.sample_weighted): rank ascending by -ln(u)/w with
    u the seeded unit-interval md5 value — inclusion probability ∝ weight,
    deterministic given (seed, ids, weights).  Both engines rank AND emit
    the integer-truncated key floor(raw·1e9) (÷1e9 on emit), so neither the
    selection cutoff at k nor the hash-compare can hinge on a libm ulp."""
    from imgfact_spark.operators.sampling import sample_weighted

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = sample_weighted(d, k=25, seed=11, weight_col="n_chars")
    return out.select("doc_id", "n_chars", "sample_key")




@_register(
    "t_sample_mixture",
    r"""
    WITH w(source, w) AS (VALUES ('src0', 0.2), ('src1', 0.3), ('src2', 0.5)),
    n AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
    r AS (SELECT n.source,
                 LEAST(CAST(1.0 AS DOUBLE),
                       CAST(60.0 AS DOUBLE) * CAST(w.w AS DOUBLE)
                         / CAST(n.n_s AS DOUBLE)) AS rate
          FROM n JOIN w USING (source)),
    keyed AS (
      SELECT d.doc_id, d.source, r.rate,
             ('0x' || substr(md5('23' || chr(31) || CAST(d.doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS k
      FROM documents d JOIN r USING (source)
    )
    SELECT doc_id, source, k / CAST(1152921504606846976 AS DOUBLE) AS mix_u
    FROM keyed
    WHERE k < CAST(FLOOR(rate * CAST(1152921504606846976 AS DOUBLE)) AS BIGINT)
    """,
)
def t_sample_mixture(spark, sf_dir):
    """Deterministic data-mixture sampling (operators/sampling.
    sample_mixture): re-weight three corpus sources to 20/30/50 target
    proportions within a 60-doc budget.  Per-source keep-rate =
    min(1, budget·wₛ/nₛ) (src2's rate caps at 1 — the whole slice is
    taken); a row survives iff its seeded md5 integer clears the rate
    threshold, so membership is reproducible across engines and monotone
    in the budget.  The corpus-mixing step of web-scale training-data
    pipelines; the reference mixes single-node via one random.shuffle
    (CPgen.py:85-87)."""
    from imgfact_spark.operators.sampling import sample_mixture

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = sample_mixture(
        d, "source", {"src0": 0.2, "src1": 0.3, "src2": 0.5}, budget=60, seed=23
    )
    return out.select("doc_id", "source", "mix_u")




@_register(
    "t_pack_sequences",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             ('0x' || substr(md5('13' || chr(31) || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS k
      FROM documents
    ),
    pos AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS strt
      FROM toks WHERE n_tokens > 0
    ),
    frags AS (
      SELECT doc_id, strt, n_tokens,
             UNNEST(range(strt // 256, (strt + n_tokens - 1) // 256 + 1))
               AS seq_id
      FROM pos
    )
    SELECT seq_id, doc_id,
           GREATEST(strt, seq_id * 256) - strt AS doc_offset,
           GREATEST(strt, seq_id * 256) - seq_id * 256 AS seq_offset,
           LEAST(strt + n_tokens, (seq_id + 1) * 256)
             - GREATEST(strt, seq_id * 256) AS frag_tokens
    FROM frags
    """,
)
def t_pack_sequences(spark, sf_dir):
    """Sequence packing (operators/packing.pack_sequences): md5-shuffle the
    corpus, concatenate, slice into 256-token training sequences — one row
    per (sequence, document-fragment), bit-identical to the single-process
    shuffle→concat→chunk the reference's loaders perform (CPgen.py:85-87).
    The global token offset is an exact distributed prefix sum (range
    partition + per-partition windows + broadcast partition offsets), never
    a global window; documents fan out only to sequences they straddle."""
    from imgfact_spark.functions.text import token_count
    from imgfact_spark.operators.packing import pack_sequences
    from imgfact_spark.operators.sampling import seeded_key

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return pack_sequences(
        d,
        "doc_id",
        "n_tokens",
        seq_len=256,
        order_by=[seeded_key(13, "doc_id"), F.col("doc_id")],
    )




@_register(
    "t_fingerprint_tokens",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(
             text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r\f\x0B]')) AS BIGINT)
             AS bpe_tokens,
           CAST(CASE WHEN length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0
                THEN 0
                ELSE list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(
                           string_split(lower(trim(regexp_replace(
                             text, '\s+', ' ', 'g'))), ' '),
                           t -> ('0x' || substr(md5(t), 1, 7))::BIGINT)),
                       (h, t) -> (h * 131 + t) % 2147483647)
           END AS BIGINT) AS rolling_fp
    FROM documents
    """,
)
def t_fingerprint_tokens(spark, sf_dir):
    """BPE-ish token counting + Rabin–Karp rolling fingerprint
    (functions/text.token_count_bpe, rolling_fingerprint): the GPT-style
    pre-tokenizer count (letter runs / per-digit / per-symbol) and the
    order-sensitive prefix-composable content hash — both pure column
    expressions that fuse into the scan projection (vs doc_fingerprint's
    order-insensitive-normalization xxhash used by exact_dedup)."""
    from imgfact_spark.functions.text import rolling_fingerprint, token_count_bpe

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_bpe("text").cast("long").alias("bpe_tokens"),
        rolling_fingerprint("text").alias("rolling_fp"),
    )




@_register(
    "d_dup_passages",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    base AS (SELECT doc_id, len(t) AS n_tokens, t FROM toks),
    grams AS (
      SELECT doc_id, i.i AS pos,
             ('0x' || substr(md5(array_to_string(t[i.i : i.i + 4], ' ')), 1, 15))::BIGINT AS gh
      FROM base, UNNEST(range(1, n_tokens - 3)) AS i(i)
      WHERE n_tokens >= 5
    ),
    dup AS (
      SELECT gh FROM (SELECT gh, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY gh)
      WHERE df >= 2
    ),
    starts AS (
      SELECT doc_id,
             LEAST(5, pos - COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                     pos - 5)) AS c
      FROM grams WHERE gh IN (SELECT gh FROM dup)
    ),
    cov AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_tokens FROM starts GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens,
           COALESCE(v.dup_tokens, 0) AS dup_tokens,
           FLOOR(CAST(COALESCE(v.dup_tokens, 0) AS DOUBLE) * 10000 / b.n_tokens)
             / 10000 AS dup_ratio
    FROM base b LEFT JOIN cov v ON b.doc_id = v.doc_id
    """,
)
def d_dup_passages(spark, sf_dir):
    """Exact duplicate-passage coverage per document (operators/dedup.
    duplicate_passage_stats): fraction of each doc's tokens covered by a
    5-gram that appears verbatim in >=2 documents — the Lee et al. 2022
    exact-substring dedup signal as a distributed k-gram position join
    with interval-union coverage.  md5 gram-hash mode for the oracle."""
    from imgfact_spark.operators.dedup import duplicate_passage_stats

    d = _t(spark, sf_dir, "documents")
    return duplicate_passage_stats(d, "text", "doc_id", k=5, min_df=2, hash_mode="md5")




@_register(
    "d_strip_dup_passages",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    base AS (SELECT doc_id, len(t) AS n_tokens, t FROM toks),
    grams AS (
      SELECT doc_id, i.i AS pos,
             ('0x' || substr(md5(array_to_string(t[i.i : i.i + 4], ' ')), 1, 15))::BIGINT AS gh
      FROM base, UNNEST(range(1, n_tokens - 3)) AS i(i)
      WHERE n_tokens >= 5
    ),
    stats AS (
      SELECT gh, COUNT(DISTINCT doc_id) AS df, MIN(doc_id) AS canon
      FROM grams GROUP BY gh
    ),
    bad AS (
      SELECT g.doc_id, g.pos FROM grams g JOIN stats s ON g.gh = s.gh
      WHERE s.df >= 2 AND g.doc_id <> s.canon
    ),
    removed AS (
      SELECT DISTINCT doc_id, pos + j.j AS rm FROM bad, UNNEST(range(0, 5)) AS j(j)
    ),
    affected AS (SELECT DISTINCT doc_id FROM removed),
    tokens AS (
      SELECT b.doc_id, i.i AS pos, t[i.i] AS tok
      FROM base b, UNNEST(range(1, n_tokens + 1)) AS i(i)
      WHERE b.doc_id IN (SELECT doc_id FROM affected)
    ),
    kept AS (
      SELECT tk.doc_id, tk.pos, tk.tok FROM tokens tk
      WHERE NOT EXISTS (SELECT 1 FROM removed r
                        WHERE r.doc_id = tk.doc_id AND r.rm = tk.pos)
    ),
    rebuilt AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept_tokens,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           CASE WHEN b.doc_id IN (SELECT doc_id FROM affected)
                THEN COALESCE(r.n_kept_tokens, 0) ELSE b.n_tokens END AS n_kept_tokens,
           CASE WHEN b.doc_id IN (SELECT doc_id FROM affected)
                THEN COALESCE(r.cleaned_text, '') ELSE array_to_string(t, ' ') END
             AS cleaned_text
    FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
    """,
)
def d_strip_dup_passages(spark, sf_dir):
    """Duplicate-passage REMOVAL (operators/dedup.strip_duplicate_passages):
    every duplicated 5-gram span survives only in its canonical (min-id)
    document; affected docs are rebuilt from their kept normalized tokens,
    untouched docs pass through map-only.  md5 gram-hash mode for the
    oracle."""
    from imgfact_spark.operators.dedup import strip_duplicate_passages

    d = _t(spark, sf_dir, "documents")
    return strip_duplicate_passages(d, "text", "doc_id", k=5, min_df=2, hash_mode="md5")




@_register(
    "x_cooccurrence_lift",
    """
    WITH d AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
    ng AS (SELECT COUNT(DISTINCT g) AS n_groups FROM d),
    ic AS (SELECT i, COUNT(*) AS c FROM d GROUP BY i),
    pairs AS (
      SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_both
      FROM d a JOIN d b ON a.g = b.g AND a.i < b.i
      GROUP BY a.i, b.i
      HAVING COUNT(*) >= 2
    )
    SELECT item_a, item_b, n_both, ca.c AS n_a, cb.c AS n_b,
           CAST(FLOOR(CAST(n_both AS DOUBLE) * CAST(n_groups AS DOUBLE)
                      / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS lift_micros
    FROM pairs
    JOIN ic ca ON pairs.item_a = ca.i
    JOIN ic cb ON pairs.item_b = cb.i
    CROSS JOIN ng
    ORDER BY lift_micros DESC, n_both DESC, item_a, item_b
    LIMIT 50
    """,
)
def x_cooccurrence_lift(spark, sf_dir):
    """Top-50 co-occurring item pairs by lift (operators/cooccurrence.
    cooccurrence_lift) over (l_orderkey, l_partkey) baskets — the
    entity-association statistic for relation discovery; lift computed in
    IEEE double (bit-identical across engines), emitted as floor(x*1e6)
    BIGINT so the compare is integral."""
    from imgfact_spark.operators.cooccurrence import cooccurrence_lift

    li = _t(spark, sf_dir, "lineitem")
    return cooccurrence_lift(li, "l_orderkey", "l_partkey", min_pair_count=2, k=50)




@_register(
    "t_token_budget_select",
    """
    WITH scored AS (
      SELECT doc_id,
             """
    + _QUALITY_LEG_SQL
    + """ AS q,
             """
    + _TOKENS_LEG_SQL
    + """ AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, q, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY q DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM scored
    )
    SELECT doc_id, q, CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 12000
    """,
)
def t_token_budget_select(spark, sf_dir):
    """Token-budget corpus selection: best documents by quality until a
    12k-token budget is spent.  The Spark side runs the two-phase
    bucket-pruned plan (operators/selection.py — no global single-partition
    window); the oracle runs the naive global take-while, which the
    two-phase plan equals exactly."""
    from imgfact_spark.functions.text import quality_score, token_count
    from imgfact_spark.operators.selection import select_by_budget

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.floor(quality_score("text", round_to=None) * 10000) / 10000).alias("q"),
        token_count("text").cast("bigint").alias("n_tokens"),
    )
    return select_by_budget(
        d, score_col="q", tokens_col="n_tokens", id_col="doc_id", budget=12000
    ).select("doc_id", "q", "n_tokens", "cum_tokens")




@_register(
    "t_dsir_weights",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    raw_bg AS (
      SELECT doc_id,
             ('0x' || substr(md5('dsir' || chr(31) || w1 || chr(31) || w2), 1, 15))::BIGINT
               % 8192 AS bucket
      FROM (SELECT doc_id, UNNEST(t[1:len(t)-1]) AS w1, UNNEST(t[2:len(t)]) AS w2
            FROM toks WHERE len(t) >= 2)
    ),
    db AS (
      SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS nb
      FROM raw_bg GROUP BY 1, 2
    ),
    rb AS (SELECT bucket, CAST(SUM(nb) AS BIGINT) AS cr FROM db GROUP BY 1),
    tgt_bg AS (
      SELECT ('0x' || substr(md5('dsir' || chr(31) || w1 || chr(31) || w2), 1, 15))::BIGINT
               % 8192 AS bucket
      FROM (SELECT UNNEST(t[1:len(t)-1]) AS w1, UNNEST(t[2:len(t)]) AS w2
            FROM toks WHERE lang = 'en' AND len(t) >= 2)
    ),
    tb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM tgt_bg GROUP BY 1),
    tr AS (SELECT CAST(SUM(cr) AS BIGINT) AS v FROM rb),
    tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS v FROM tb),
    lr AS (
      SELECT rb.bucket,
             ln((COALESCE(tb.ct, 0) + CAST(1.0 AS DOUBLE))
                / (tt.v + CAST(1.0 AS DOUBLE) * 8192))
           - ln((rb.cr + CAST(1.0 AS DOUBLE))
                / (tr.v + CAST(1.0 AS DOUBLE) * 8192)) AS lr
      FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN tr CROSS JOIN tt
    ),
    fold AS (
      SELECT db.doc_id,
             CAST(SUM(nb) AS BIGINT) AS n_features,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE), list(nb * lr ORDER BY db.bucket)),
               (h, x) -> h + x) AS w
      FROM db JOIN lr USING (bucket) GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(COALESCE(f.n_features, 0) AS BIGINT) AS n_features,
           COALESCE(FLOOR(f.w * 1e6) / 1e6, CAST(0.0 AS DOUBLE)) AS weight
    FROM toks t LEFT JOIN fold f USING (doc_id)
    """,
)
def t_dsir_weights(spark, sf_dir):
    """DSIR importance weights (hashed-bigram log-likelihood ratio vs the
    English-language target slice) over the corpus — the statistical
    data-selection scorer (operators/selection.dsir_weights).  md5-bucketed
    features and bucket-sorted sequential folds make every weight
    bitwise oracle-replayable."""
    from imgfact_spark.operators.selection import dsir_weights

    d = _t(spark, sf_dir, "documents")
    return dsir_weights(
        d, "text", "doc_id", target=d.filter(F.col("lang") == "en")
    )




# shared oracle leg: the winnowed (doc_id, fp, pos) relation in md5 hash
# mode — used verbatim by d_winnow_fingerprints and as the input CTE of
# d_winnow_dup_pairs (factored so the SQL twins can't drift)
_WINNOW_FPS_SQL = r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    base AS (SELECT doc_id, len(t) AS n_tokens, t FROM toks),
    grams AS (
      SELECT doc_id, i.i AS pos,
             ('0x' || substr(md5(array_to_string(t[i.i : i.i + 4], ' ')), 1, 9))::BIGINT AS gh
      FROM base, UNNEST(range(1, n_tokens - 3)) AS i(i)
      WHERE n_tokens >= 5
    ),
    keyed AS (
      SELECT doc_id, pos,
             gh * 16777216 + (16777215 - pos) AS key,
             COUNT(*) OVER (PARTITION BY doc_id) AS ng
      FROM grams
    ),
    sel AS (
      SELECT doc_id, pos, ng,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey
      FROM keyed
    )
    SELECT DISTINCT doc_id,
           CAST(selkey // 16777216 AS BIGINT) AS fp,
           CAST(16777215 - (selkey % 16777216) AS BIGINT) AS pos
    FROM sel WHERE pos <= GREATEST(ng - 3, 1)
    """




@_register("d_winnow_fingerprints", _WINNOW_FPS_SQL)
def d_winnow_fingerprints(spark, sf_dir):
    """Winnowed document fingerprints (Schleimer et al. 2003 — the MOSS
    selector; operators/dedup.winnow_fingerprints): per 4-window of 5-gram
    hashes select the min (rightmost on ties) via the integer
    order-embedding key, guaranteeing shared fingerprints for any
    duplicate span of >= 8 tokens at ~2/(window+1) of the gram volume.
    md5 hash mode for the oracle."""
    from imgfact_spark.operators.dedup import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(
        d, "text", "doc_id", k=5, window=4, hash_mode="md5"
    )




@_register(
    "d_winnow_dup_pairs",
    r"""
    WITH fps AS (
      SELECT DISTINCT doc_id, fp FROM ("""
    + _WINNOW_FPS_SQL
    + r""")
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    """,
)
def d_winnow_dup_pairs(spark, sf_dir):
    """Winnowing candidate pairs (operators/dedup.winnow_dup_pairs): the
    fingerprint-bucket self-join over the snapshot'd winnowed relation —
    (id_a, id_b, n_shared) for ordered pairs sharing >= 2 distinct
    selected fingerprints.  Same scale shape as the MinHash/SimHash pair
    generators (never all-pairs; hub fingerprints ride AQE skew split).
    Non-vacuous on the driver corpus: 25 pairs at sf0.01 from its shared
    boilerplate passages (verified non-zero, like d_cosine_neardup)."""
    from imgfact_spark.operators.dedup import winnow_dup_pairs

    d = _t(spark, sf_dir, "documents")
    return winnow_dup_pairs(
        d, "text", "doc_id", k=5, window=4, min_shared=2, hash_mode="md5"
    )




@_register(
    "t_split_sentences",
    r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 string_split(
                   regexp_replace(text, '([.!?]) ', '\1' || chr(30), 'g'),
                   chr(30)),
                 x -> trim(x)),
               x -> length(x) > 0) AS arr
      FROM documents
    )
    SELECT doc_id, CAST(i.i - 1 AS INT) AS sent_idx, arr[i.i] AS sentence
    FROM s, UNNEST(range(1, len(arr) + 1)) AS i(i)
    """,
)
def t_split_sentences(spark, sf_dir):
    """Sentence segmentation (functions/text.split_sentences): substitute-
    then-split after sentence-final punctuation — the lookaround-free,
    engine-portable splitter; map-only, fuses into the scan.  One exploded
    row per non-empty trimmed sentence with its 0-based index."""
    from imgfact_spark.functions.text import split_sentences

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.posexplode(split_sentences("text")).alias("sent_idx", "sentence"),
    )




@_register(
    "t_domain_profile",
    r"""
    SELECT source AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT ('0x' || substr(md5(lower(trim(
                  regexp_replace(text, '\s+', ' ', 'g')))), 1, 15))::BIGINT)
             AS BIGINT) AS n_unique_docs,
           CAST(SUM("""
    + _TOKENS_LEG_SQL
    + r""") AS BIGINT) AS tok_sum,
           CAST(SUM(len(list_filter(
               list_transform(
                 string_split(
                   regexp_replace(text, '([.!?]) ', '\1' || chr(30), 'g'),
                   chr(30)),
                 x -> trim(x)),
               x -> length(x) > 0))) AS BIGINT) AS sent_sum,
           CAST(SUM(CAST(FLOOR("""
    + _QUALITY_RAW_SQL
    + """ * 10000) AS BIGINT)) AS BIGINT) AS qsum_e4
    FROM documents
    GROUP BY source
    """,
)
def t_domain_profile(spark, sf_dir):
    """Per-domain curation profile (operators/stats.domain_profile):
    doc/unique-fingerprint/token/sentence counts and the exact integer
    quality sum per source — the RefinedWeb-style domain table; one
    map-side-combining aggregation, everything integer-exact."""
    from imgfact_spark.functions.text import quality_score
    from imgfact_spark.operators.stats import domain_profile

    d = _t(spark, sf_dir, "documents").withColumn(
        "_quality", quality_score("text", round_to=None)
    )
    return domain_profile(d, "text", "source", quality_col="_quality")




@_register(
    "t_inverted_index",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    tf AS (
      SELECT term, CAST(doc_id AS VARCHAR) AS doc, COUNT(*) AS tf
      FROM (SELECT doc_id, UNNEST(t) AS term FROM toks)
      WHERE term <> ''
      GROUP BY term, doc
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    seg AS (
      SELECT t.term, t.doc, t.tf, d.df,
             CAST(('0x' || substr(md5('idx' || chr(31) || t.doc), 1, 15))::BIGINT
                  % CAST(CEIL(d.df / 16.0) AS BIGINT) AS INT) AS segment
      FROM tf t JOIN dfreq d USING (term)
    )
    SELECT term, CAST(df AS BIGINT) AS df, segment,
           string_agg(doc || ':' || tf, ',' ORDER BY doc) AS postings
    FROM seg
    GROUP BY term, df, segment
    """,
)
def t_inverted_index(spark, sf_dir):
    """Segmented inverted-index construction
    (operators/retrieval.inverted_index): (term, df, segment, postings)
    with posting lists sharded by doc-hash into ceil(df/16) segments —
    the hub-term bound — and flat-serialized doc-sorted 'doc:tf' lists.
    md5 hash mode so DuckDB replays the segment assignment exactly;
    segment_size=16 forces multi-segment terms at sf0.01."""
    from imgfact_spark.operators.retrieval import inverted_index

    d = _t(spark, sf_dir, "documents")
    return inverted_index(
        d, "text", "doc_id", segment_size=16, hash_mode="md5"
    )



@_register(
    "d_dedup_corpus",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, u.s FROM toks, UNNEST(t) AS u(s)
    ),
    h AS (
      SELECT doc_id, r.i AS hidx,
             MIN(('0x' || substr(md5(s || chr(31) || CAST(r.i AS VARCHAR)), 1, 15))::BIGINT) AS mh
      FROM sh, UNNEST(range(0, 32)) AS r(i)
      GROUP BY doc_id, r.i
    ),
    sig AS (
      SELECT doc_id, list(mh ORDER BY hidx) AS sig FROM h GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.b AS band,
             ('0x' || substr(md5(array_to_string(sig[b.b*4+1 : b.b*4+4], ',')), 1, 15))::BIGINT AS bh
      FROM sig, UNNEST(range(0, 8)) AS b(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bands a
      JOIN bands b2 ON a.band = b2.band AND a.bh = b2.bh AND a.doc_id < b2.doc_id
    ),
    sets AS (SELECT doc_id, list(s) AS ts FROM sh GROUP BY doc_id),
    ver AS (
      SELECT id_a, id_b FROM cand
      JOIN sets sa ON sa.doc_id = cand.id_a
      JOIN sets sb ON sb.doc_id = cand.id_b
      WHERE len(list_intersect(sa.ts, sb.ts)) * 1.0
            / len(list_distinct(sa.ts || sb.ts)) >= 0.6
    ),
    sym AS (SELECT id_a AS a, id_b AS b FROM ver UNION SELECT id_b, id_a FROM ver),
    r(node, reach) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.node, s.b FROM r JOIN sym s ON r.reach = s.a
    ),
    comp AS (
      SELECT node, LEAST(node, MIN(reach)) AS component FROM r GROUP BY node
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
    """,
)
def d_dedup_corpus(spark, sf_dir):
    """The end-to-end fuzzy-dedup ACTION (operators/dedup.dedup_corpus):
    MinHash-LSH candidates → exact word-set Jaccard verify (≥0.6) →
    connected components → drop every non-canonical cluster member.  The
    whole four-stage composition — signatures, banding, verification,
    label propagation, final anti-join — is replayed by ONE recursive-CTE
    DuckDB oracle in md5 hash mode, so the surviving-document set is
    value-hash certified, not just the intermediate pair relations
    (which d_minhash_lsh_pairs / d_ngram_jaccard_pairs / d_dup_components
    certify stage by stage)."""
    from imgfact_spark.operators.dedup import dedup_corpus

    d = _t(spark, sf_dir, "documents")
    return dedup_corpus(
        d, "text", "doc_id", n=1, num_hashes=32, bands=8, rows_per_band=4,
        jaccard_threshold=0.6, hash_mode="md5",
    ).select("doc_id")


@_register(
    "t_decontaminate",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i.i : i.i + 2], ' ') AS ngram
      FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS i(i)
    ),
    bench_grams AS (SELECT DISTINCT ngram FROM grams WHERE doc_id < 50),
    doc_grams AS (SELECT doc_id, ngram FROM grams WHERE doc_id >= 50),
    totals AS (SELECT doc_id, COUNT(*) AS total FROM doc_grams GROUP BY doc_id),
    hits AS (
      SELECT doc_id, COUNT(*) AS hits
      FROM doc_grams WHERE ngram IN (SELECT ngram FROM bench_grams)
      GROUP BY doc_id
    ),
    contaminated AS (
      SELECT t.doc_id FROM totals t JOIN hits h USING (doc_id)
      WHERE CAST(h.hits AS DOUBLE) > 0.2 * CAST(t.total AS DOUBLE)
    )
    SELECT doc_id FROM documents
    WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def t_decontaminate(spark, sf_dir):
    """Benchmark-decontamination ACTION (operators/dedup.decontaminate):
    drop corpus docs whose distinct 3-gram overlap with the benchmark set
    (doc_id < 50) exceeds 20% of the doc's own grams — the GPT-3 App. C
    decontamination rule generalized to a fraction threshold; the
    measuring twin is t_contamination.  The benchmark gram relation
    broadcasts (eval suites are tiny next to a 100 TB corpus); the corpus
    side is a map-only gram explode + one count agg + left-anti join."""
    from imgfact_spark.operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    return decontaminate(
        d.filter(F.col("doc_id") >= 50),
        d.filter(F.col("doc_id") < 50),
        "text", "doc_id", n=3, max_overlap=0.2,
    ).select("doc_id")


@_register(
    "d_dedup_incremental",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, u.s FROM toks, UNNEST(t) AS u(s)
    ),
    h AS (
      SELECT doc_id, r.i AS hidx,
             MIN(('0x' || substr(md5(s || chr(31) || CAST(r.i AS VARCHAR)), 1, 15))::BIGINT) AS mh
      FROM sh, UNNEST(range(0, 32)) AS r(i)
      GROUP BY doc_id, r.i
    ),
    sig AS (
      SELECT doc_id, list(mh ORDER BY hidx) AS sig FROM h GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.b AS band,
             ('0x' || substr(md5(array_to_string(sig[b.b*8+1 : b.b*8+8], ',')), 1, 15))::BIGINT AS bh
      FROM sig, UNNEST(range(0, 4)) AS b(b)
    ),
    index_bands AS (SELECT band, bh FROM bands WHERE doc_id >= 450),
    new_bands AS (SELECT doc_id, band, bh FROM bands WHERE doc_id < 450),
    vs_index AS (
      SELECT DISTINCT n.doc_id FROM new_bands n
      JOIN index_bands i ON n.band = i.band AND n.bh = i.bh
    ),
    survivors AS (
      SELECT * FROM new_bands WHERE doc_id NOT IN (SELECT doc_id FROM vs_index)
    ),
    dominated AS (
      SELECT DISTINCT b.doc_id FROM survivors a
      JOIN survivors b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT doc_id FROM documents
    WHERE doc_id < 450
      AND doc_id NOT IN (SELECT doc_id FROM vs_index)
      AND doc_id NOT IN (SELECT doc_id FROM dominated)
    """,
)
def d_dedup_incremental(spark, sf_dir):
    """Incremental (CDC-shaped) near-dup dedup
    (operators/dedup.dedup_against_index): the stored corpus exists only
    as its LSH band index (docs ≥450 here); the new batch (docs <450;
    4 bands × 8 rows keeps BOTH phases non-trivial at sf0.01 — 334 index
    collisions, 26 within-batch dominations, 90 kept)
    drops members colliding with the index in any band, then greedy-drops
    the larger id of every within-batch collision — one pass, no
    label-propagation rounds (the batch ops dedup_corpus/minhash_dedup
    carry the transitive semantics).  md5 hash mode: DuckDB replays
    signatures, banding, both collision phases and the final anti-joins,
    so the kept-document set is value-hash certified."""
    from imgfact_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_table,
        minhash_signature,
        shingle_df,
    )

    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") >= 450)
    new = d.filter(F.col("doc_id") < 450)
    sig_old = minhash_signature(
        shingle_df(old, "text", "doc_id", n=1), "doc_id",
        num_hashes=32, hash_mode="md5",
    )
    index = minhash_band_table(sig_old, "doc_id", bands=4, rows_per_band=8,
                               hash_mode="md5")
    res = dedup_against_index(
        new, index, "text", "doc_id", n=1, num_hashes=32, bands=4,
        rows_per_band=8, hash_mode="md5",
    )
    return res.kept.select("doc_id")
