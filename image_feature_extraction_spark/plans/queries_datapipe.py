"""Training-data-pipeline queries: dedup, similarity search, text analysis,
plus additional window/aggregation coverage (nearest-event distance, moving
aggregates, pivot bag assembly, union bag, stratified sampling).

Every query here has an exact DuckDB oracle. The cross-engine contract:

- hashes are md5-derived 32-bit BIGINTs, identical in both engines
  (Spark conv(substr(md5, 1, 8), 16, 10) == DuckDB ('0x'||substr)::BIGINT);
- whitespace tokenization is regexp-split on trimmed text in both;
- float outputs are either exact divisions of integers (IEEE-identical)
  or rounded after structurally-identical expression trees.

SQL for the bit-twiddling queries (simhash, LSH planes) is GENERATED from
the same constants the Spark operators use, so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as T
from ..operators import windows as W
from .queries import (
    _ASOF_BACKWARD_SQL,
    _SQL_CLICKS_PURCHASES,
    _TS_FMT_DUCK,
    _clicks_asof_out,
    _clicks_purchases,
    _register,
    _t,
    q_asof_join,
)

MD5L = "('0x'||substr(md5({x}),1,8))::BIGINT"

# Shared SQL fragments -------------------------------------------------------

SQL_WORDS = r"SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents"

SQL_GRAMS3 = (
    "SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g "
    "FROM words, UNNEST(generate_series(1, len(w)-2)) AS t(i) WHERE len(w) >= 3"
)


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

def q_dedup_minhash(spark, sf_dir):
    """MinHash signatures (8 perms over 3-word shingles) per doc."""
    d = _t(spark, sf_dir, "documents")
    return D.minhash_signatures(d, num_hashes=8)


def _minhash_sql() -> str:
    mins = ", ".join(
        f"MIN(({a}*hm + {b}) % {D.MINHASH_PRIME}) AS h{j}"
        for j, (a, b) in enumerate(D.MINHASH_COEFFS[:8])
    )
    return f"""
    WITH words AS ({SQL_WORDS}),
    grams AS ({SQL_GRAMS3}),
    h AS (SELECT doc_id, {MD5L.format(x='g')} % {D.MINHASH_PRIME} AS hm FROM grams)
    SELECT doc_id, {mins} FROM h GROUP BY doc_id
    """


_register("q_dedup_minhash", q_dedup_minhash, _minhash_sql())


def q_dedup_minhash_lsh(spark, sf_dir):
    """LSH banding candidates (8 bands x 1 row): pairs agreeing on >= 1
    minhash, with the number of agreeing bands."""
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, num_hashes=8, band_rows=1)


def _minhash_lsh_sql() -> str:
    eqs = " + ".join(f"(a.h{j} = b.h{j})::INT" for j in range(8))
    return f"""
    WITH sig AS ({_minhash_sql()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ({eqs})::BIGINT AS n_bands
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE ({eqs}) > 0
    """


_register("q_dedup_minhash_lsh", q_dedup_minhash_lsh, _minhash_lsh_sql())


def q_dedup_simhash(spark, sf_dir):
    """16-bit SimHash per doc over word unigrams."""
    d = _t(spark, sf_dir, "documents")
    return D.simhash(d, bits=16)


def _simhash_sql(bits: int = 16) -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    return f"""
    WITH words AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word FROM documents),
    h AS (SELECT doc_id, {MD5L.format(x='word')} AS h FROM words),
    s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
    SELECT doc_id, ({fp})::BIGINT AS simhash FROM s
    """


_register("q_dedup_simhash", q_dedup_simhash, _simhash_sql())


def q_dedup_jaccard(spark, sf_dir):
    """Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.05).

    3-word shingles keep the shingle equi-join SPARSE: unigram shingles
    would make every stopword a hot join key (the classic skew blow-up —
    measured 148s vs ~5s at sf0.1)."""
    d = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, n=3, threshold=0.05)


_register(
    "q_dedup_jaccard",
    q_dedup_jaccard,
    f"""
    WITH words AS ({SQL_WORDS}),
    sh AS (SELECT doc_id, g AS shingle FROM ({SQL_GRAMS3}) grams),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common,
           common::DOUBLE / (sa.n_sh + sb.n_sh - common)::DOUBLE AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common)::DOUBLE >= 0.05
    """,
)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (threshold 0.48)."""
    e = _t(spark, sf_dir, "embeddings")
    return D.embedding_neardup_pairs(e, threshold=0.48)


_register(
    "q_dedup_embedding",
    q_dedup_embedding,
    """
    WITH p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS c
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM p
    WHERE c >= 0.48
    """,
)




# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def _query_vectors(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def q_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-5 per query vector (every 50th embedding)."""
    e = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk(e, _query_vectors(spark, sf_dir), k=5)


_register(
    "q_knn_bruteforce",
    q_knn_bruteforce,
    """
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS c,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC
             ) AS rank
      FROM q JOIN embeddings c ON q.query_id <> c.vec_id
    )
    SELECT query_id, rank, neighbor_id, ROUND(c, 6) AS cosine
    FROM scored WHERE rank <= 5
    """,
)


_LSH_PLANES = 6
_LSH_TABLES = 8


def _bucket_expr_sql(table: int, n_planes: int = _LSH_PLANES, dim: int = 64) -> str:
    """DuckDB expression for one hyperplane-LSH bucket id, generated from
    the SAME coefficients the Spark operator uses."""
    coeffs = S.hyperplane_coeffs(n_planes, dim, table)
    return " + ".join(
        "(CASE WHEN list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(f"{c:.1f}" for c in row)
        + f"]) > 0 THEN {1 << p} ELSE 0 END)"
        for p, row in enumerate(coeffs)
    )


def q_knn_lsh(spark, sf_dir):
    """Approximate top-5 via multi-table hyperplane LSH (8 tables x 6
    planes), exact cosine rescoring of the candidate union."""
    e = _t(spark, sf_dir, "embeddings")
    return S.lsh_topk(
        e, _query_vectors(spark, sf_dir), k=5,
        n_planes=_LSH_PLANES, n_tables=_LSH_TABLES, dim=64,
    )


def _lsh_sql() -> str:
    cb = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS tbl, ({_bucket_expr_sql(t)})::BIGINT AS bkt "
        "FROM embeddings"
        for t in range(_LSH_TABLES)
    )
    return f"""
    WITH cb AS ({cb}),
    qb AS (SELECT vec_id AS query_id, tbl, bkt FROM cb WHERE vec_id % 50 = 0),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      FROM qb q JOIN cb c ON q.tbl = c.tbl AND q.bkt = c.bkt
      WHERE q.query_id <> c.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) AS c,
             ROW_NUMBER() OVER (
               PARTITION BY cand.query_id
               ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
                        cand.neighbor_id ASC
             ) AS rank
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, rank, neighbor_id, ROUND(c, 6) AS cosine
    FROM scored WHERE rank <= 5
    """


_register("q_knn_lsh", q_knn_lsh, _lsh_sql())


# A second registered name for the same search and oracle: callers pin
# both names.
_register("q_knn_lsh_blas", q_knn_lsh, _lsh_sql())


def q_dedup_embedding_bucketed(spark, sf_dir):
    """Embedding near-dup via the SCALE path: LSH-bucketed per-bucket
    blocked matmul (no driver collect, no broadcast of the corpus). The
    oracle reproduces the exact bucketing (same hyperplane constants) in
    SQL, so the approximate result is still hash-exact."""
    e = _t(spark, sf_dir, "embeddings")
    # 3 planes x 8 tables: ~0.93 recall at cosine 0.48 (finds all 3 true
    # pairs at sf0.01); raise n_planes for tighter thresholds at scale
    return D.embedding_neardup_pairs_bucketed(
        e, threshold=0.48, n_planes=3, n_tables=8
    )


def _embedding_bucketed_sql(n_planes: int = 3, n_tables: int = 8) -> str:
    cb = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS tbl, "
        f"({_bucket_expr_sql(t, n_planes=n_planes)})::BIGINT AS bkt "
        "FROM embeddings"
        for t in range(n_tables)
    )
    return f"""
    WITH cb AS ({cb}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cb a JOIN cb b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
    ),
    p AS (
      SELECT id_a, id_b,
             list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS c
      FROM cand
      JOIN embeddings ea ON ea.vec_id = cand.id_a
      JOIN embeddings eb ON eb.vec_id = cand.id_b
    )
    SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM p
    WHERE c >= 0.48
    """


_register(
    "q_dedup_embedding_bucketed",
    q_dedup_embedding_bucketed,
    _embedding_bucketed_sql(),
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_text_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.token_stats(d)


_register(
    "q_text_tokens",
    q_text_tokens,
    f"""
    WITH words AS ({SQL_WORDS})
    SELECT doc_id,
           len(w)::INT AS n_words,
           len(list_distinct(w))::INT AS n_distinct_words,
           (SELECT length(text) FROM documents d2 WHERE d2.doc_id = words.doc_id)::INT AS n_chars_measured,
           len(list_filter(w, x -> regexp_full_match(x, '[A-Za-z]+')))::INT AS n_alpha_words,
           list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w)::DOUBLE AS mean_word_len
    FROM words
    """,
)


def q_text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.quality_score(d)


def _quality_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in T.QUALITY_STOPWORDS)
    return f"""
    WITH words AS ({SQL_WORDS}),
    m AS (
      SELECT doc_id,
             len(w)::INT AS n_words,
             len(list_filter(w, x -> list_contains([{stop_list}], x)))::INT AS n_stop,
             len(list_distinct(w))::DOUBLE / len(w)::DOUBLE AS ttr,
             len(list_filter(w, x -> list_contains([{stop_list}], x)))::DOUBLE
               / len(w)::DOUBLE AS stop_ratio
      FROM words
    )
    SELECT doc_id, n_words, n_stop AS n_stopwords,
           ROUND(ttr, 6) AS type_token_ratio,
           ROUND(stop_ratio, 6) AS stopword_ratio,
           ROUND(1000.0 * (0.4 * ttr
                 + 0.3 * (CASE WHEN stop_ratio >= 0.01 AND stop_ratio <= 0.6 THEN 1.0 ELSE 0.0 END)
                 + 0.3 * (CASE WHEN n_words >= 20 AND n_words <= 1000 THEN 1.0 ELSE 0.0 END)), 0
           )::BIGINT AS quality_score
    FROM m
    """


_register("q_text_quality", q_text_quality, _quality_sql())


def q_text_langid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.langid(d)


def _langid_sql() -> str:
    langs = sorted(T.LANG_MARKERS)  # de, en, es, fr — tie-break order
    hit_cols = ", ".join(
        "len(list_filter(w, x -> list_contains(["
        + ", ".join(f"'{m}'" for m in T.LANG_MARKERS[lang])
        + f"], x)))::INT AS hit_{lang}"
        for lang in langs
    )
    # argmax with ties -> first in sorted(lang) order
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"hit_{lang} >= hit_{o}" for o in langs[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        branches.append(f"WHEN {cond} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + " END"
    mx = f"greatest({', '.join('hit_' + lang for lang in langs)})"
    return f"""
    WITH words AS ({SQL_WORDS}),
    h AS (SELECT doc_id, {hit_cols} FROM words)
    SELECT h.doc_id,
           d.lang AS actual_lang,
           CASE WHEN {mx} > 0 THEN {case} ELSE 'und' END AS predicted_lang,
           {mx}::INT AS marker_hits
    FROM h JOIN documents d ON d.doc_id = h.doc_id
    """


_register("q_text_langid", q_text_langid, _langid_sql())


def q_text_bpe_tokens(spark, sf_dir):
    """BPE-ish pre-tokenizer counts (GPT-2-style regex, ASCII classes so
    both engines' regex dialects agree exactly) + fertility ratio."""
    d = _t(spark, sf_dir, "documents")
    return T.bpe_token_count(d)


def _bpe_sql() -> str:
    pat = T.BPE_PRETOKEN_PATTERN.replace("'", "''")
    return f"""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(regexp_extract_all(text, '({pat})'),
                             t -> NOT regexp_full_match(t, '\\s+'))) AS n_bpe,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_words
      FROM documents
    )
    SELECT doc_id, n_bpe::INT AS n_bpe_tokens, n_words::INT AS n_words,
           n_bpe::DOUBLE / n_words::DOUBLE AS fertility
    FROM toks
    """


_register("q_text_bpe_tokens", q_text_bpe_tokens, _bpe_sql())


def q_text_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.fingerprint(d, n=3)


_register(
    "q_text_fingerprint",
    q_text_fingerprint,
    f"""
    WITH words AS ({SQL_WORDS}),
    grams AS ({SQL_GRAMS3}),
    h AS (SELECT doc_id, {MD5L.format(x='g')} AS h FROM grams)
    SELECT doc_id, MIN(h) AS min_hash, MAX(h) AS max_hash,
           bit_xor(h)::BIGINT AS xor_hash, COUNT(*) AS n_shingles
    FROM h GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# Window / aggregation coverage extensions
# ---------------------------------------------------------------------------

def q_nearest_event(spark, sf_dir):
    """N7 distance-map analog: seconds to nearest error event per user."""
    ev = _t(spark, sf_dir, "events")
    out = W.nearest_event_distance(
        ev, by="user_id", ts="ts", marker=F.col("event_type") == "error"
    )
    return out.select("event_id", "user_id", "dist_to_marker")


_register(
    "q_nearest_event",
    q_nearest_event,
    """
    WITH d AS (
      SELECT event_id, user_id,
             epoch(ts) - LAST_VALUE(CASE WHEN event_type = 'error' THEN epoch(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back,
             FIRST_VALUE(CASE WHEN event_type = 'error' THEN epoch(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) - epoch(ts) AS fwd
      FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN back IS NULL AND fwd IS NULL THEN NULL
                ELSE LEAST(COALESCE(back, 'inf'::DOUBLE), COALESCE(fwd, 'inf'::DOUBLE))
           END AS dist_to_marker
    FROM d
    """,
)


def q_moving_avg(spark, sf_dir):
    """N3 relational analog: trailing 1-hour range-frame aggregates."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = W.moving_aggregate(ev, by="user_id", ts="ts", value="value", width=3600.0)
    return out.select(
        "event_id",
        "user_id",
        "mov_n",
        F.col("mov_sum").cast("double").alias("mov_sum"),
        "mov_mean",
    )


_register(
    "q_moving_avg",
    q_moving_avg,
    """
    SELECT event_id, user_id,
           COUNT(*) OVER w AS mov_n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_sum,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / (COUNT(*) OVER w)::DOUBLE AS mov_mean
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)


_EVENT_TYPES = ("click", "view", "purchase", "error")


def q_pivot_bag(spark, sf_dir):
    """A4 bag assembly as a relational pivot: per-user event-type histogram
    counts + frequency normalization (MakeBag.cxx:459-470 column layout)."""
    ev = _t(spark, sf_dir, "events")
    aggs = []
    for t in _EVENT_TYPES:
        aggs.append(
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{t}")
        )
    out = ev.groupBy("user_id").agg(*aggs, F.count(F.lit(1)).alias("n_total"))
    freqs = [
        (F.col(f"n_{t}").cast("double") / F.col("n_total").cast("double")).alias(f"f_{t}")
        for t in _EVENT_TYPES
    ]
    return out.select("user_id", *[f"n_{t}" for t in _EVENT_TYPES], "n_total", *freqs)


_register(
    "q_pivot_bag",
    q_pivot_bag,
    f"""
    SELECT user_id,
           {', '.join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in _EVENT_TYPES)},
           COUNT(*) AS n_total,
           {', '.join(f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE AS f_{t}" for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)


def q_union_bag(spark, sf_dir):
    """J4 bagged-dataset assembly: two 'bags' (event-type splits) unioned
    with bag membership + per-bag instance index
    (MakeBaggedDataset.cxx:73-144)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "value"
    ).withColumn("bag_id", F.lit(0))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    ).withColumn("bag_id", F.lit(1))
    u = clicks.unionByName(purchases)
    w = Window.partitionBy("bag_id").orderBy("event_id")
    return (
        u.withColumn("instance_idx", (F.row_number().over(w) - 1).cast("long"))
        .select(
            F.col("bag_id").cast("long").alias("bag_id"),
            "instance_idx",
            "event_id",
            "user_id",
            F.col("value").cast("decimal(18,2)").cast("double").alias("value"),
        )
    )


_register(
    "q_union_bag",
    q_union_bag,
    """
    WITH u AS (
      SELECT event_id, user_id, value, 0 AS bag_id FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT event_id, user_id, value, 1 AS bag_id FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(bag_id AS BIGINT) AS bag_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY bag_id ORDER BY event_id) - 1 AS BIGINT) AS instance_idx,
           event_id, user_id, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
    FROM u
    """,
)


def q_stratified_sample(spark, sf_dir):
    """R4 stratified sampling with acceptance list: deterministic hash-mod
    'sample' of non-error events per stratum (md5(event_id) % 10 = 0), so
    both engines select identical rows; per-stratum counts + value sum."""
    ev = _t(spark, sf_dir, "events")
    picked = ev.where(
        (F.col("event_type") != "error")
        & (D.md5_long(F.col("event_id").cast("string")) % 10 == 0)
    )
    return (
        picked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


_register(
    "q_stratified_sample",
    q_stratified_sample,
    f"""
    SELECT event_type, COUNT(*) AS n_sampled,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type <> 'error' AND {MD5L.format(x='event_id::VARCHAR')} % 10 = 0
    GROUP BY event_type
    """,
)


def q_exact_quantiles(spark, sf_dir):
    """A3 exact distributed equi-depth: per-event-type quartile edges via
    sort + row_number (no approximation; partition-count invariant)."""
    from ..operators.quantiles import exact_quantile_values

    ev = _t(spark, sf_dir, "events")
    return exact_quantile_values(ev, value="value", keys="event_type", n_bins=4)


_register(
    "q_exact_quantiles",
    q_exact_quantiles,
    """
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC) - 1 AS pos,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE value IS NOT NULL
    )
    SELECT event_type, (j - 1)::INT AS edge_idx, value AS edge_value, n
    FROM ranked, (VALUES (1), (2), (3)) AS t(j)
    WHERE pos = (j * n) // 4
    QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type, pos ORDER BY j) = 1
    """,
)


MULTIMODAL_ROWS = 128


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: synthesized binary payloads -> fake-codec
    feature vectors, value-checked against a VALUES-literal oracle that
    recomputes the deterministic md5-seeded payloads and digests
    driver-side (_multimodal_features_sql)."""
    from ..operators.multimodal import extract_multimodal_features, synth_multimodal
    from .queries import digest_col

    df = synth_multimodal(spark, MULTIMODAL_ROWS)
    out = extract_multimodal_features(df, decode_fn="fake")
    # scalar digest instead of the raw vector: the driver canonicalizer
    # sorts/hashes columns, and array cells are unhashable in pandas
    return out.select(
        "doc_id",
        "modality",
        F.length("payload").cast("long").alias("payload_bytes"),
        F.size("mm_features").cast("long").alias("feat_dim"),
        digest_col(F.col("mm_features")).alias("feat_digest"),
    )


def _multimodal_features_sql() -> str:
    """VALUES-literal oracle: payload bytes, modality, and fake-codec
    feature digests recomputed driver-side from the generator SPEC
    (multimodal.synth_multimodal / _fake_decode docstrings: md5("mm:{i}")
    seed -> modality/size/PCG64 payload; feature = md5(payload) bytes
    tiled to FEATURE_DIM / 255). Digests go through the shared formatter
    (kernels.vec_digest), matching the query's digest UDF."""
    import hashlib

    import numpy as np

    from ..functions.kernels import vec_digest
    from ..operators.multimodal import FEATURE_DIM

    vals = []
    for i in range(MULTIMODAL_ROWS):
        seed = hashlib.md5(f"mm:{i}".encode()).digest()
        modality = ("image", "audio", "video")[seed[0] % 3]
        size = 256 + seed[1] * 7
        rng = np.random.Generator(
            np.random.PCG64(int.from_bytes(seed[:8], "little"))
        )
        payload = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
        d = hashlib.md5(payload).digest()
        base = np.frombuffer(d, dtype=np.uint8).astype(np.float64)
        reps = int(np.ceil(FEATURE_DIM / len(base)))
        vec = np.tile(base, reps)[:FEATURE_DIM] / 255.0
        vals.append(
            f"('mm{i:09d}', '{modality}', {size}, {FEATURE_DIM}, "
            f"'{vec_digest(vec)}')"
        )
    return f"""
    SELECT doc_id, modality, CAST(payload_bytes AS BIGINT) AS payload_bytes,
           CAST(feat_dim AS BIGINT) AS feat_dim, feat_digest
    FROM (VALUES {", ".join(vals)})
         AS t(doc_id, modality, payload_bytes, feat_dim, feat_digest)
    """


_register("q_multimodal_features", q_multimodal_features, _multimodal_features_sql)


def q_salted_agg(spark, sf_dir):
    """Skew-safe two-stage aggregation over the Zipf-skewed source axis:
    results are salt-invariant (identical to a plain groupBy — the oracle
    is the UNSALTED SQL), but no reducer ever sees a whole hot key."""
    from ..operators.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        "l_returnflag",
        {
            "n_rows": ("sum", F.count(F.lit(1))),
            "sum_qty": (
                "sum",
                F.sum(F.col("l_quantity").cast("decimal(18,2)")),
            ),
            "max_price": ("max", F.max(F.col("l_extendedprice").cast("decimal(18,2)"))),
            "min_price": ("min", F.min(F.col("l_extendedprice").cast("decimal(18,2)"))),
        },
        salt_from="l_orderkey",
        salt_buckets=16,
    )
    return out.select(
        "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("max_price").cast("double").alias("max_price"),
        F.col("min_price").cast("double").alias("min_price"),
    )


_register(
    "q_salted_agg",
    q_salted_agg,
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
           CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


def q_asof_forward(spark, sf_dir):
    """Forward (next-event) as-of join: for each click, the EARLIEST
    purchase at or after it per user — the entity-window merge, forward
    direction; DuckDB ASOF with the inequality reversed is the oracle."""
    from ..operators.asof import asof_join

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    return _clicks_asof_out(
        asof_join(clicks, purchases, on="ts", by="user_id", direction="forward")
    )


_register(
    "q_asof_forward",
    q_asof_forward,
    f"""
    WITH {_SQL_CLICKS_PURCHASES}
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '{_TS_FMT_DUCK}') AS ts_s,
           c.click_value, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)


def q_asof_interpolate(spark, sf_dir):
    """N8 linear-interpolation as-of (reference Resample.cxx:83-99 linear
    mode): for each click, purchase value lerped between the bracketing
    purchases; null outside the hull. Oracle = two DuckDB ASOF joins
    (backward + forward) + the same IEEE expression tree."""
    from ..operators.asof import asof_join

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    out = asof_join(
        clicks, purchases, on="ts", by="user_id", direction="interpolate"
    )
    return _clicks_asof_out(out, F.col("purchase_value").alias("purchase_interp"))


_register(
    "q_asof_interpolate",
    q_asof_interpolate,
    f"""
    WITH {_SQL_CLICKS_PURCHASES}
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '{_TS_FMT_DUCK}') AS ts_s,
           c.click_value,
           CASE WHEN b.ts IS NOT NULL AND f.ts IS NOT NULL THEN
             b.purchase_value + (f.purchase_value - b.purchase_value) *
               (CASE WHEN epoch(f.ts) > epoch(b.ts)
                     THEN (epoch(c.ts) - epoch(b.ts)) / (epoch(f.ts) - epoch(b.ts))
                     ELSE 0.0 END)
           END AS purchase_interp
    FROM clicks c
    ASOF LEFT JOIN purchases b ON c.user_id = b.user_id AND c.ts >= b.ts
    ASOF LEFT JOIN purchases f ON c.user_id = f.user_id AND c.ts <= f.ts
    """,
)


def q_asof_auto_bucketed(spark, sf_dir):
    """asof_join_auto with the broadcast cap forced BELOW the right-side
    size: the probe must route to the window merge (the production
    fallback when the stats table outgrows broadcast). The name predates
    the merge. Same oracle as q_asof_join."""
    from ..operators.asof import asof_join_auto

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    out = asof_join_auto(
        clicks, purchases, on="ts", by="user_id", broadcast_max_rows=100,
    )
    # explicit raise, not `assert`: this probe-routing check must survive
    # `python -O` (assertions stripped) — it IS the point of the query
    if out._asof_strategy != "window":
        raise RuntimeError(
            f"auto strategy probe picked {out._asof_strategy!r}, "
            "expected 'window' for a right side above the broadcast cap"
        )
    return _clicks_asof_out(out)


_register("q_asof_auto_bucketed", q_asof_auto_bucketed, _ASOF_BACKWARD_SQL)


def q_asof_broadcast(spark, sf_dir):
    """Broadcast as-of strategy standalone (the flagship's production
    shape: zero left-side shuffle, map-side searchsorted). Same oracle as
    q_asof_join."""
    from ..operators.asof import asof_join_broadcast

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    return _clicks_asof_out(
        asof_join_broadcast(clicks, purchases, on="ts", by="user_id")
    )


_register("q_asof_broadcast", q_asof_broadcast, _ASOF_BACKWARD_SQL)

# The entity-window strategy is asof_join itself, and it also replaced the
# per-partition cogroup strategy: second registered names for q_asof_join
# and its oracle, since callers pin these names.
_register("q_asof_window", q_asof_join, _ASOF_BACKWARD_SQL)
_register("q_asof_cogroup", q_asof_join, _ASOF_BACKWARD_SQL)


def q_checkpoint_ledger(spark, sf_dir):
    """North-rule lineage surface: run a small checkpointed feature job
    (2 source units) into a temp dir, then RESUME it (everything skipped),
    and return the per-partition lineage ledger. Rows-only check — wall
    times are non-deterministic by nature; determinism of the OUTPUT data
    is covered by tests/test_checkpoint.py."""
    import tempfile

    from .. import synth
    from ..operators.features import extract_features
    from . import checkpoint as C

    units = ["src0", "src1"]

    def job(spark_, unit):
        docs = synth.token_table(spark_, 48).where(F.col("source") == unit)
        return extract_features(docs, scales=(1.0,)).select(
            "doc_id", "n_tok", "source", "features"
        )

    with tempfile.TemporaryDirectory() as out:
        first = C.run_checkpointed(spark, out, units, job)
        resume = C.run_checkpointed(spark, out, units, job)
        led = C.read_ledger(spark, out).select(
            "unit", "status", "rows_out", "engine_version"
        )
        assert not resume["ran"], "resume must skip completed units"
        return led.withColumn(
            "first_run_units", F.lit(len(first["ran"])).cast("long")
        )


def _checkpoint_ledger_sql() -> str:
    """VALUES-literal oracle: expected ledger rows derived independently of
    the Spark path — per-unit doc counts recomputed driver-side from the
    deterministic synth generator, engine version from the constant. Wall
    times/fingerprints are excluded (non-deterministic by nature)."""
    from .. import synth
    from . import checkpoint as C

    counts = {"src0": 0, "src1": 0}
    for i in range(48):
        src = synth.doc_meta(i)[2]
        if src in counts:
            counts[src] += 1
    values = ", ".join(
        f"('{u}', 'done', {counts[u]}, '{C.ENGINE_VERSION}', 2)"
        for u in ("src0", "src1")
    )
    return f"""
    SELECT unit, status, CAST(rows_out AS BIGINT) AS rows_out,
           engine_version, CAST(first_run_units AS BIGINT) AS first_run_units
    FROM (VALUES {values})
         AS t(unit, status, rows_out, engine_version, first_run_units)
    """


_register("q_checkpoint_ledger", q_checkpoint_ledger, _checkpoint_ledger_sql())


def q_dedup_jaccard_capped(spark, sf_dir):
    """Jaccard over RARE shingles only (document frequency <= 50): the
    production skew control for the shingle self-join — a shingle shared
    by k docs creates k^2 join rows, so ubiquitous shingles are excluded
    from the metric itself (consistently from numerator AND denominator).
    Exact SQL mirror; word unigrams are usable again under the cap."""
    from ..operators.dedup import hot_shingles, shingles as mk_shingles

    d = _t(spark, sf_dir, "documents")
    sh = mk_shingles(d, n=1)
    # anti-join against the SMALL hot set (df > 50), never a join against
    # the huge rare set — at web scale "rare" is nearly the whole
    # vocabulary while "hot" is a handful of stopword-ish shingles
    sh = sh.join(F.broadcast(hot_shingles(sh, 50)), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= 0.5)
    )
    return out.select("doc_a", "doc_b", "common", "jaccard")


_register(
    "q_dedup_jaccard_capped",
    q_dedup_jaccard_capped,
    f"""
    WITH words AS ({SQL_WORDS}),
    sh0 AS (SELECT DISTINCT doc_id, unnest(w) AS shingle FROM words),
    rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 50),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common,
           common::DOUBLE / (sa.n_sh + sb.n_sh - common)::DOUBLE AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common)::DOUBLE >= 0.5
    """,
)


def q_dedup_minhash_capped(spark, sf_dir):
    """MinHash signatures with the document-frequency cap (df <= 5)
    applied BEFORE hashing: ubiquitous shingles can't dominate signatures
    and the md5 work shrinks. Implemented as a broadcast anti-join
    against the small hot-shingle set."""
    d = _t(spark, sf_dir, "documents")
    return D.minhash_signatures(d, num_hashes=8, max_doc_freq=5)


def _minhash_capped_sql(cap: int = 5) -> str:
    mins = ", ".join(
        f"MIN(({a}*hm + {b}) % {D.MINHASH_PRIME}) AS h{j}"
        for j, (a, b) in enumerate(D.MINHASH_COEFFS[:8])
    )
    return f"""
    WITH words AS ({SQL_WORDS}),
    grams AS ({SQL_GRAMS3}),
    hot AS (SELECT g FROM grams GROUP BY g HAVING count(*) > {cap}),
    kept AS (SELECT doc_id, g FROM grams WHERE g NOT IN (SELECT g FROM hot)),
    h AS (SELECT doc_id, {MD5L.format(x='g')} % {D.MINHASH_PRIME} AS hm FROM kept)
    SELECT doc_id, {mins} FROM h GROUP BY doc_id
    """


_register("q_dedup_minhash_capped", q_dedup_minhash_capped, _minhash_capped_sql())


def q_mode_label_options(spark, sf_dir):
    """A5 with the reference's full option set (ExtractLabels.cxx:190-198):
    'error' rows are ignored entirely; 'purchase' overrides the majority
    when it reaches a 20% share of the non-ignored rows."""
    from ..operators.labels import mode_label

    ev = _t(spark, sf_dir, "events")
    out = mode_label(
        ev, by="user_id", label_col="event_type",
        ignore=("error",), dominant="purchase", dominant_share=0.2,
    )
    return out.select(
        "user_id",
        F.col("mode_label").alias("mode_event"),
        "mode_count",
        "n_considered",
    )


_register(
    "q_mode_label_options",
    q_mode_label_options,
    """
    WITH counts AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events WHERE event_type <> 'error'
      GROUP BY user_id, event_type
    ), ext AS (
      SELECT user_id, event_type, cnt,
             SUM(cnt) OVER (PARTITION BY user_id) AS total,
             SUM(CASE WHEN event_type = 'purchase' THEN cnt ELSE 0 END)
               OVER (PARTITION BY user_id) AS dom_cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type ASC) AS rn
      FROM counts
    )
    SELECT user_id,
           CASE WHEN dom_cnt::DOUBLE / total::DOUBLE >= 0.2
                THEN 'purchase' ELSE event_type END AS mode_event,
           CAST(CASE WHEN dom_cnt::DOUBLE / total::DOUBLE >= 0.2
                     THEN dom_cnt ELSE cnt END AS BIGINT) AS mode_count,
           CAST(total AS BIGINT) AS n_considered
    FROM ext WHERE rn = 1
    """,
)


def q_gaussian_smooth(spark, sf_dir):
    """N3+N4 full semantics: Gaussian-weighted normalized convolution
    along the time axis — error rows are missing (certainty 0) but still
    receive interpolated estimates. Banded self-join physical shape."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    out = W.gaussian_time_smooth(
        ev, by="user_id", ts="ts", value="v", sigma=600.0, cutoff=3.0
    )
    # ROUND to 5 decimals: the weight sums are order-dependent floats
    # (~1e-14 spread) and exp() may differ by 1 ulp between engines; the
    # 5e-6 rounding quantum makes a boundary flip negligible where 6
    # decimals would leave ~1e-4 per-run flip probability over 10k rows
    return out.select(
        "event_id", "user_id", F.round("smoothed", 5).alias("smoothed")
    )


_GS_W = (
    "CASE WHEN vb IS NOT NULL "
    "THEN exp(-((t - tb)*(t - tb))/(2.0*600.0*600.0)) ELSE 0.0 END"
)

_register(
    "q_gaussian_smooth",
    q_gaussian_smooth,
    f"""
    WITH ev AS (
      SELECT event_id, user_id, epoch(ts) AS t,
             CASE WHEN event_type <> 'error' THEN value END AS v
      FROM events
    ), pairs AS (
      SELECT a.event_id, a.user_id, a.t, b.t AS tb, b.v AS vb
      FROM ev a JOIN ev b
        ON a.user_id = b.user_id AND abs(a.t - b.t) <= 1800.0
    )
    SELECT event_id, user_id,
           ROUND(CASE WHEN SUM({_GS_W}) > 0
                 THEN SUM(({_GS_W}) * COALESCE(vb, 0.0)) / SUM({_GS_W})
                 END, 5) AS smoothed
    FROM pairs
    GROUP BY event_id, user_id, t
    """,
)


def q_flagship_parity(spark, sf_dir):
    """P7 invariant promoted to a driver-visible CORRECTNESS row (VERDICT
    r2 #6): the single-stage flagship pipeline (synth + as-of match +
    kernel in ONE mapInArrow pass) must be BIT-IDENTICAL — feature digests
    AND joined point-in-time stats — to the three public operators run as
    three stages here (token_table -> asof_join_broadcast ->
    extract_features, each chain broken by a ``select("*")``). Returns one
    row of counts; any divergence drops a match count and fails the hash."""
    from .. import synth
    from ..operators.asof import asof_join_broadcast
    from ..operators.features import extract_features
    from ..plans.flagship import SCALES, flagship_pipeline, flagship_stats
    from .queries import FLAGSHIP_DOCS, digest_col

    stats = flagship_stats(spark, FLAGSHIP_DOCS)
    docs = synth.token_table(spark, FLAGSHIP_DOCS).select("*")
    joined = asof_join_broadcast(docs, stats, on="ts", by="source").select("*")
    composed = extract_features(joined, scales=SCALES)

    def digested(out, tag: str):
        return out.select(
            "doc_id",
            digest_col(F.col("features")).alias(f"digest_{tag}"),
            F.col("bucket_docs").alias(f"bd_{tag}"),
            F.col("bucket_mean_len").alias(f"bm_{tag}"),
        )

    j = digested(flagship_pipeline(spark, FLAGSHIP_DOCS, stats=stats), "f").join(
        digested(composed, "u"), "doc_id", "full_outer"
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("digest_f") == F.col("digest_u"), 1).otherwise(0)
        ).cast("long").alias("n_digest_match"),
        F.sum(
            F.when(
                F.col("bd_f").eqNullSafe(F.col("bd_u"))
                & F.col("bm_f").eqNullSafe(F.col("bm_u")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_stats_match"),
    )


def _flagship_parity_sql() -> str:
    from .queries import FLAGSHIP_DOCS

    n = FLAGSHIP_DOCS
    return f"""
    SELECT CAST({n} AS BIGINT) AS n_docs,
           CAST({n} AS BIGINT) AS n_digest_match,
           CAST({n} AS BIGINT) AS n_stats_match
    """


_register("q_flagship_parity", q_flagship_parity, _flagship_parity_sql)


def q_asof_cubic(spark, sf_dir):
    """N8 cubic-interpolation as-of: the reference's DEFAULT interpolator
    is a 3rd-order spline (tools/ExtractWindow.cxx:134-141); here the
    non-uniform Catmull-Rom (cubic Hermite, chordal central-difference
    tangents) over the 4-point stencil around each click, null short of
    the full stencil. Oracle = LAG/LEAD over purchases + two DuckDB ASOF
    joins + the same IEEE expression tree (asof._cubic_eval)."""
    from ..operators.asof import asof_join_broadcast

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    out = asof_join_broadcast(
        clicks, purchases, on="ts", by="user_id", direction="cubic"
    )
    return _clicks_asof_out(out, F.col("purchase_value").alias("purchase_cubic"))


# The SELECT expressions mirror asof._cubic_eval TERM FOR TERM (same
# association order) so both engines produce IEEE-identical doubles;
# DuckDB's WINDOW clause + two ASOF joins assemble the 4-point stencil.
_ASOF_CUBIC_SQL = f"""
    WITH {_SQL_CLICKS_PURCHASES},
    p2 AS (
      SELECT user_id, ts, purchase_value,
             LAG(ts) OVER w AS ts_prev, LAG(purchase_value) OVER w AS v_prev,
             LEAD(ts) OVER w AS ts_next, LEAD(purchase_value) OVER w AS v_next
      FROM purchases
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    j AS (
      SELECT c.event_id, c.user_id, c.ts, c.click_value,
             epoch(c.ts) AS t,
             epoch(b.ts_prev) AS t0, b.v_prev AS y0,
             epoch(b.ts) AS t1, b.purchase_value AS y1,
             epoch(f.ts) AS t2, f.purchase_value AS y2,
             epoch(f.ts_next) AS t3, f.v_next AS y3
      FROM clicks c
      ASOF LEFT JOIN p2 b ON c.user_id = b.user_id AND c.ts >= b.ts
      ASOF LEFT JOIN p2 f ON c.user_id = f.user_id AND c.ts <= f.ts
    ),
    k AS (
      SELECT *, t2 - t1 AS h,
             (t - t1) / (CASE WHEN t2 - t1 > 0 THEN t2 - t1 ELSE 1.0 END) AS s,
             t2 - t0 AS dt20, t3 - t1 AS dt31
      FROM j
    ),
    m AS (
      SELECT *, s*s AS s2, (s*s)*s AS s3,
             CASE WHEN dt20 > 0 THEN (y2 - y0) / dt20 ELSE 0.0 END AS m1,
             CASE WHEN dt31 > 0 THEN (y3 - y1) / dt31 ELSE 0.0 END AS m2
      FROM k
    )
    SELECT event_id, user_id, strftime(ts, '{_TS_FMT_DUCK}') AS ts_s,
           click_value,
           CASE WHEN t0 IS NOT NULL AND t3 IS NOT NULL THEN
             CASE WHEN h > 0 THEN
               (2.0*s3 - 3.0*s2 + 1.0) * y1
               + ((s3 - 2.0*s2 + s) * h) * m1
               + (-2.0*s3 + 3.0*s2) * y2
               + ((s3 - s2) * h) * m2
             ELSE y1 END
           END AS purchase_cubic
    FROM m
"""


_register("q_asof_cubic", q_asof_cubic, _ASOF_CUBIC_SQL)


# ---------------------------------------------------------------------------
# Sequence assembly (training-sequence packing + chunking)
# ---------------------------------------------------------------------------

PACK_CAPACITY = 256

# the split expression is the shared words_of/SQL_WORDS tokenization
# contract (dedup.words_of docstring) — SQL_WORDS itself projects only
# (doc_id, w), and the tape also needs source, hence the inline twin;
# change them in lockstep
_SQL_PACK_TAPE = r"""
    w AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_words
      FROM documents
    ),
    tape AS (
      SELECT doc_id, source, n_words,
             (SUM(n_words) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_words)::BIGINT
               AS tape_start
      FROM w
    )"""


def q_pack_sequences(spark, sf_dir):
    """Training-pack assignment by tape packing (one window, integer
    arithmetic, deterministic under any partitioning): per-doc
    (tape_start, pack_id, pack_offset) at capacity 256 words per pack."""
    from ..operators.dedup import words_of
    from ..operators.sequences import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(words_of(F.col("text"))).cast("long").alias("n_words"),
    )
    out = pack_sequences(
        d, capacity=PACK_CAPACITY, by="source", len_col="n_words",
        order_col="doc_id",
    )
    return out.select(
        "doc_id", "source", "n_words", "tape_start", "pack_id", "pack_offset"
    )


_register(
    "q_pack_sequences",
    q_pack_sequences,
    f"""
    WITH {_SQL_PACK_TAPE}
    SELECT doc_id, source, n_words, tape_start,
           (tape_start // {PACK_CAPACITY})::BIGINT AS pack_id,
           (tape_start % {PACK_CAPACITY})::BIGINT AS pack_offset
    FROM tape
    """,
)


def q_pack_stats(spark, sf_dir):
    """Per-pack assembly stats (docs, tokens, utilization — exact /256
    division, power-of-two so the double is exact in both engines)."""
    from ..operators.dedup import words_of
    from ..operators.sequences import pack_sequences, pack_stats

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(words_of(F.col("text"))).cast("long").alias("n_words"),
    )
    packed = pack_sequences(
        d, capacity=PACK_CAPACITY, by="source", len_col="n_words",
        order_col="doc_id",
    )
    out = pack_stats(
        packed, capacity=PACK_CAPACITY, by="source", len_col="n_words",
        order_col="doc_id",
    )
    return out.select(
        "source", "pack_id", "n_docs",
        F.col("pack_tokens").alias("pack_words"),
        "first_doc", "last_doc", "utilization",
    )


_register(
    "q_pack_stats",
    q_pack_stats,
    f"""
    WITH {_SQL_PACK_TAPE},
    p AS (
      SELECT doc_id, source, n_words,
             (tape_start // {PACK_CAPACITY})::BIGINT AS pack_id
      FROM tape
    )
    SELECT source, pack_id, COUNT(*)::BIGINT AS n_docs,
           SUM(n_words)::BIGINT AS pack_words,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
           SUM(n_words)::DOUBLE / {float(PACK_CAPACITY)} AS utilization
    FROM p GROUP BY source, pack_id
    """,
)


CHUNK_WORDS = 64
CHUNK_STRIDE = 48


def q_chunk_text(spark, sf_dir):
    """Overlapping word-window chunking (64-word windows every 48 words):
    pure Catalyst sequence+slice+explode, md5 chunk digests (string md5 —
    engine-portable, no float formatting)."""
    from ..operators.sequences import chunk_text

    d = _t(spark, sf_dir, "documents")
    out = chunk_text(d, chunk_words=CHUNK_WORDS, stride_words=CHUNK_STRIDE)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        "chunk_n_words",
        "chunk_digest",
    )


_register(
    "q_chunk_text",
    q_chunk_text,
    rf"""
    WITH words AS ({SQL_WORDS}),
    starts AS (
      SELECT doc_id, w,
             UNNEST(generate_series(0, len(w) - 1, {CHUNK_STRIDE})) AS cs
      FROM words WHERE len(w) > 0
    )
    SELECT doc_id, (cs // {CHUNK_STRIDE})::BIGINT AS chunk_idx,
           cs::BIGINT AS chunk_start,
           len(w[cs + 1 : cs + {CHUNK_WORDS}])::BIGINT AS chunk_n_words,
           md5(array_to_string(w[cs + 1 : cs + {CHUNK_WORDS}], ' ')) AS chunk_digest
    FROM starts
    """,
)


# ---------------------------------------------------------------------------
# IVF ANN (k-means coarse quantizer) — the trained scale path next to LSH
# ---------------------------------------------------------------------------

IVF_N, IVF_DIM = 400, 16
IVF_LISTS, IVF_PROBE, IVF_K, IVF_ITERS = 16, 4, 5, 8


def q_knn_ivf(spark, sf_dir):
    """IVF approximate top-k over the deterministic synthetic embedding
    table: spherical k-means lists (driver-trained on the bounded
    hash-ordered sample), narrow matmul assignment, n_probe-list candidate
    join, exact cosine rescore. Oracle = the SAME pipeline replayed in
    pure numpy (shared _kmeans_np/_row_cosine, independent assignment/
    probe/top-k derivation) emitted as a VALUES literal."""
    from .. import synth
    from ..operators.similarity import ivf_topk

    corpus = synth.embedding_table(spark, IVF_N, IVF_DIM)
    queries = corpus.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(
        corpus, queries, k=IVF_K, n_lists=IVF_LISTS, n_probe=IVF_PROBE,
        sample_cap=IVF_N, iters=IVF_ITERS,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cosine",
    )


def _round_half_up6(v: float) -> float:
    """Replicate Spark's ROUND(double, 6): shortest-repr decimal value,
    HALF_UP at the 6th decimal (Python's round() is half-even and would
    diverge on exact .5 ties)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(v))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def _knn_ivf_sql() -> str:
    import hashlib

    import numpy as np

    from .. import synth
    from ..operators.similarity import _kmeans_np, _row_cosine

    pdf = synth.embedding_table_pandas(IVF_N, IVF_DIM)
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["embedding"].to_list())
    order = sorted(
        range(len(ids)),
        key=lambda i: (
            hashlib.md5(f"ivfsample:{ids[i]}".encode()).hexdigest(),
            ids[i],
        ),
    )
    C = _kmeans_np(M[order], IVF_LISTS, IVF_ITERS)
    assign = np.argmax(M @ C.T, axis=1)
    vals = []
    for qi in range(0, IVF_N, 40):
        qv = M[qi]
        sims_c = np.stack([qv]) @ C.T
        probe = np.argsort(-sims_c, axis=1, kind="stable")[0, :IVF_PROBE]
        cand = np.flatnonzero(np.isin(assign, probe))
        cand = cand[cand != qi]
        cos = _row_cosine(np.repeat(qv[None, :], len(cand), axis=0), M[cand])
        top = sorted(zip(cos, ids[cand]), key=lambda t: (-t[0], t[1]))[:IVF_K]
        for rank, (cv, nid) in enumerate(top, start=1):
            vals.append(
                f"({int(ids[qi])}, {rank}, {int(nid)}, "
                f"CAST({_round_half_up6(cv)!r} AS DOUBLE))"
            )
    return f"""
    SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
           CAST(neighbor_id AS BIGINT) AS neighbor_id, cosine
    FROM (VALUES {", ".join(vals)})
         AS t(query_id, rank, neighbor_id, cosine)
    """


_register("q_knn_ivf", q_knn_ivf, _knn_ivf_sql)


# ---------------------------------------------------------------------------
# Corpus curation: repetition signals, decontamination, splits, temperature
# sampling, PII scrubbing, token-level n-gram novelty (operators/curation.py)
# ---------------------------------------------------------------------------

from ..operators import curation as CU  # noqa: E402


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals over word bigrams: duplicate-gram
    fraction + top-gram character fraction per doc."""
    d = _t(spark, sf_dir, "documents")
    return CU.repetition_stats(d, n=2)


_register(
    "q_repetition",
    q_repetition,
    r"""
    WITH words AS (
      SELECT doc_id, length(text) AS nc,
             regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, nc, w[i] || ' ' || w[i+1] AS g
      FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 2
    ),
    cnt AS (SELECT doc_id, nc, g, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
      FROM cnt
    ),
    agg AS (
      SELECT doc_id, nc, SUM(c) AS tot, COUNT(*) AS dst,
             MAX(CASE WHEN rn = 1 THEN g END) AS top_g,
             MAX(CASE WHEN rn = 1 THEN c END) AS top_c
      FROM ranked GROUP BY 1, 2
    )
    SELECT w.doc_id,
           COALESCE(tot, 0)::BIGINT AS n_grams_total,
           COALESCE(dst, 0)::BIGINT AS n_grams_distinct,
           ROUND(1.0 - dst::DOUBLE / tot::DOUBLE, 6) AS dup_gram_frac,
           top_g AS top_gram,
           COALESCE(top_c, 0)::BIGINT AS top_gram_count,
           ROUND((top_c * length(top_g))::DOUBLE / w.nc::DOUBLE, 6)
             AS top_gram_char_frac
    FROM words w LEFT JOIN agg ON agg.doc_id = w.doc_id
    """,
)


DECONTAM_N, DECONTAM_MOD = 5, 20


def q_decontaminate(spark, sf_dir):
    """Eval-set decontamination: per non-eval doc, 5-gram overlap with the
    deterministic ~5% eval subset (broadcast of the small eval gram set)."""
    d = _t(spark, sf_dir, "documents")
    return CU.decontaminate(d, n=DECONTAM_N, eval_mod=DECONTAM_MOD)


_register(
    "q_decontaminate",
    q_decontaminate,
    f"""
    WITH words AS ({SQL_WORDS}),
    marked AS (
      SELECT doc_id, w,
             ({MD5L.format(x="doc_id || ':eval'")} % {DECONTAM_MOD} = 0) AS ev
      FROM words
    ),
    grams5 AS (
      SELECT DISTINCT doc_id, ev,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                  || ' ' || w[i+4] AS g
      FROM marked, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
      WHERE len(w) >= 5
    ),
    ev_g AS (SELECT DISTINCT g FROM grams5 WHERE ev),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_grams,
             SUM(CASE WHEN g IN (SELECT g FROM ev_g) THEN 1 ELSE 0 END)
               AS n_cont
      FROM grams5 WHERE NOT ev GROUP BY doc_id
    )
    SELECT m.doc_id,
           COALESCE(n_grams, 0)::BIGINT AS n_grams,
           COALESCE(n_cont, 0)::BIGINT AS n_contaminated,
           ROUND(n_cont::DOUBLE / n_grams::DOUBLE, 6) AS contam_frac,
           COALESCE(n_cont, 0) > 0 AS is_contaminated
    FROM marked m LEFT JOIN agg ON agg.doc_id = m.doc_id
    WHERE NOT m.ev
    """,
)


def _split_case_sql(bucket_col: str = "b") -> str:
    """CASE expression mirroring curation.DEFAULT_SPLITS — generated from
    the same constant the operator uses, so oracle and operator cannot
    drift on the thresholds."""
    clauses = " ".join(
        f"WHEN {bucket_col} < {cum} THEN '{label}'"
        for label, cum in CU.DEFAULT_SPLITS[:-1]
    )
    return f"CASE {clauses} ELSE '{CU.DEFAULT_SPLITS[-1][0]}' END"


def q_hash_split(spark, sf_dir):
    """Deterministic hash-bucket train/val/test split (90/5/5): stable
    under corpus growth, reproducible across engines."""
    d = _t(spark, sf_dir, "documents")
    out = CU.hash_split(d)
    return out.select("doc_id", "source", "split_bucket", "split")


_register(
    "q_hash_split",
    q_hash_split,
    f"""
    SELECT doc_id, source, b::BIGINT AS split_bucket,
           {_split_case_sql()} AS split
    FROM (
      SELECT doc_id, source,
             {MD5L.format(x="doc_id || ':split'")} % {CU.HASH_SPLIT_BUCKETS} AS b
      FROM documents
    )
    """,
)


HOLDOUT_FRAC = 0.2


def q_temporal_holdout(spark, sf_dir):
    """Per-entity temporal holdout: the last floor(0.2 * n) events of
    each user become 'valid' — the within-entity time-axis complement of
    q_hash_split's document-level assignment. Integer rank arithmetic,
    engine-exact."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = CU.temporal_holdout(
        ev, by="user_id", ts="ts", id_col="event_id", valid_frac=HOLDOUT_FRAC
    )
    return out.select(
        "event_id", "user_id", "holdout_rn", "holdout_n", "split"
    )


_register(
    "q_temporal_holdout",
    q_temporal_holdout,
    f"""
    SELECT event_id, user_id, holdout_rn, holdout_n,
           CASE WHEN holdout_rn > holdout_n
                     - CAST(FLOOR({HOLDOUT_FRAC!r} * holdout_n::DOUBLE) AS BIGINT)
                THEN 'valid' ELSE 'train' END AS split
    FROM (
      SELECT event_id, user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id)
               AS holdout_rn,
             COUNT(*) OVER (PARTITION BY user_id) AS holdout_n
      FROM events
    )
    """,
)


def q_temperature_sample(spark, sf_dir):
    """Source temperature sampling at alpha=0.5: keep_prob =
    sqrt(c_min/c_s) per source, deterministic hash coin per doc. The kept
    flag compares UNROUNDED doubles built from identical IEEE expression
    trees on both engines."""
    d = _t(spark, sf_dir, "documents")
    return CU.source_temperature_sample(d)


_register(
    "q_temperature_sample",
    q_temperature_sample,
    f"""
    WITH c AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
    m AS (SELECT MIN(c) AS cmin FROM c),
    w AS (SELECT source, c, sqrt(cmin::DOUBLE / c::DOUBLE) AS kp FROM c, m)
    SELECT d.doc_id, d.source, w.c::BIGINT AS n_source_docs,
           ROUND(kp, 6) AS keep_prob,
           (({MD5L.format(x="d.doc_id || ':tsample'")} % 1000000)::DOUBLE
             / 1000000.0) < kp AS kept
    FROM documents d JOIN w USING (source)
    """,
)


def q_scrub_pii(spark, sf_dir):
    """PII scrubbing: the corpus text is synthetic words with no PII, so
    the query injects a deterministic email / IPv4 / phone per doc
    (derived from md5(doc_id), identically in both engines) and then
    scrubs them back out — exercising match, replace, and count on
    content the oracle can reproduce exactly."""
    d = _t(spark, sf_dir, "documents")
    h = D.md5_long(F.col("doc_id").cast("string"))
    aug = F.concat(
        F.col("text"),
        F.lit(" contact "), F.col("doc_id").cast("string"),
        F.lit("@example.com via 10.20."),
        (h % 256).cast("string"), F.lit("."),
        (F.shiftright(h, 8) % 256).cast("string"),
        F.lit(" ext 555-01"), F.lpad((h % 100).cast("string"), 2, "0"),
    )
    return CU.scrub_pii(d.withColumn("text", aug))


def _scrub_pii_sql() -> str:
    md5h = MD5L.format(x="doc_id::VARCHAR")
    email, ipv4, phone = CU.PII_EMAIL, CU.PII_IPV4, CU.PII_PHONE
    return (
        """
    WITH aug AS (
      SELECT doc_id,
             text || ' contact ' || doc_id || '@example.com via 10.20.'
                  || (h % 256)::VARCHAR || '.' || ((h >> 8) % 256)::VARCHAR
                  || ' ext 555-01' || lpad((h % 100)::VARCHAR, 2, '0') AS t
      FROM (SELECT doc_id, text, """ + md5h + """ AS h FROM documents)
    ),
    s1 AS (
      SELECT doc_id, len(regexp_extract_all(t, '""" + email + """')) AS n_emails,
             regexp_replace(t, '""" + email + """', '<EMAIL>', 'g') AS t
      FROM aug
    ),
    s2 AS (
      SELECT doc_id, n_emails,
             len(regexp_extract_all(t, '""" + ipv4 + """')) AS n_ipv4,
             regexp_replace(t, '""" + ipv4 + """', '<IP>', 'g') AS t
      FROM s1
    )
    SELECT doc_id, n_emails::BIGINT AS n_emails, n_ipv4::BIGINT AS n_ipv4,
           len(regexp_extract_all(t, '""" + phone + """'))::BIGINT AS n_phones,
           regexp_replace(t, '""" + phone + """', '<PHONE>', 'g') AS clean_text
    FROM s2
    """
    )


_register("q_scrub_pii", q_scrub_pii, _scrub_pii_sql)


NOVELTY_DOCS, NOVELTY_N = 128, 4


def q_token_novelty(spark, sf_dir):
    """Token-level n-gram novelty over the pre-tokenized sequence table
    (the signal behind suffix-array-style training-data dedup): fraction
    of each doc's distinct token 4-grams first owned by that doc. Oracle
    = VALUES literal from an independent pure-Python replay over the same
    deterministic synth model (q_checkpoint_ledger pattern)."""
    from .. import synth

    df = synth.token_table(spark, NOVELTY_DOCS)
    return CU.token_ngram_novelty(df, n=NOVELTY_N)


def _token_novelty_sql() -> str:
    from .. import synth

    # dedup and ownership by the gram STRING itself, exactly like the
    # operator — a hash-keyed replay would miscount on hash collisions
    per_doc = []
    owner: dict = {}
    for i in range(NOVELTY_DOCS):
        r = synth.doc_row(i)
        toks = [int(t) for t in r["tokens"]]
        gs = set()
        for j in range(len(toks) - (NOVELTY_N - 1)):
            gs.add(",".join(str(t) for t in toks[j : j + NOVELTY_N]))
        per_doc.append((r["doc_id"], gs))
        for gh in gs:
            if gh not in owner or r["doc_id"] < owner[gh]:
                owner[gh] = r["doc_id"]
    vals = []
    for doc_id, gs in per_doc:
        n = len(gs)
        nov = sum(1 for gh in gs if owner[gh] == doc_id)
        frac = "CAST(NULL AS DOUBLE)" if n == 0 else (
            f"CAST({_round_half_up6(nov / n)!r} AS DOUBLE)"
        )
        vals.append(f"('{doc_id}', {n}, {nov}, {frac})")
    return f"""
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_novel AS BIGINT) AS n_novel, novelty_frac
    FROM (VALUES {", ".join(vals)})
         AS t(doc_id, n_grams, n_novel, novelty_frac)
    """


_register("q_token_novelty", q_token_novelty, _token_novelty_sql)


def q_quality_filter(spark, sf_dir):
    """Composite corpus filter verdict: word-count, mean-word-length,
    stopword-ratio, duplicate-bigram and top-bigram rules folded into a
    reason bitmask + keep flag per doc."""
    d = _t(spark, sf_dir, "documents")
    return CU.quality_filter(d)


def _quality_mask_ctes() -> str:
    """Shared CTE body computing the per-doc fail_mask — used by the
    quality-filter oracle and composed into the corpus-mix oracle so the
    two cannot drift."""
    stop_list = ", ".join(f"'{s}'" for s in T.QUALITY_STOPWORDS)
    return rf"""words AS (
      SELECT doc_id, length(text) AS nc,
             regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS g
      FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 2
    ),
    cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
      FROM cnt
    ),
    agg AS (
      SELECT doc_id, SUM(c) AS tot, COUNT(*) AS dst,
             MAX(CASE WHEN rn = 1 THEN g END) AS top_g,
             MAX(CASE WHEN rn = 1 THEN c END) AS top_c
      FROM ranked GROUP BY 1
    ),
    j AS (
      SELECT s.doc_id, len(s.w) AS nw,
             list_sum(list_transform(s.w, x -> length(x)))::DOUBLE
               / len(s.w)::DOUBLE AS mwl,
             len(list_filter(s.w, x -> list_contains([{stop_list}], x)))::DOUBLE
               / len(s.w)::DOUBLE AS sr,
             a.tot, a.dst,
             ROUND((a.top_c * length(a.top_g))::DOUBLE / s.nc::DOUBLE, 6)
               AS topfrac
      FROM words s LEFT JOIN agg a ON a.doc_id = s.doc_id
    ),
    mask AS (
      SELECT doc_id,
             (CASE WHEN nw < {CU.FILTER_MIN_WORDS}
                     OR nw > {CU.FILTER_MAX_WORDS} THEN 1 ELSE 0 END)
           + (CASE WHEN mwl < {CU.FILTER_MIN_MEAN_WLEN!r}
                     OR mwl > {CU.FILTER_MAX_MEAN_WLEN!r} THEN 2 ELSE 0 END)
           + (CASE WHEN sr < {CU.FILTER_MIN_STOP_RATIO!r} THEN 4 ELSE 0 END)
           + (CASE WHEN COALESCE(tot, 0) > 0
                     AND (1.0 - dst::DOUBLE / tot::DOUBLE)
                         > {CU.FILTER_MAX_DUP_FRAC!r} THEN 8 ELSE 0 END)
           + (CASE WHEN topfrac > {CU.FILTER_MAX_TOP_FRAC!r}
                   THEN 16 ELSE 0 END) AS fail_mask
      FROM j
    )"""


def _quality_filter_sql() -> str:
    return f"""
    WITH {_quality_mask_ctes()}
    SELECT doc_id, fail_mask::BIGINT AS fail_mask,
           (fail_mask = 0) AS kept
    FROM mask
    """


_register("q_quality_filter", q_quality_filter, _quality_filter_sql)


def q_corpus_mix(spark, sf_dir):
    """Corpus-mix manifest: per (split, source) doc counts, survivors of
    temperature sampling + quality filtering, and surviving char mass."""
    d = _t(spark, sf_dir, "documents")
    return CU.corpus_mix_report(d)


def _corpus_mix_sql() -> str:
    return f"""
    WITH {_quality_mask_ctes()},
    hs AS (
      SELECT doc_id, source, n_chars,
             {_split_case_sql()} AS split
      FROM (
        SELECT doc_id, source, n_chars,
               {MD5L.format(x="doc_id || ':split'")} % {CU.HASH_SPLIT_BUCKETS} AS b
        FROM documents
      )
    ),
    c AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
    mn AS (SELECT MIN(c) AS cmin FROM c),
    wts AS (SELECT source, sqrt(cmin::DOUBLE / c::DOUBLE) AS kp FROM c, mn),
    ts AS (
      SELECT d.doc_id,
             (({MD5L.format(x="d.doc_id || ':tsample'")} % 1000000)::DOUBLE
               / 1000000.0) < kp AS ts_kept
      FROM documents d JOIN wts USING (source)
    )
    SELECT hs.split, hs.source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN ts_kept AND fail_mask = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_kept,
           SUM(CASE WHEN ts_kept AND fail_mask = 0 THEN hs.n_chars
                    ELSE 0 END)::BIGINT AS kept_chars
    FROM hs
    JOIN ts ON ts.doc_id = hs.doc_id
    JOIN mask ON mask.doc_id = hs.doc_id
    GROUP BY hs.split, hs.source
    """


_register("q_corpus_mix", q_corpus_mix, _corpus_mix_sql)


VOCAB_STATS_DOCS = 128


def q_token_vocab_stats(spark, sf_dir):
    """Per-source token-distribution report (vocab coverage, top token)
    over the deterministic pre-tokenized sequence table. Oracle = VALUES
    literal from an independent pure-Python replay (q_checkpoint_ledger
    pattern)."""
    from .. import synth

    df = synth.token_table(spark, VOCAB_STATS_DOCS)
    return CU.token_vocab_stats(df, vocab_size=synth.VOCAB)


def _token_vocab_stats_sql() -> str:
    from collections import Counter, defaultdict

    from .. import synth

    counts: dict = defaultdict(Counter)
    docs: dict = Counter()
    for i in range(VOCAB_STATS_DOCS):
        r = synth.doc_row(i)
        src = r["source"]
        docs[src] += 1
        counts[src].update(int(t) for t in r["tokens"])
    vals = []
    for src in sorted(docs):
        c = counts[src]
        n_tokens = sum(c.values())
        n_distinct = len(c)
        top_tok, top_c = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        cov = _round_half_up6(n_distinct / float(synth.VOCAB))
        vals.append(
            f"('{src}', {docs[src]}, {n_tokens}, {n_distinct}, "
            f"CAST({cov!r} AS DOUBLE), {top_tok}, {top_c})"
        )
    return f"""
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens,
           vocab_coverage,
           CAST(top_token AS BIGINT) AS top_token,
           CAST(top_token_count AS BIGINT) AS top_token_count
    FROM (VALUES {", ".join(vals)})
         AS t(source, n_docs, n_tokens, n_distinct_tokens,
              vocab_coverage, top_token, top_token_count)
    """


_register("q_token_vocab_stats", q_token_vocab_stats, _token_vocab_stats_sql)

# ---------------------------------------------------------------------------
# Leakage-free feature encoders (operators/encode.py): expanding z-score
# and time-aware target encoding
# ---------------------------------------------------------------------------

from ..operators import encode as EN  # noqa: E402


def q_expanding_zscore(spark, sf_dir):
    """Per-entity expanding z-score of `value` against strictly-preceding
    history (same-timestamp peers excluded; MakeBag.cxx:429-447 normalizes
    frequencies by a total — here the total is the entity's OWN PAST so
    the feature is leakage-free). Single window exchange."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = EN.expanding_zscore(ev, by="user_id", ts="ts", value="value")
    return out.select(
        "event_id", "user_id", "z_n_prev", "z_mean_prev", "z_var_prev", "z_score"
    )


# NULL-ts rows contribute nothing to any row's history (they may be
# future data) and get NULL features — mirrored from expanding_zscore's
# leakage rule by gating every windowed input on a known event time.
_ZS_VAL = "CASE WHEN e IS NOT NULL THEN value END"
_ZS_DEC = f"CAST({_ZS_VAL} AS DECIMAL(18,2))"
_ZS_SQ = f"CAST({_ZS_DEC} * {_ZS_DEC} AS DECIMAL(38,4))"
_ZS_MEAN = "CAST(sum_prev AS DOUBLE) / CAST(z_n_prev AS DOUBLE)"

# Shared by q_expanding_zscore and q_feature_assembly (embedded there as a
# subquery) so the encoder's oracle expression tree exists exactly once.
_ZS_ORACLE_CORE = f"""
    WITH d AS (
      SELECT event_id, user_id, value, epoch(ts) AS e FROM events
    ),
    w AS (
      SELECT event_id, user_id, value,
             CASE WHEN e IS NOT NULL
                  THEN COUNT({_ZS_VAL}) OVER incl - COUNT({_ZS_VAL}) OVER peer
             END AS z_n_prev,
             CAST(COALESCE(SUM({_ZS_DEC}) OVER incl, 0) AS DECIMAL(38,2))
               - CAST(COALESCE(SUM({_ZS_DEC}) OVER peer, 0) AS DECIMAL(38,2)) AS sum_prev,
             CAST(COALESCE(SUM({_ZS_SQ}) OVER incl, 0) AS DECIMAL(38,4))
               - CAST(COALESCE(SUM({_ZS_SQ}) OVER peer, 0) AS DECIMAL(38,4)) AS sumsq_prev
      FROM d
      WINDOW incl AS (PARTITION BY user_id ORDER BY e ASC NULLS FIRST
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             peer AS (PARTITION BY user_id ORDER BY e ASC NULLS FIRST
                      RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
    )
    SELECT event_id, user_id, z_n_prev,
           CASE WHEN z_n_prev >= 1 THEN {_ZS_MEAN} END AS z_mean_prev,
           CASE WHEN z_n_prev >= 2
                THEN CAST(sumsq_prev AS DOUBLE) / CAST(z_n_prev AS DOUBLE)
                     - ({_ZS_MEAN}) * ({_ZS_MEAN})
           END AS z_var_prev,
           CASE WHEN (CASE WHEN z_n_prev >= 2
                           THEN CAST(sumsq_prev AS DOUBLE) / CAST(z_n_prev AS DOUBLE)
                                - ({_ZS_MEAN}) * ({_ZS_MEAN}) END) > 0
                THEN (CAST(value AS DOUBLE) - {_ZS_MEAN})
                     / sqrt(CAST(sumsq_prev AS DOUBLE) / CAST(z_n_prev AS DOUBLE)
                            - ({_ZS_MEAN}) * ({_ZS_MEAN}))
           END AS z_score
    FROM w
"""

_register(
    "q_expanding_zscore",
    q_expanding_zscore,
    _ZS_ORACLE_CORE,
)


TE_BUCKET_SEC = 3600.0


def q_target_encode(spark, sf_dir):
    """Time-aware target encoding of event_type by `value` over
    strictly-previous hourly buckets (within-bucket leakage excluded;
    Bayesian-smoothed toward the shared prior). The corpus never
    shuffles on the 4-value category key: decimal partials per
    (category, bucket) -> tiny cumulative window -> equi-join back."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    out = EN.target_encode(
        ev, by="event_type", ts="ts", label="value", time_bucket=TE_BUCKET_SEC
    )
    return out.select(
        "event_id", "event_type", "te_bucket", "te_n_prev", "te_mean_prev", "te_enc"
    )


_register(
    "q_target_encode",
    q_target_encode,
    EN.target_encode_oracle_sql(
        table="events",
        by="event_type",
        ts="ts",
        label="value",
        time_bucket=TE_BUCKET_SEC,
        select_cols="d.event_id, d.event_type, d.te_bucket",
    ),
)


LAG_SNAPSHOTS = (("1 HOUR", "1h"), ("24 HOURS", "24h"))


def q_asof_lagged_snapshots(spark, sf_dir):
    """Time-travel feature lookups: for each click, the latest purchase
    value as of (t - 1h) and as of (t - 24h) — the delayed-snapshot
    shape feature stores use when labels/features arrive late and the
    freshest state must NOT be visible at serving time. Implemented as
    as-of joins on interval-shifted probe timestamps; each lag reuses
    the entity-window merge unchanged."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
    )
    out = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    for iv, tag in LAG_SNAPSHOTS:
        probe = (
            out.withColumnRenamed("ts", "_ts_orig")
            .withColumn("ts", F.expr(f"_ts_orig - INTERVAL {iv}"))
        )
        out = asof_join(
            probe,
            purchases.withColumnRenamed("pv", f"pv_{tag}"),
            on="ts",
            by="user_id",
        ).select(
            "event_id", "user_id", F.col("_ts_orig").alias("ts"),
            *[c for c in probe.columns if c.startswith("pv_")],
            f"pv_{tag}",
        )
    return out.select(
        "event_id", "user_id",
        *[f"pv_{tag}" for _, tag in LAG_SNAPSHOTS],
    )


_register(
    "q_asof_lagged_snapshots",
    q_asof_lagged_snapshots,
    """
    WITH purchases AS (
      SELECT user_id, ts, MAX(value) AS pv
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    ),
    clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    l1 AS (
      SELECT c.event_id, c.user_id, c.ts, p.pv AS pv_1h
      FROM clicks c
      ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND p.ts <= c.ts - INTERVAL 1 HOUR
    )
    SELECT l1.event_id, l1.user_id, l1.pv_1h, p.pv AS pv_24h
    FROM l1
    ASOF LEFT JOIN purchases p
      ON l1.user_id = p.user_id AND p.ts <= l1.ts - INTERVAL 24 HOURS
    """,
)


def q_frequency_encode(spark, sf_dir):
    """Leakage-free count encoding of (user, event_type): strictly-earlier
    occurrences of the same pair. Integer window arithmetic, engine-exact,
    one exchange."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    out = EN.frequency_encode(ev, by=["user_id", "event_type"], ts="ts")
    return out.select("event_id", "user_id", "event_type", "fe_n_prev")


_register(
    "q_frequency_encode",
    q_frequency_encode,
    """
    SELECT event_id, user_id, event_type,
           CASE WHEN e IS NOT NULL
                THEN COUNT(CASE WHEN e IS NOT NULL THEN 1 END) OVER incl
                     - COUNT(CASE WHEN e IS NOT NULL THEN 1 END) OVER peer
           END AS fe_n_prev
    FROM (SELECT event_id, user_id, event_type, epoch(ts) AS e FROM events)
    WINDOW incl AS (PARTITION BY user_id, event_type ORDER BY e ASC NULLS FIRST
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         peer AS (PARTITION BY user_id, event_type ORDER BY e ASC NULLS FIRST
                  RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
    """,
)


DECAY_BUCKET_SEC = 21600.0  # 6-hour half-life buckets over the 30-day table


def q_decayed_features(spark, sf_dir):
    """Exponentially time-decayed per-entity activity (decayed sum +
    count of strictly-earlier events, one half-life per 6-hour bucket) —
    the feature-store recency counter, leakage-free like the other
    encoders. Dyadic 2^-k weights keep every intermediate exactly
    representable, so the DuckDB hash matches bit-for-bit without
    pinning either engine's accumulation order."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = EN.decayed_features(
        ev, by="user_id", ts="ts", value="value", bucket_seconds=DECAY_BUCKET_SEC
    )
    return out.select("event_id", "user_id", "decay_sum", "decay_cnt")


_register(
    "q_decayed_features",
    q_decayed_features,
    EN.decayed_oracle_sql(
        table="events",
        by="user_id",
        ts="ts",
        value="value",
        select_cols="w.event_id, w.user_id",
        bucket_seconds=DECAY_BUCKET_SEC,
    ),
)


def q_feature_assembly(spark, sf_dir):
    """Feature-store point-in-time assembly — the north-rule deliverable
    in one query: for every click, the leakage-free feature vector at
    that entity x timestamp, combining (a) the latest purchase at or
    before the click (as-of join), (b) the expanding z-score of the
    user's strictly-earlier values, and (c) the decayed recency
    counters. Every component is computed over the FULL event stream
    (history includes all event types) and the click rows are projected
    afterward. The composed form pays one exchange per component (the
    windows key on (user) and (user, bucket) respectively — verified in
    the plan); a production pipeline materializes each feature table
    once for many consumers, and the composition is registered so the
    ASSEMBLED vector is independently oracle-checked (q_corpus_mix
    precedent)."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    feats = EN.expanding_zscore(ev, by="user_id", ts="ts", value="value")
    feats = EN.decayed_features(
        feats, by="user_id", ts="ts", value="value",
        bucket_seconds=DECAY_BUCKET_SEC,
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    clicks = feats.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts",
        F.col("value").alias("click_value"),
        "z_score", "decay_sum", "decay_cnt",
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id")
    return out.select(
        "event_id", "user_id", "click_value",
        "z_score", "decay_sum", "decay_cnt", "purchase_value",
    )


_register(
    "q_feature_assembly",
    q_feature_assembly,
    f"""
    WITH zd AS ({_ZS_ORACLE_CORE}),
    dc AS ({EN.decayed_oracle_sql(
        table="events",
        by="user_id",
        ts="ts",
        value="value",
        select_cols="w.event_id",
        bucket_seconds=DECAY_BUCKET_SEC,
    )}),
    purchases AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    ),
    clicks AS (
      SELECT event_id, user_id, ts, value AS click_value
      FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, c.click_value,
           zd.z_score, dc.decay_sum, dc.decay_cnt, p.purchase_value
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    JOIN zd ON zd.event_id = c.event_id
    JOIN dc ON dc.event_id = c.event_id
    """,
)

# ---------------------------------------------------------------------------
# Distributed BPE merge training (operators/bpe.py)
# ---------------------------------------------------------------------------

from ..operators import bpe as BP  # noqa: E402

BPE_DOCS = 192
BPE_ALPHABET = 64  # project tokens to a byte-ish alphabet so merge
                   # statistics are non-trivial at test scale
BPE_MERGES = 4


def q_bpe_train(spark, sf_dir):
    """Learn 4 BPE merges over the deterministic token table projected to
    a 64-symbol alphabet; the row set is the merge table plus the corpus
    token total after each merge (so the greedy rewrite kernel is
    checked, not just the pair counts). Oracle = VALUES literal from an
    independent pure-Python replay (q_checkpoint_ledger pattern)."""
    from .. import synth

    # 8 partitions: 192 docs over 32 would leave ~6 docs/task, and the
    # 9 tiny Python stages (4x count + 4x size + rewrites) would be pure
    # per-task setup; production corpora keep their native partitioning.
    corpus = synth.token_table(spark, BPE_DOCS, partitions=8).select(
        "doc_id",
        F.transform("tokens", lambda x: x % BPE_ALPHABET).alias("tokens"),
    )
    rows, _ = BP.bpe_train(
        corpus, num_merges=BPE_MERGES, vocab_size=BPE_ALPHABET, track_sizes=True
    )
    return spark.createDataFrame(
        rows,
        schema="iteration int, t1 int, t2 int, new_token int, "
        "pair_count long, tokens_after long",
    )


def _bpe_train_sql() -> str:
    """Independent greedy-BPE replay over the same synthesized docs; the
    merge-application walk below is a separate implementation of the
    left-to-right non-overlapping rule (sequential scan, not the match-
    index filter the operator kernel uses)."""
    from collections import Counter

    from .. import synth

    docs = [
        [int(t) % BPE_ALPHABET for t in synth.doc_row(i)["tokens"]]
        for i in range(BPE_DOCS)
    ]
    vals = []
    for it in range(BPE_MERGES):
        c: Counter = Counter()
        for a in docs:
            c.update(zip(a, a[1:]))
        if not c:
            break
        (t1, t2), cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        new = BPE_ALPHABET + it
        nxt = []
        for a in docs:
            out = []
            i = 0
            while i < len(a):
                if i + 1 < len(a) and a[i] == t1 and a[i + 1] == t2:
                    out.append(new)
                    i += 2
                else:
                    out.append(a[i])
                    i += 1
            nxt.append(out)
        docs = nxt
        vals.append(
            f"({it}, {t1}, {t2}, {new}, {cnt}, {sum(len(a) for a in docs)})"
        )
    return f"""
    SELECT CAST(iteration AS INTEGER) AS iteration, CAST(t1 AS INTEGER) AS t1,
           CAST(t2 AS INTEGER) AS t2, CAST(new_token AS INTEGER) AS new_token,
           CAST(pair_count AS BIGINT) AS pair_count,
           CAST(tokens_after AS BIGINT) AS tokens_after
    FROM (VALUES {", ".join(vals)})
         AS t(iteration, t1, t2, new_token, pair_count, tokens_after)
    """


_register("q_bpe_train", q_bpe_train, _bpe_train_sql)


def q_robust_outlier(spark, sf_dir):
    """Expanding median/IQR Tukey-fence outlier flag per user over
    strictly-prior rows (robust alternative to q_expanding_zscore for
    heavy-tailed feature columns). Quantile interpolation is measured
    bit-identical between Spark percentile and DuckDB quantile_cont."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = EN.expanding_robust_stats(
        ev, by="user_id", ts="ts", value="value", id_col="event_id"
    )
    return out.select(
        "event_id", "user_id", "rb_n_prev", "rb_median_prev", "rb_iqr_prev",
        F.col("rb_is_outlier").cast("long").alias("rb_is_outlier"),
    )


_RB_FRAME = (
    "PARTITION BY user_id ORDER BY e ASC NULLS FIRST, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
)
# NULL-ts rows contribute nothing to any frame and get NULL features
# (the encoder-family leakage rule, mirrored from the operator)
_RB_VAL = "CASE WHEN e IS NOT NULL THEN value END"

_register(
    "q_robust_outlier",
    q_robust_outlier,
    f"""
    WITH w AS (
      SELECT event_id, user_id, value,
             CASE WHEN e IS NOT NULL
                  THEN COUNT({_RB_VAL}) OVER ({_RB_FRAME}) END AS rb_n_prev,
             quantile_cont({_RB_VAL}, 0.25) OVER ({_RB_FRAME}) AS q1,
             quantile_cont({_RB_VAL}, 0.5)  OVER ({_RB_FRAME}) AS med,
             quantile_cont({_RB_VAL}, 0.75) OVER ({_RB_FRAME}) AS q3
      FROM (SELECT event_id, user_id, value, epoch(ts) AS e FROM events)
    )
    SELECT event_id, user_id, rb_n_prev,
           CASE WHEN rb_n_prev >= 4 THEN med END AS rb_median_prev,
           CASE WHEN rb_n_prev >= 4 THEN q3 - q1 END AS rb_iqr_prev,
           CAST(CASE WHEN rb_n_prev >= 4 THEN
             (CAST(value AS DOUBLE) < q1 - 1.5 * (q3 - q1)
              OR CAST(value AS DOUBLE) > q3 + 1.5 * (q3 - q1))
           END AS BIGINT) AS rb_is_outlier
    FROM w
    """,
)

RB_BUCKET_SEC = 86400.0


def q_robust_outlier_bucketed(spark, sf_dir):
    """Scale-safe robust outlier flag: median/IQR/Tukey fences of all
    strictly-earlier DAILY buckets (quantiles frozen at bucket
    granularity, evaluated once per (user, day) peer group instead of
    once per row — the production path for entities with long
    histories; q_robust_outlier's per-row expanding frame is the
    fine-grained sibling for short histories)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = EN.bucketed_robust_stats(
        ev, by="user_id", ts="ts", value="value", bucket_seconds=RB_BUCKET_SEC
    )
    return out.select(
        "event_id", "user_id", "rb_bucket", "rb_n_prev", "rb_median_prev",
        "rb_iqr_prev",
        F.col("rb_is_outlier").cast("long").alias("rb_is_outlier"),
    )


_RB2_VAL = "CASE WHEN bk IS NOT NULL THEN value END"
_RB2_FRAME = (
    "PARTITION BY user_id ORDER BY bk ASC NULLS FIRST "
    "RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
)

_register(
    "q_robust_outlier_bucketed",
    q_robust_outlier_bucketed,
    f"""
    WITH d AS (
      SELECT event_id, user_id, value,
             CAST(FLOOR(epoch(ts) / {RB_BUCKET_SEC!r}) AS BIGINT) AS bk
      FROM events
    ),
    w AS (
      SELECT event_id, user_id, value, bk,
             CASE WHEN bk IS NOT NULL
                  THEN COUNT({_RB2_VAL}) OVER ({_RB2_FRAME}) END AS rb_n_prev,
             quantile_cont({_RB2_VAL}, 0.25) OVER ({_RB2_FRAME}) AS q1,
             quantile_cont({_RB2_VAL}, 0.5)  OVER ({_RB2_FRAME}) AS med,
             quantile_cont({_RB2_VAL}, 0.75) OVER ({_RB2_FRAME}) AS q3
      FROM d
    )
    SELECT event_id, user_id, bk AS rb_bucket, rb_n_prev,
           CASE WHEN rb_n_prev >= 4 THEN med END AS rb_median_prev,
           CASE WHEN rb_n_prev >= 4 THEN q3 - q1 END AS rb_iqr_prev,
           CAST(CASE WHEN rb_n_prev >= 4 THEN
             (CAST(value AS DOUBLE) < q1 - 1.5 * (q3 - q1)
              OR CAST(value AS DOUBLE) > q3 + 1.5 * (q3 - q1))
           END AS BIGINT) AS rb_is_outlier
    FROM w
    """,
)

# ---------------------------------------------------------------------------
# Corpus bigram-LM quality scoring (operators/lm.py)
# ---------------------------------------------------------------------------

from ..operators import lm as LM  # noqa: E402

LM_DOCS = 192
LM_ALPHABET = 64
LM_RARE_THR = 0.005


def q_lm_score(spark, sf_dir):
    """Learn bigram conditionals from the corpus, then score every doc's
    transition typicality (mean/min probability, rare-transition count)
    in one narrow Arrow pass with the model as a closure LUT. Oracle =
    VALUES literal from an independent Counter-based replay."""
    from .. import synth

    corpus = synth.token_table(spark, LM_DOCS, partitions=8).select(
        "doc_id",
        F.transform("tokens", lambda x: x % LM_ALPHABET).alias("tokens"),
    )
    corpus = corpus.persist()
    try:
        model = LM.bigram_model(corpus)
        return LM.score_docs(
            corpus, model, alphabet=LM_ALPHABET, rare_threshold=LM_RARE_THR
        )
    finally:
        # score_docs already collected the model; the returned plan
        # re-reads the cached corpus once when the driver materializes it.
        corpus.unpersist(blocking=False)


def _lm_score_sql() -> str:
    """Independent replay: Counter-based model, per-doc numpy scoring
    with the same deterministic summation contract."""
    from collections import Counter

    import numpy as np

    from .. import synth

    docs = {
        synth.doc_id_of(i): [
            int(t) % LM_ALPHABET for t in synth.doc_row(i)["tokens"]
        ]
        for i in range(LM_DOCS)
    }
    pair_c: Counter = Counter()
    first_c: Counter = Counter()
    for a in docs.values():
        pair_c.update(zip(a, a[1:]))
        first_c.update(a[:-1])
    vals = []
    for doc_id in sorted(docs):
        a = docs[doc_id]
        if len(a) < 2:
            vals.append(f"('{doc_id}', 0, NULL, NULL, 0)")
            continue
        p = np.asarray(
            [pair_c[(x, y)] / first_c[x] for x, y in zip(a, a[1:])],
            dtype=np.float64,
        )
        mean_p = np.sum(p) / p.size
        # Quoted string literals: a bare numeric literal would parse as
        # DECIMAL first and lose the final ulp on the way to DOUBLE.
        vals.append(
            f"('{doc_id}', {p.size}, CAST('{mean_p!r}' AS DOUBLE), "
            f"CAST('{p.min()!r}' AS DOUBLE), {int((p < LM_RARE_THR).sum())})"
        )
    return f"""
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(lm_mean_prob AS DOUBLE) AS lm_mean_prob,
           CAST(lm_min_prob AS DOUBLE) AS lm_min_prob,
           CAST(lm_n_rare AS BIGINT) AS lm_n_rare
    FROM (VALUES {", ".join(vals)})
         AS t(doc_id, n_bigrams, lm_mean_prob, lm_min_prob, lm_n_rare)
    """


_register("q_lm_score", q_lm_score, _lm_score_sql)

# ---------------------------------------------------------------------------
# Feature monitoring: drift + rolling-origin backtest (operators/monitor.py)
# ---------------------------------------------------------------------------

from ..operators import monitor as MO  # noqa: E402
from ..operators import relevance as RV  # noqa: E402

DRIFT_CUT = "2024-01-16 00:00:00"  # splits the 30-day events table ~in half
DRIFT_BIN_W = 10.0
DRIFT_BINS = 10


def q_feature_drift(spark, sf_dir):
    """Per-event-type distribution drift of `value` between the first and
    second half of the events table: fixed-bin histograms for both
    windows, total-variation distance, and the worst-shifted bin. All
    proportions are exact integer divisions summed in a fixed expression
    order; the arithmetic is one shared SQL text on both engines."""
    ev = _t(spark, sf_dir, "events")
    return MO.feature_drift(
        ev, by="event_type", ts="ts", value_col="value",
        cut_ts=DRIFT_CUT, bin_width=DRIFT_BIN_W, n_bins=DRIFT_BINS,
    )


_register(
    "q_feature_drift",
    q_feature_drift,
    MO.drift_oracle_sql(
        "events", by="event_type", ts="ts", value_col="value",
        cut_ts=DRIFT_CUT, bin_width=DRIFT_BIN_W, n_bins=DRIFT_BINS,
    ),
)


BT_ORIGIN = "2024-01-01 00:00:00"
BT_STEP_DAYS = 6
BT_FOLDS = 4


def q_backtest_folds(spark, sf_dir):
    """Rolling-origin backtest summary: 4 expanding-window folds (train
    always strictly precedes valid — the min_ts/max_ts audit columns
    prove it per fold), summarized per (fold, role, event_type) with
    exact DECIMAL cents. The K-fold generalization of
    q_temporal_holdout's single split."""
    ev = _t(spark, sf_dir, "events")
    return MO.backtest_folds(
        ev, ts="ts", by="event_type", value_col="value", user_col="user_id",
        origin=BT_ORIGIN, step_days=BT_STEP_DAYS, n_folds=BT_FOLDS,
    )


_register(
    "q_backtest_folds",
    q_backtest_folds,
    MO.backtest_oracle_sql(
        "events", ts="ts", by="event_type", value_col="value",
        user_col="user_id", origin=BT_ORIGIN, step_days=BT_STEP_DAYS,
        n_folds=BT_FOLDS,
    ),
)


BM25_TOPK = 3


def q_bm25_topk(spark, sf_dir):
    """Top-3 BM25 terms per document. The one transcendental (idf's ln)
    rides a driver-built LUT computed with math.log — bit-identical to
    the oracle's native DuckDB ln (shared libm; relevance.py docstring
    has the measurements); production uses idf="native" (in-engine
    F.log, no LUT) at the cost of 1-ulp oracle agreement."""
    d = _t(spark, sf_dir, "documents")
    return RV.bm25_topk(d, k=BM25_TOPK, idf="lut")


_register(
    "q_bm25_topk",
    q_bm25_topk,
    RV.bm25_oracle_sql("documents", k=BM25_TOPK),
)


def q_drift_windowed(spark, sf_dir):
    """Serving-cadence drift monitor: training-window reference histogram
    (ts < cut, broadcast) vs per-day tumbling windows of the post-cut
    stream — the batch twin of streams.streaming_drift (parity-tested
    there). Windows ride as epoch BIGINTs on both engines."""
    ev = _t(spark, sf_dir, "events")
    ref = MO.reference_histogram(
        ev.filter(F.col("ts") < F.expr(f"TIMESTAMP '{DRIFT_CUT}'")),
        by="event_type", value_col="value",
        bin_width=DRIFT_BIN_W, n_bins=DRIFT_BINS,
    )
    out = MO.drift_against_reference(
        ev.filter(F.col("ts") >= F.expr(f"TIMESTAMP '{DRIFT_CUT}'")),
        ref, by="event_type", ts="ts", value_col="value",
        bin_width=DRIFT_BIN_W, n_bins=DRIFT_BINS, window="1 day",
    )
    return out.select(
        # NTZ cannot cast to BIGINT directly; NTZ -> TIMESTAMP is exact
        # under the UTC-pinned session, then -> epoch seconds
        F.col("win_start").cast("timestamp").cast("long").alias("win_start_epoch"),
        "event_type", "n_ref", "n_cur", "null_ref", "null_cur",
        "tv_distance", "max_bin_shift", "worst_bin",
    )


_register(
    "q_drift_windowed",
    q_drift_windowed,
    MO.windowed_drift_oracle_sql(
        "events", by="event_type", ts="ts", value_col="value",
        cut_ts=DRIFT_CUT, bin_width=DRIFT_BIN_W, n_bins=DRIFT_BINS,
        window_sec=86400,
    ),
)


WZ_P_LO = 0.05
WZ_P_HI = 0.95


def q_winsorize(spark, sf_dir):
    """Per-event-type percentile clipping of `value` (5th/95th): the
    outlier-robust transform ahead of normalization. Quantiles ride a
    tiny groupBy result broadcast back — the events table itself never
    shuffles (plan-audited); percentile/quantile_cont interpolation is
    the proven bit-parity contract (q_robust_outlier)."""
    ev = _t(spark, sf_dir, "events")
    out = EN.winsorize(
        ev, by="event_type", value="value", p_lo=WZ_P_LO, p_hi=WZ_P_HI
    )
    return out.select(
        "event_id", "event_type",
        F.col("value").cast("double").alias("value"),
        "wz_lo", "wz_hi", "wz_value",
        F.col("wz_clipped").cast("long").alias("wz_clipped"),
    )


_register(
    "q_winsorize",
    q_winsorize,
    f"""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, {WZ_P_LO!r}) AS wz_lo,
             quantile_cont(value, {WZ_P_HI!r}) AS wz_hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CAST(e.value AS DOUBLE) AS value, q.wz_lo, q.wz_hi,
           CASE WHEN e.value IS NULL OR q.wz_lo IS NULL OR q.wz_hi IS NULL
                THEN CAST(e.value AS DOUBLE)
                ELSE LEAST(GREATEST(CAST(e.value AS DOUBLE), q.wz_lo), q.wz_hi)
           END AS wz_value,
           CAST(CASE WHEN e.value IS NULL OR q.wz_lo IS NULL OR q.wz_hi IS NULL
                     THEN NULL
                     ELSE (CAST(e.value AS DOUBLE) < q.wz_lo
                           OR CAST(e.value AS DOUBLE) > q.wz_hi)
                END AS BIGINT) AS wz_clipped
    FROM events e LEFT JOIN q USING (event_type)
    """,
)


CAT_BINS = 8
_CAT_BIN_SPARK = (
    f"CAST(CAST(CONV(SUBSTRING(MD5(event_type), 1, 8), 16, 10) AS BIGINT)"
    f" % {CAT_BINS} AS INT)"
)
_CAT_BIN_DUCK = (
    f"CAST({MD5L.format(x='event_type')} % {CAT_BINS} AS INT)"
)


def q_categorical_drift(spark, sf_dir):
    """Categorical-mix drift per user cohort: the event_type distribution
    of each cohort (user_id % 4) compared across the table's two halves,
    with categories HASH-BUCKETED (md5 % 8) so no category dictionary is
    needed — the scale-correct categorical monitor (a new category lands
    in a bucket and shifts it; the hash is the package's md5_long parity
    contract, bit-equal in DuckDB)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "cohort", F.concat(F.lit("u"), (F.col("user_id") % 4).cast("string"))
    )
    return MO.feature_drift(
        ev, by="cohort", ts="ts", value_col="event_type",
        cut_ts=DRIFT_CUT, bin_width=1.0, n_bins=CAT_BINS,
        bin_sql=_CAT_BIN_SPARK,
    )


_register(
    "q_categorical_drift",
    q_categorical_drift,
    MO.drift_oracle_sql(
        "(SELECT *, 'u' || CAST(user_id % 4 AS VARCHAR) AS cohort FROM events)",
        by="cohort", ts="ts", value_col="event_type",
        cut_ts=DRIFT_CUT, bin_width=1.0, n_bins=CAT_BINS,
        bin_sql=_CAT_BIN_DUCK,
    ),
)
