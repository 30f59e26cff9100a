"""Corpus and text queries over ``documents`` (operators/text.py): quality
statistics, tokenization, language id, PII redaction, TF-IDF/BM25,
n-gram language-model features (``tx*``), sampling and splits (``smp*``),
domain mixing (``mix*``), shuffling (``shf*``), sequence packing
(``pk*``) and the multimodal image/caption queries (``mm*``).
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import (
    multimodal as mm,
    similarity,
    text as tx,
)
from market_data_pipeline_spark.operators.analytics import (
    fp_sum,
    global_ntile,
    global_rank,
)
from market_data_pipeline_spark.operators.dedup import shingle_hash_docfreq
from market_data_pipeline_spark.plans.driver_queries import (
    PRICE_CTE,
    price_frame,
    query,
)
from market_data_pipeline_spark.sources.catalog import load_table, staged_frame


# --- TX1: quality stats -----------------------------------------------------

_EN_STOPS = ",".join(f"'{w}'" for w in tx.STOPWORDS["en"])


@query(
    "tx1_quality_stats",
    rf"""WITH t AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS toks FROM documents
)
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS char_count,
       CAST(len(toks) AS INTEGER) AS token_count,
       CAST(length(text) AS DOUBLE) / len(toks) AS chars_per_token,
       CAST(len(list_filter(toks, x -> x IN ({_EN_STOPS}))) AS INTEGER) AS stop_count,
       CAST(len(list_filter(toks, x -> x IN ({_EN_STOPS}))) AS DOUBLE) / len(toks)
           AS stop_ratio,
       CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')) AS INTEGER)
           AS punct_count,
       CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio
FROM t""",
)
def tx1_quality_stats(spark, sf_dir):
    return tx.quality_stats(load_table(spark, sf_dir, "documents"))


# --- TX2: token counting ----------------------------------------------------


@query(
    "tx2_token_counts",
    rf"""SELECT doc_id,
       CAST(len(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{tx.TOKEN_PATTERN}')) AS INTEGER) AS bpe_ish_tokens
FROM documents""",
)
def tx2_token_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("ws_tokens"),
        tx.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


# --- TX3: language-ID heuristic --------------------------------------------


def _lang_score_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in tx.STOPWORDS[lang])
    return f"len(list_filter(toks, x -> x IN ({words})))"


@query(
    "tx3_detect_language",
    rf"""WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS toks FROM documents
), scored AS (
  SELECT doc_id,
         {", ".join(f"CAST({_lang_score_sql(lang)} AS INTEGER) AS {lang}_score" for lang in tx.STOPWORDS)}
  FROM t
)
SELECT doc_id,
       CASE
         {" ".join(f"WHEN {lang}_score = greatest({', '.join(f'{o}_score' for o in tx.STOPWORDS)}) AND {lang}_score > 0 THEN '{lang}'" for lang in tx.STOPWORDS)}
         ELSE 'unknown'
       END AS predicted_lang,
       {", ".join(f"{lang}_score" for lang in tx.STOPWORDS)}
FROM scored""",
)
def tx3_detect_language(spark, sf_dir):
    return tx.detect_language(load_table(spark, sf_dir, "documents"))


# --- SMP/TX5/TX6: corpus sampling, vocabulary, length profile ----------------


@query(
    "smp1_hash_sample",
    """SELECT doc_id, lang, n_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
ORDER BY doc_id""",
)
def smp1_hash_sample(spark, sf_dir):
    """Deterministic ~16% corpus sample by md5 prefix of the key — the
    reproducible (engine-independent, rerun-stable) alternative to
    rand()-based sampling for training-data splits. md5 hex prefix < '29'
    selects 0x00-0x28 of 0x00-0xff."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.md5(F.col("doc_id").cast("string").cast("binary")) .substr(1, 2) < "29")
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "tx5_vocabulary",
    r"""WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS token FROM documents
)
SELECT token, COUNT(*) AS freq
FROM toks
WHERE token <> ''
GROUP BY 1
ORDER BY freq DESC, token
LIMIT 50""",
)
def tx5_vocabulary(spark, sf_dir):
    """Corpus vocabulary top-50 — the wordcount shape: explode tokens, one
    hash-agg shuffle with map-side partial aggregation, TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode_outer(tx.tokens(F.col("text"))).alias("token")
    ).filter(F.col("token").isNotNull() & (F.col("token") != ""))
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(50)
    )


@query(
    "tx6_length_histogram",
    """SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY 1""",
)
def tx6_length_histogram(spark, sf_dir):
    """Document-length profile in 100-char buckets — the quality-filter
    calibration query of a corpus pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        F.floor(F.col("n_chars") / 100).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# --- SMP2: stratified deterministic sample -----------------------------------


@query(
    "smp2_stratified",
    """SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
WHERE rn <= 20
ORDER BY lang, doc_id""",
)
def smp2_stratified(spark, sf_dir):
    """Per-stratum (language) deterministic sample of 20 docs: rank by the
    md5 of the key inside each stratum — reproducible across engines and
    reruns, unlike sampleBy. One shuffle on the stratum key."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


# --- TX7: composed clean-corpus pipeline -------------------------------------


@query(
    "tx7_clean_corpus",
    rf"""WITH t AS (
  SELECT doc_id, lang, n_chars, text,
         string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS toks
  FROM documents
), feat AS (
  SELECT doc_id, lang, n_chars, text,
         len(toks) AS token_count,
         CAST(len(list_filter(toks, x -> x IN ({_EN_STOPS}))) AS DOUBLE) / len(toks)
             AS stop_ratio
  FROM t
), dedup AS (
  SELECT MIN(doc_id) AS doc_id FROM feat GROUP BY text
)
SELECT f.doc_id, f.lang, CAST(f.token_count AS BIGINT) AS token_count
FROM feat f JOIN dedup d ON f.doc_id = d.doc_id
WHERE f.token_count >= 10 AND f.n_chars >= 80 AND f.stop_ratio >= 0.01
ORDER BY f.doc_id""",
)
def tx7_clean_corpus(spark, sf_dir):
    """The composed training-data filter: tokenize -> quality features ->
    exact-dedup (keep lowest id per text) -> thresholds. One pipeline;
    the feature computation stays in one projection pass."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    feat = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        "text",
        toks.alias("_toks"),
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        "text",
        F.size("_toks").alias("token_count"),
        (
            F.size(F.filter(F.col("_toks"), lambda x: x.isin(*tx.STOPWORDS["en"]))).cast(
                "double"
            )
            / F.size("_toks")
        ).alias("stop_ratio"),
    )
    keep = feat.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return (
        feat.join(keep.select("doc_id"), "doc_id")
        .filter(
            (F.col("token_count") >= 10)
            & (F.col("n_chars") >= 80)
            & (F.col("stop_ratio") >= 0.01)
        )
        .select("doc_id", "lang", F.col("token_count").cast("long").alias("token_count"))
    )


def _media(spark, sf_dir):
    """Synthetic media frame, staged behind a lazy localCheckpoint
    against the current documents relation: all seven mm queries
    consume the identical generated table, and without the memo each
    re-runs the whole Arrow generation pipeline (same shared-stage
    discipline as returns_frame). The checkpoint materializes on first
    action."""
    docs = load_table(spark, sf_dir, "documents")
    return staged_frame(
        spark, sf_dir, "media", (docs,), mm.synthetic_media_from_docs,
        checkpoint=True,
    )


@query("mm1_image_stats")
def mm1_image_stats(spark, sf_dir):
    """Arrow-batched decode + per-image pixel stats (binary media columns
    are not DuckDB-expressible; determinism asserted in pytest)."""
    return mm.image_stats(_media(spark, sf_dir))


@query("mm2_resize_roundtrip")
def mm2_resize_roundtrip(spark, sf_dir):
    """Resize every image to 16x16 then re-extract stats — exercises the
    full media encode->decode->transform->encode loop distributed."""
    resized = mm.resize_images(_media(spark, sf_dir), 16, 16)
    return mm.image_stats(resized)


@query("mm3_frame_sample")
def mm3_frame_sample(spark, sf_dir):
    """Every-2nd-frame video sampling; returns frame rows minus the binary
    payload (stable schema for the driver's hash)."""
    frames = mm.sample_frames(_media(spark, sf_dir), every_k=2)
    return frames.select(
        "media_id", "frame_idx", F.length("content").alias("n_bytes")
    )


@query("mm4_image_knn")
def mm4_image_knn(spark, sf_dir):
    """Image near-dup path: grid-pooled embeddings -> cosine top-k — the
    multimodal feature extractor feeding the similarity operators.

    The broadcast query side is generated from a PRE-FILTERED doc source:
    mapInPandas blocks predicate pushdown, so filtering the generated
    frame would re-run the whole Python media pipeline just to keep 3
    rows; filtering the input runs the tiny pipeline instead."""
    docs = load_table(spark, sf_dir, "documents")
    emb = mm.image_grid_features(_media(spark, sf_dir), grid=4).withColumnRenamed(
        "media_id", "vec_id"
    )
    q_emb = mm.image_grid_features(
        mm.synthetic_media_from_docs(docs.filter(F.col("doc_id") < 9)), grid=4
    ).withColumnRenamed("media_id", "vec_id")
    return similarity.knn_batch(emb, q_emb, k=3)


@query("mm5_audio_stats")
def mm5_audio_stats(spark, sf_dir):
    return mm.audio_stats(_media(spark, sf_dir))


@query(
    "tx4_fingerprint",
    r"""SELECT doc_id,
       md5(lower(trim(text, ' '))) AS fingerprint,
       CAST(len(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS INT) AS n_tokens
FROM documents""",
)
def tx4_fingerprint(spark, sf_dir):
    """Content fingerprint: md5 of normalized text (the exact-dup key)
    plus whitespace token count — md5 exists in both Spark and DuckDB so
    this is hash-checked end-to-end. The winnowing rolling min-span-hash
    sketch (tx.rolling_fingerprint, Spark xxhash64 — not SQL-expressible)
    stays pytest-covered as tx4's scale variant."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.size(F.split(norm, r"[ \t\n\x0B\f\r]+")).alias("n_tokens"),
    )


@query(
    "tx8_tfidf_terms",
    r"""WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         ROUND(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
            AS BIGINT) AS rnk
FROM scored QUALIFY rnk <= 5
ORDER BY doc_id, rnk""",
)
def tx8_tfidf_terms(spark, sf_dir):
    """Top-5 characteristic terms per document by TF-IDF. Ranking happens
    on the ROUNDED score (ln() differs in the last ulp across engines) —
    see operators/text.tfidf_top_terms for the shuffle budget."""
    return tx.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


@query(
    "tx9_redact_pii",
    f"""SELECT doc_id,
       regexp_replace(regexp_replace(text, '{tx.EMAIL_RE}', '[EMAIL]', 'g'),
                      '{tx.PHONE_RE}', '[PHONE]', 'g') AS text,
       CAST(len(regexp_extract_all(text, '{tx.EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text, '{tx.PHONE_RE}')) AS INTEGER) AS n_phones
FROM documents ORDER BY doc_id""",
)
def tx9_redact_pii(spark, sf_dir):
    """Regex PII scrubbing (emails, phone-shaped digit runs) — map-only
    codegen; the regexes are restricted to Java-regex ∩ RE2 syntax so the
    oracle executes the identical patterns."""
    return tx.redact_pii(load_table(spark, sf_dir, "documents"))


@query(
    "pk1_pack_sequences",
    r"""WITH d AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         CAST(len(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS BIGINT)
             AS n_tokens
  FROM documents
)
SELECT doc_id, shard, n_tokens,
       CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens) / 256.0) AS BIGINT) AS pack_no
FROM d ORDER BY doc_id""",
)
def pk1_pack_sequences(spark, sf_dir):
    """Sequence packing into 256-token budgets, sharded by md5 prefix so
    the running sum distributes (one shuffle on the shard key, never a
    global single-task window) — the concat-then-chunk loader shape."""
    return tx.pack_sequences(
        load_table(spark, sf_dir, "documents"), budget=256
    )


@query(
    "smp3_group_split",
    """SELECT doc_id, source,
       CASE WHEN substr(md5(source), 1, 2) < 'cc' THEN 'train'
            WHEN substr(md5(source), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split
FROM documents ORDER BY doc_id""",
)
def smp3_group_split(spark, sf_dir):
    """Leakage-safe train/val/test split keyed on the SOURCE group (every
    document of a source lands in the same split), deterministic via md5
    prefix — no rand(), rerun- and engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        tx.train_val_test_split(docs, key_col="source")
        .select("doc_id", "source", "split")
    )


# --- TX10: Gopher repetition filters -----------------------------------------


@query(
    "tx10_repetition_stats",
    r"""WITH t AS (
  -- COALESCE: the Spark operator tokenizes NULL text as '' (the
  -- documented [''] convention shared with tokens()); raw NULL would
  -- instead propagate to NULL stats here and diverge
  SELECT doc_id, string_split_regex(lower(trim(COALESCE(text, ''), ' ')), '[ \t\n\x0B\f\r]+') AS toks
  FROM documents
), b AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS bg
  FROM t
)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(bg) AS BIGINT) AS n_2grams,
  CASE WHEN len(bg) > 0
       THEN 1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE) END
      AS dup_2gram_frac,
  CASE WHEN len(bg) > 0
       THEN list_max(list_transform(list_distinct(bg),
                                    g -> len(list_filter(bg, x -> x = g))))
            / CAST(len(bg) AS DOUBLE) END AS top_2gram_frac,
  CASE WHEN len(toks) > 0
       THEN list_max(list_transform(list_distinct(toks),
                                    g -> len(list_filter(toks, x -> x = g))))
            / CAST(len(toks) AS DOUBLE) END AS top_token_frac
FROM b ORDER BY doc_id""",
)
def tx10_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (duplicate-bigram fraction,
    most-repeated bigram/token share) — one map-only Arrow ``mapInPandas``
    Counter pass, no shuffle. A JVM higher-order-function form was measured
    and rejected as O(distinct x total) per document (quadratic in doc
    length); rationale in ``operators/text.py:351``."""
    return tx.repetition_stats(load_table(spark, sf_dir, "documents"))


# --- SHF1: deterministic global shuffle-shard --------------------------------


@query(
    "shf1_shuffle_shards",
    """WITH h AS (
  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS hv FROM documents
), s AS (
  SELECT doc_id, hv,
         CAST(NTILE(8) OVER (ORDER BY hv, doc_id) AS BIGINT) AS shard
  FROM h
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hv, doc_id) AS BIGINT)
           AS pos
FROM s ORDER BY doc_id""",
)
def shf1_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle + 8-way sharding for training export:
    md5(seed:key) ordering realized via the range-partitioned exact-ntile
    path (never a single-task global window); the within-shard position
    matches the one-writer-per-shard export sink."""
    return tx.shuffle_shards(
        load_table(spark, sf_dir, "documents"), key_col="doc_id", n_shards=8
    )


# --- SMP4: weighted Bernoulli sampling ---------------------------------------


@query(
    "smp4_weighted_sample",
    """SELECT doc_id, source, n_chars
FROM documents
WHERE ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
      / 16777216.0 < least(1.0, n_chars / 400.0)
ORDER BY doc_id""",
)
def smp4_weighted_sample(spark, sf_dir):
    """Length-weighted deterministic Bernoulli sample (P(keep) ∝ n_chars,
    capped at 1): the md5-uniform is exact in double on both engines, so
    the selected set is engine-independent and rerun-stable — what
    rand()-weighted sampling cannot give."""
    docs = load_table(spark, sf_dir, "documents")
    keep_p = F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0))
    return (
        tx.weighted_sample(docs, keep_p, key_col="doc_id")
        .select("doc_id", "source", "n_chars")
    )


# --- MIX1: per-domain quota mixing -------------------------------------------


@query(
    "mix1_domain_quota",
    """WITH sel AS (
  SELECT doc_id, source, n_chars,
         md5('42:' || CAST(doc_id AS VARCHAR)) AS hv
  FROM documents
), c AS (
  SELECT doc_id, source, n_chars,
         CAST(SUM(n_chars) OVER (
              PARTITION BY source ORDER BY hv, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_size
  FROM sel
)
SELECT doc_id, source, n_chars, cum_size
FROM c WHERE cum_size <= 5000
ORDER BY doc_id""",
)
def mix1_domain_quota(spark, sf_dir):
    """Deterministic per-domain quota fill (training-data mixing): every
    source contributes documents — chosen by a seeded md5 permutation —
    until its 5000-char budget is exhausted. The distributed form of
    'sample each domain to its token allocation'."""
    return tx.domain_quota_sample(
        load_table(spark, sf_dir, "documents"), budget=5000
    )


# --- TX11: unigram-LM quality score ------------------------------------------


@query(
    "tx11_lm_quality",
    r"""WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS term
  FROM documents
), t2 AS (
  SELECT doc_id, term FROM toks WHERE term <> ''
), vocab AS (
  SELECT term, COUNT(*) AS freq FROM t2 GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n FROM t2
)
SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(ln(v.freq / CAST(t.n AS DOUBLE))), 6) AS avg_logprob
FROM t2 d JOIN vocab v USING (term) CROSS JOIN tot t
GROUP BY d.doc_id ORDER BY d.doc_id""",
)
def tx11_lm_quality(spark, sf_dir):
    """CCNet-style LM quality filter with the corpus unigram distribution
    as the LM: mean token log-probability per document (low = gibberish /
    rare-token-heavy, high = boilerplate; filter both tails)."""
    return tx.lm_quality_score(load_table(spark, sf_dir, "documents"))


_BM25_TERMS = ["customer", "vector", "stream", "window"]
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@query(
    "tx12_bm25",
    rf"""WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                             x -> x <> '') AS t
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(t)) AS avgdl FROM toks
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
    SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
  WHERE term IN ({_BM25_IN}) GROUP BY 1, 2, 3
), dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         CAST(ROUND(ROUND(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) * 1e6)
           AS BIGINT) AS c
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms, SUM(c) / 1e6 AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10""",
)
def tx12_bm25(spark, sf_dir):
    """Top-10 documents for a bag-of-words query under BM25. The token
    stream is filtered to the query's terms BEFORE the shuffle; the
    per-term contributions sum as scaled-BIGINT micro-units (order-free)
    — see operators.text.bm25_rank."""
    return tx.bm25_rank(
        load_table(spark, sf_dir, "documents"), _BM25_TERMS, k=10, k1=1.2, b=0.75
    )


@query(
    "mix2_temperature_resample",
    """WITH counts AS (SELECT source, COUNT(*) AS gn FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(gn) AS BIGINT) AS tot FROM counts),
powed AS (
  SELECT source, gn, ROUND(pow(gn / CAST(tot AS DOUBLE), 0.5), 9) AS pw
  FROM counts CROSS JOIN tot
),
denom AS (
  SELECT SUM(CAST(ROUND(pw * 1e9) AS BIGINT)) / 1e9 AS sumpw FROM powed
),
mult AS (
  SELECT source,
         ROUND(1.0 * (pw / sumpw) / (gn / CAST(tot AS DOUBLE)), 6) AS m
  FROM powed CROSS JOIN tot CROSS JOIN denom
),
sized AS (
  SELECT d.doc_id, d.source,
         CAST(FLOOR(m) AS BIGINT)
           + CASE WHEN CAST('0x' || substr(md5('42:' || CAST(d.doc_id AS VARCHAR)), 1, 6)
                        AS BIGINT) / 16777216.0 < m - FLOOR(m)
                  THEN 1 ELSE 0 END AS n
  FROM documents d JOIN mult USING (source)
)
SELECT doc_id, source, unnest(generate_series(1, n)) AS copy_idx
FROM sized ORDER BY doc_id, copy_idx""",
)
def mix2_temperature_resample(spark, sf_dir):
    """Temperature-flattened (T=2) domain resampling with replacement:
    deterministic md5-uniform fractional copies, map-only explode after
    a broadcast of per-domain multipliers — see
    operators.text.temperature_resample."""
    return tx.temperature_resample(
        load_table(spark, sf_dir, "documents"), temperature=2.0, scale=1.0
    )


@query(
    "tx13_bigram_lm",
    r"""WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                             x -> x <> '') AS t
  FROM documents
), bg AS (
  SELECT doc_id, t[s] || ' ' || t[s + 1] AS bg, t[s] AS ctx
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS s
        FROM toks WHERE len(t) >= 2)
), bgc AS (SELECT bg, COUNT(*) AS nbg FROM bg GROUP BY 1),
ctxc AS (SELECT ctx, COUNT(*) AS nctx FROM bg GROUP BY 1)
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(ln(nbg / CAST(nctx AS DOUBLE))), 6) AS avg_logprob
FROM bg b JOIN bgc USING (bg) JOIN ctxc USING (ctx)
GROUP BY 1 ORDER BY doc_id""",
)
def tx13_bigram_lm(spark, sf_dir):
    """Bigram-LM quality score (corpus as the LM): mean
    ln P(w_i | w_{i-1}) per doc — catches shuffled-word gibberish the
    unigram score (tx11) cannot; bigrams shuffle as 64-bit hashes — see
    operators.text.bigram_lm_score."""
    return tx.bigram_lm_score(load_table(spark, sf_dir, "documents"))


@query(
    "shf2_interleave_sources",
    """WITH h AS (
  SELECT doc_id, source, md5('42:' || CAST(doc_id AS VARCHAR)) AS hv
  FROM documents
), keyed AS (
  SELECT doc_id, source, hv,
         (CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id)
               AS BIGINT) - 1 + 0.5)
           / COUNT(*) OVER (PARTITION BY source) AS k
  FROM h
), s AS (
  SELECT doc_id, source, hv, k,
         CAST(NTILE(8) OVER (ORDER BY k, hv, doc_id) AS BIGINT) AS shard
  FROM keyed
)
SELECT doc_id, source, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, hv, doc_id)
            AS BIGINT) AS pos
FROM s ORDER BY doc_id""",
)
def shf2_interleave_sources(spark, sf_dir):
    """Maximally-spaced source interleaving for the training stream:
    low-discrepancy fractional keys per domain, shard-major global order
    via the range-partitioned exact-ntile path — see
    operators.text.interleave_sources."""
    return tx.interleave_sources(
        load_table(spark, sf_dir, "documents"), n_shards=8
    )


@query(
    "smp5_negative_sampling",
    """WITH ranks AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS r
  FROM documents
), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
draws AS (
  SELECT doc_id, r AS self, unnest(generate_series(1, 4)) AS neg_idx
  FROM ranks
), hashed AS (
  SELECT d.doc_id, d.self, d.neg_idx,
         CAST('0x' || substr(md5('42:' || CAST(d.doc_id AS VARCHAR)
                                  || ':' || CAST(d.neg_idx AS VARCHAR)), 1, 12)
              AS BIGINT) % nn.n + 1 AS target,
         nn.n AS n
  FROM draws d CROSS JOIN nn
)
SELECT h.doc_id, CAST(h.neg_idx AS BIGINT) AS neg_idx,
       l.doc_id AS negative_id
FROM (SELECT doc_id, neg_idx,
             CASE WHEN target = self THEN target % n + 1 ELSE target END AS t
      FROM hashed) h
JOIN ranks l ON l.r = h.t
ORDER BY h.doc_id, h.neg_idx""",
)
def smp5_negative_sampling(spark, sf_dir):
    """Deterministic contrastive negatives: 4 md5-drawn other-documents
    per anchor over a range-partitioned exact rank (ids not assumed
    dense; no single-task window); self-draws shift to the next rank —
    see operators.text.negative_sampling."""
    return tx.negative_sampling(load_table(spark, sf_dir, "documents"), k=4)


@query(
    "tx14_sentence_stats",
    r"""WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(trim(text, ' '), '[.!?]+'),
                                    x -> trim(x)), x -> x <> '') AS sents
  FROM documents
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       CAST(list_sum(list_transform(sents,
                x -> len(string_split_regex(x, '[ \t\n\x0B\f\r]+')))) AS BIGINT)
           / CAST(len(sents) AS BIGINT) AS avg_sentence_tokens,
       CAST(list_max(list_transform(sents,
                x -> len(string_split_regex(x, '[ \t\n\x0B\f\r]+')))) AS BIGINT)
           AS max_sentence_tokens
FROM s WHERE len(sents) >= 1 ORDER BY doc_id""",
)
def tx14_sentence_stats(spark, sf_dir):
    """Per-document sentence segmentation stats (count, avg/max tokens
    per sentence) — map-only higher-order expressions, no shuffle; the
    average is an exact integer ratio. See
    operators.text.sentence_stats."""
    return tx.sentence_stats(load_table(spark, sf_dir, "documents"))


@query(
    "tx15_zipf_slope",
    r"""WITH toks AS (
  SELECT lang, unnest(list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                                  x -> x <> '')) AS t
  FROM documents
), freqs AS (
  SELECT lang, t, COUNT(*) AS f FROM toks GROUP BY 1, 2
), ranked AS (
  SELECT lang, f, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY f DESC, t) AS r
  FROM freqs QUALIFY r <= 100
), terms AS (
  SELECT lang, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
  FROM ranked
), moments AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens_fit,
         SUM(CAST(ROUND(x * 1e9) AS BIGINT)) / 1e9 AS sx,
         SUM(CAST(ROUND(y * 1e9) AS BIGINT)) / 1e9 AS sy,
         SUM(CAST(ROUND(x * y * 1e9) AS BIGINT)) / 1e9 AS sxy,
         SUM(CAST(ROUND(x * x * 1e9) AS BIGINT)) / 1e9 AS sxx
  FROM terms GROUP BY 1
)
SELECT lang, n_tokens_fit,
       CASE WHEN n_tokens_fit >= 2 THEN
         (n_tokens_fit * sxy - sx * sy) / (n_tokens_fit * sxx - sx * sx)
       END AS zipf_slope
FROM moments ORDER BY lang""",
)
def tx15_zipf_slope(spark, sf_dir):
    """Zipf's-law OLS slope per language over the top-100 token
    frequencies (corpus-level quality gate: natural text fits ~-1). The
    ln-product sums are fixed-pointed to 1e-9 and accumulated as BIGINT,
    so the closed-form slope is engine-exact with no output rounding.
    See operators.text.zipf_slope."""
    return tx.zipf_slope(load_table(spark, sf_dir, "documents"))


@query(
    "smp6_quantile_stratified",
    """WITH b AS (
  SELECT doc_id, lang, n_chars,
         CAST(NTILE(5) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS size_bucket
  FROM documents
)
SELECT doc_id, lang, n_chars, size_bucket
FROM b
WHERE substr(md5('len:' || CAST(doc_id AS VARCHAR)), 1, 2) < '4d'
ORDER BY doc_id""",
)
def smp6_quantile_stratified(spark, sf_dir):
    """Size-quantile stratified sample: exact range-partitioned quintiles
    over document length (analytics.global_ntile — never a single-task
    global NTILE window), then a deterministic ~30% md5-hash sample
    within every bucket, so each size regime keeps proportional
    representation (plain hash sampling under-covers the long-document
    tail that dominates token budgets)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    bucketed = global_ntile(
        docs, [F.col("n_chars"), F.col("doc_id")], 5, out_col="size_bucket"
    )
    keep = (
        F.md5(
            F.concat(F.lit("len:"), F.col("doc_id").cast("string")).cast("binary")
        ).substr(1, 2)
        < "4d"
    )
    return bucketed.filter(keep)


@query("mm6_phash_dedup")
def mm6_phash_dedup(spark, sf_dir):
    """Image duplicate detection via perceptual hashing: aHash
    fingerprints (one Arrow pass, binary never leaves the stage) grouped
    on the hash. The corpus is salted with exact re-ingests of five
    images under new ids — the double-upload case phash dedup exists to
    catch; resize-class invariance holds for smooth natural images and
    is pinned by pytest on a gradient fixture (the driver's synthetic
    images are noise-like, where no downscale-stable fingerprint can
    exist). No oracle: binary media is not SQL-expressible."""
    media = _media(spark, sf_dir)
    imgs = media.filter(F.col("kind") == "image")
    # deterministic ~3% slice, NOT limit(): a global limit plans an
    # Exchange SinglePartition over the unbounded media frame — the
    # one-task shape the plan-invariant suite forbids
    dupes = imgs.filter(F.col("media_id") % 31 == 1).withColumn(
        "media_id", F.col("media_id") + F.lit(1_000_000)
    )
    hashes = mm.perceptual_hash(imgs.unionByName(dupes), grid=8)
    # media_ids is a comma-joined string (numeric sort, then join), not an
    # array<long>: the driver's canonicalizer sorts row tuples with pandas,
    # which cannot order list cells (r12 verdict item #2) — a rows-only
    # query must emit a sortable surface.
    return (
        hashes.groupBy("phash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("media_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("media_ids"),
        )
        .filter(F.col("n_images") >= 2)
    )


@query(
    "pk2_bucketed_batches",
    r"""WITH staged AS (
  SELECT doc_id,
         CASE WHEN len(list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                                   x -> x <> '')) <= 32 THEN 32
              WHEN len(list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                                   x -> x <> '')) <= 64 THEN 64
              WHEN len(list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                                   x -> x <> '')) <= 128 THEN 128
              ELSE 1073741824 END AS length_bucket,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         CAST(len(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS BIGINT)
             AS n_tokens
  FROM documents
)
SELECT doc_id, CAST(length_bucket AS BIGINT) AS length_bucket, shard, n_tokens,
       CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY length_bucket, shard
                                       ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                  / 256.0) AS BIGINT) AS batch_no
FROM staged ORDER BY doc_id""",
)
def pk2_bucketed_batches(spark, sf_dir):
    """Length-bucketed batch assembly: token-count band first (similar
    lengths batch together, padding waste bounded by the bucket edge),
    then the distributed running-sum pack within (bucket, shard) — one
    exchange, no single-task window. See operators.text.bucketed_batches."""
    return tx.bucketed_batches(load_table(spark, sf_dir, "documents"))


@query(
    "tx16_quality_gate",
    r"""WITH staged AS (
  SELECT doc_id,
         length(text) AS chars,
         list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS toks0,
         string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS toks,
         length(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')) AS punct
  FROM documents
), feats AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS token_count,
         len(list_filter(toks, x -> x IN ('the','a','of','and','in','to','is')))
             / CAST(len(toks) AS DOUBLE) AS stop_ratio,
         punct / CAST(chars AS DOUBLE) AS punct_ratio,
         CAST(COALESCE(list_max(list_transform(toks, x -> length(x))), 0)
              AS BIGINT) AS max_token_len
  FROM staged
)
SELECT doc_id, token_count, stop_ratio, punct_ratio, max_token_len,
       NOT (token_count < 5 OR stop_ratio > 0.6 OR punct_ratio > 0.3
            OR max_token_len > 40) AS keep,
       concat_ws(',',
         CASE WHEN token_count < 5 THEN 'too_short' END,
         CASE WHEN stop_ratio > 0.6 THEN 'stopword_heavy' END,
         CASE WHEN punct_ratio > 0.3 THEN 'punct_heavy' END,
         CASE WHEN max_token_len > 40 THEN 'giant_token' END) AS reasons
FROM feats ORDER BY doc_id""",
)
def tx16_quality_gate(spark, sf_dir):
    """Composite quality gate with itemized reject reasons (the
    auditable form of a pretraining filter; the reasons string is what
    a data-quality dashboard aggregates). Map-only, split staged once.
    See operators.text.quality_gate."""
    return tx.quality_gate(load_table(spark, sf_dir, "documents"))


@query(
    "smp7_group_reservoir",
    """WITH h AS (
  SELECT doc_id, lang, n_chars,
         md5('res:' || CAST(doc_id AS VARCHAR)) AS hv
  FROM documents
)
SELECT doc_id, lang, n_chars
FROM (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
  FROM h
) WHERE rn <= 20
ORDER BY doc_id""",
)
def smp7_group_reservoir(spark, sf_dir):
    """Deterministic exact-k 'reservoir' per group: the k smallest md5
    draws per language — uniform without replacement, rerun-stable and
    engine-independent (a true reservoir's sequential randomness can't
    be reproduced across engines; the k-smallest-hash formulation is the
    distributed equivalent). One key-partitioned window; partition size
    is bounded by the group, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("res:"), F.col("doc_id").cast("string")).cast("binary"))
    return (
        docs.select("doc_id", "lang", "n_chars", h.alias("_h"))
        .withColumn("_rn", F.row_number().over(Window.partitionBy("lang").orderBy("_h", "doc_id")))
        .filter(F.col("_rn") <= 20)
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "tx17_bpe_pairs",
    r"""WITH toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM documents
), idx AS (
  SELECT t, unnest(range(len(t) - 1)) AS x FROM toks WHERE len(t) >= 2
), pairs AS (
  SELECT t[CAST(x AS INTEGER) + 1] || ' ' || t[CAST(x AS INTEGER) + 2] AS pair
  FROM idx
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY 1
ORDER BY n DESC, pair LIMIT 50""",
)
def tx17_bpe_pairs(spark, sf_dir):
    """Corpus-wide adjacent-token pair frequencies — the statistic a BPE
    merge step is chosen from (tokenizer-training prep): one JVM-side
    pair explode, one map-combined count, TakeOrdered top-50. See
    operators.text.bpe_pair_counts."""
    return tx.bpe_pair_counts(load_table(spark, sf_dir, "documents"), top_k=50)


@query(
    "smp8_purged_split",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1997-12-31'
), tagged AS (
  SELECT symbol, trade_date, close_price,
         CAST(FLOOR(date_diff('day', DATE '1996-01-01', trade_date) / 120.0)
              AS BIGINT) AS fold,
         date_diff('day', DATE '1996-01-01', trade_date) % 120 AS day_in_fold
  FROM sel
)
SELECT symbol, trade_date, close_price, fold,
       CASE WHEN day_in_fold >= 120 - 5 THEN 'embargo'
            WHEN fold % 3 = 2 THEN 'val' ELSE 'train' END AS split
FROM tagged ORDER BY symbol, trade_date""",
)
def smp8_purged_split(spark, sf_dir):
    """Purged temporal split with embargo — the finance-ML guard against
    look-ahead leakage that random splits cannot give: contiguous
    120-day blocks alternate train/val (every third block validates),
    and each block's last 5 days are EMBARGOED (dropped from both sides)
    so labels whose horizon crosses the boundary cannot leak fold-to-
    fold. Pure date arithmetic — map-only, engine-exact, deterministic
    from the calendar alone (re-running on late-arriving data re-derives
    identical folds)."""
    p = price_frame(spark, sf_dir).filter(
        F.col("close_price").isNotNull()
        & (F.col("trade_date") >= "1996-01-01")
        & (F.col("trade_date") <= "1997-12-31")
    )
    days = F.datediff("trade_date", F.lit("1996-01-01").cast("date"))
    fold = F.floor(days / 120).cast("long")
    day_in_fold = days % 120
    split = (
        F.when(day_in_fold >= 120 - 5, F.lit("embargo"))
        .when(fold % 3 == 2, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return p.select(
        "symbol", "trade_date", "close_price",
        fold.alias("fold"), split.alias("split"),
    )


@query(
    "smp9_systematic_sample",
    """WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
), r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hx, doc_id) AS rn FROM h
)
SELECT doc_id, CAST(rn AS BIGINT) AS rn
FROM r WHERE (rn - 1) % 20 = 0 ORDER BY rn""",
)
def smp9_systematic_sample(spark, sf_dir):
    """Systematic every-k-th sampling in hash order (deterministic,
    evenly spaced through the hash-shuffled population — the survey
    sampler's stratification-free cousin). The global row number uses
    the range-partitioned rank (operators.analytics.global_rank), never
    a single-task window; md5 gives an engine-portable shuffle key."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("_hx")
    )
    ranked = global_rank(docs, [F.col("_hx"), F.col("doc_id")], out_col="rn")
    return (
        ranked.filter((F.col("rn") - 1) % 20 == 0)
        .select("doc_id", "rn")
    )


@query(
    "tx18_charset_stats",
    r"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       CASE WHEN length(text) > 0 THEN
         ROUND(length(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))
               / length(text), 6) END AS ascii_ratio,
       CASE WHEN length(text) > 0 THEN
         ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))
               / length(text), 6) END AS digit_ratio,
       CASE WHEN length(text) > 0 THEN
         ROUND(length(regexp_replace(text, '[^ \t\n\r]', '', 'g'))
               / length(text), 6) END AS space_ratio,
       CASE WHEN length(text) > 0 THEN
         ROUND(length(regexp_replace(text, '[^A-Z]', '', 'g'))
               / length(text), 6) END AS upper_ratio
FROM documents ORDER BY doc_id""",
)
def tx18_charset_stats(spark, sf_dir):
    """Per-document character-class profile (printable-ASCII, digit,
    whitespace, uppercase ratios) — the cheap mojibake / binary-spill /
    boilerplate detector, and a script heuristic via the non-ASCII
    share. Map-only JVM regex counting, fully codegen'd. See
    operators.text.charset_stats."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.charset_stats(docs)


@query(
    "tx19_dup_sentences",
    """WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(trim(text, ' '), '[.!?]+'),
                                    s -> trim(s)),
                     s -> s <> '') AS sents
  FROM documents
)
SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
       CAST(len(list_distinct(sents)) AS BIGINT) AS n_distinct,
       CASE WHEN len(sents) > 0 THEN
         ROUND(1 - len(list_distinct(sents)) * 1.0 / len(sents), 6)
       END AS dup_ratio
FROM s ORDER BY doc_id""",
)
def tx19_dup_sentences(spark, sf_dir):
    """Within-document duplicate-sentence ratio — the self-repetition
    signal (boilerplate footers, template spam) complementing the
    cross-document dd12/dd14 contamination checks. Same [.!?]+
    segmentation convention as tx14; all higher-order array expressions,
    map-only, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    sents = tx.sentences(F.col("text"))
    staged = docs.select("doc_id", sents.alias("_s"))
    return staged.select(
        "doc_id",
        F.size("_s").cast("long").alias("n_sentences"),
        F.size(F.array_distinct("_s")).cast("long").alias("n_distinct"),
        F.when(
            F.size("_s") > 0,
            F.round(
                1 - F.size(F.array_distinct("_s")) * 1.0 / F.size("_s"), 6
            ),
        ).alias("dup_ratio"),
    )


@query("mm7_scene_changes")
def mm7_scene_changes(spark, sf_dir):
    """Shot-boundary statistics per synthetic video (mean/max consecutive
    frame diff + cut count): the scene-change detector a video-curation
    pipeline runs before frame sampling. One Arrow pass; frames never
    leave the decode stage. No oracle (binary media); determinism pinned
    by pytest. See operators.multimodal.scene_change_stats."""
    return (
        mm.scene_change_stats(_media(spark, sf_dir))
        .select(
            "media_id",
            "n_frames",
            F.round("mean_frame_diff", 6).alias("mean_frame_diff"),
            F.round("max_frame_diff", 6).alias("max_frame_diff"),
            "n_cuts",
        )
    )


@query(
    "tx20_lexical_diversity",
    r"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM documents
)
SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
       CASE WHEN len(t) > 0 THEN
         ROUND(len(list_distinct(t)) * 1.0 / len(t), 6)
       END AS ttr
FROM toks ORDER BY doc_id""",
)
def tx20_lexical_diversity(spark, sf_dir):
    """Type-token ratio per document (lexical diversity — low TTR flags
    repetitive/template text, the token-level cousin of the tx19
    sentence signal). Same whitespace tokenization as tx2/tx5; map-only
    higher-order array expressions, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.words(F.col("text"))
    staged = docs.select("doc_id", toks.alias("_t"))
    return staged.select(
        "doc_id",
        F.size("_t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("_t")).cast("long").alias("n_types"),
        F.when(
            F.size("_t") > 0,
            F.round(F.size(F.array_distinct("_t")) * 1.0 / F.size("_t"), 6),
        ).alias("ttr"),
    )


@query(
    "smp10_es_weighted_sample",
    """WITH kd AS (
  SELECT doc_id, n_chars,
         ROUND(POW(GREATEST(
                 ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                   / 16777216.0,
                 1.0 / 16777216.0),
               1.0 / n_chars), 6) AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, es_key
FROM kd ORDER BY es_key DESC, doc_id LIMIT 25""",
)
def smp10_es_weighted_sample(spark, sf_dir):
    """Weighted sample WITHOUT replacement (k=25, weight = document
    length) via Efraimidis-Spirakis exponential keys — the one-pass
    distributed rewrite of sequential draw-and-remove. Deterministic
    md5 uniforms + rounded ordering keys make the selected set
    engine-identical; top-k is per-partition heaps. See
    operators.text.weighted_sample_without_replacement."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.weighted_sample_without_replacement(
        docs, F.col("n_chars"), k=25, key_col="doc_id"
    ).select("doc_id", F.col("n_chars").cast("long").alias("n_chars"), "es_key")


@query(
    "tx21_bigram_entropy",
    r"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM documents
), idx AS (
  SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM toks WHERE len(t) >= 2
), bg AS (
  SELECT doc_id,
         t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS g
  FROM idx
), cnt AS (
  SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2
), tot AS (
  SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY 1
)
SELECT c.doc_id, CAST(MAX(t.n) AS BIGINT) AS n_bigrams,
       SUM(CAST(ROUND(-(c.c * 1.0 / t.n) * LN(c.c * 1.0 / t.n) * 1e9 / LN(2))
                AS BIGINT)) / 1e9 AS bigram_entropy_bits
FROM cnt c JOIN tot t ON c.doc_id = t.doc_id
GROUP BY 1 ORDER BY c.doc_id""",
)
def tx21_bigram_entropy(spark, sf_dir):
    """Per-document word-bigram Shannon entropy in bits — the
    information-density quality signal (templates and keyword-stuffed
    spam sit low; natural prose high). Per-term contributions
    -p*log2(p) are fixed-pointed to 1e-9 before summing, so the entropy
    is engine-identical despite ln()'s last-ulp drift; one (doc, gram)
    aggregate + one per-doc reduction."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.words(F.col("text"))
    staged = docs.select("doc_id", toks.alias("_t")).filter(F.size("_t") >= 2)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_t") - 2),
        lambda i: F.concat_ws(" ", F.col("_t")[i], F.col("_t")[i + 1]),
    )
    bg = staged.select("doc_id", F.explode_outer(grams).alias("g")).filter(
        F.col("g").isNotNull()
    )
    cnt = bg.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    term = F.round(-p * F.log(p) * 1e9 / math.log(2)).cast("long")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_bigrams"),
            (F.sum(term) / 1e9).alias("bigram_entropy_bits"),
        )
    )


@query(
    "tx22_keyword_in_context",
    r"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM documents
), hit AS (
  SELECT doc_id, t, list_position(t, 'customer') AS pos FROM toks
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       array_to_string(t[GREATEST(pos - 3, 1):LEAST(pos + 3, len(t))], ' ')
           AS context
FROM hit WHERE pos IS NOT NULL AND pos > 0 ORDER BY doc_id""",
)
def tx22_keyword_in_context(spark, sf_dir):
    """Keyword-in-context (KWIC) extraction: the ±3-token window around
    each document's FIRST occurrence of a term — the concordance view
    behind corpus exploration and PII/term triage. array_position +
    slice, map-only HOFs, one scan; 1-based positions match between
    engines by construction."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.words(F.col("text"))
    staged = docs.select("doc_id", toks.alias("_t")).select(
        "doc_id", "_t", F.array_position("_t", "customer").alias("pos")
    )
    lo = F.greatest(F.col("pos") - 3, F.lit(1))
    n = F.least(F.col("pos") + 3, F.size("_t")) - lo + 1
    return (
        staged.filter(F.col("pos") > 0)
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.concat_ws(" ", F.slice("_t", lo, n)).alias("context"),
        )
    )


@query(
    "smp11_balanced_downsample",
    """WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn
  FROM documents
), floor_n AS (
  SELECT MIN(cnt) AS n FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY lang)
)
SELECT r.doc_id, r.lang, CAST(r.rn AS BIGINT) AS rn
FROM ranked r, floor_n f WHERE r.rn <= f.n
ORDER BY r.lang, r.rn""",
)
def smp11_balanced_downsample(spark, sf_dir):
    """Class-balanced downsampling: every language keeps exactly
    min-class-count documents, chosen by a deterministic md5-shuffled
    order — the imbalance fix applied before training when upweighting
    is off the table. One per-class window (bounded by class sizes,
    md5 order reproducible across engines) + a broadcast scalar floor."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("42:"), F.col("doc_id").cast("string")).cast("binary")),
        F.col("doc_id"),
    )
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).cast("long").alias("rn")
    )
    floor_n = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(F.min("_c").alias("_n"))
    )
    return (
        ranked.crossJoin(F.broadcast(floor_n))
        .filter(F.col("rn") <= F.col("_n"))
        .select("doc_id", "lang", "rn")
    )


@query(
    "tx23_vocab_coverage",
    r"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM documents
), ex AS (
  SELECT doc_id, unnest(t) AS term FROM toks
), top AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS c FROM ex GROUP BY 1
    ORDER BY c DESC, term LIMIT 100
  )
)
SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN t.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_in_vocab,
       ROUND(SUM(CASE WHEN t.term IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS vocab_coverage
FROM ex e LEFT JOIN top t ON e.term = t.term
GROUP BY 1 ORDER BY e.doc_id""",
)
def tx23_vocab_coverage(spark, sf_dir):
    """Per-document coverage by the corpus's top-100 vocabulary (the
    cheap OOV-rate proxy: low coverage flags jargon, gibberish, or
    out-of-domain text). The vocabulary is a bounded top-k
    (count-ordered, term tiebreak) broadcast against the exploded
    tokens — one corpus aggregate + one map-side membership join. See
    operators.text.vocab_coverage."""
    return tx.vocab_coverage(load_table(spark, sf_dir, "documents"))


@query(
    "tx24_pii_by_source",
    rf"""SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{tx.EMAIL_RE}'))) AS BIGINT)
           AS n_emails,
       CAST(SUM(len(regexp_extract_all(text, '{tx.PHONE_RE}'))) AS BIGINT)
           AS n_phones,
       ROUND(SUM(CASE WHEN len(regexp_extract_all(text, '{tx.EMAIL_RE}')) > 0
                       OR len(regexp_extract_all(text, '{tx.PHONE_RE}')) > 0
                 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS pii_doc_rate
FROM documents GROUP BY 1 ORDER BY source""",
)
def tx24_pii_by_source(spark, sf_dir):
    """PII incidence rollup per source (email/phone match counts and the
    fraction of documents carrying any) — the privacy-audit dashboard
    over tx9's per-document redaction, telling you WHICH feeds need the
    scrubber hardened. Map-only regexp counting (Java∩RE2 patterns) +
    one source-key aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    n_em = F.regexp_count(F.col("text"), F.lit(tx.EMAIL_RE))
    n_ph = F.regexp_count(F.col("text"), F.lit(tx.PHONE_RE))
    staged = docs.select("source", n_em.alias("_e"), n_ph.alias("_p"))
    return (
        staged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_e").cast("long").alias("n_emails"),
            F.sum("_p").cast("long").alias("n_phones"),
            F.round(
                F.sum(
                    F.when((F.col("_e") > 0) | (F.col("_p") > 0), 1).otherwise(0)
                )
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("pii_doc_rate"),
        )
    )


@query(
    "tx25_langid_confusion",
    rf"""WITH toks AS (
  -- COALESCE: NULL text must score 0 on every language and classify
  -- as 'unknown' (the Spark operator's behavior); raw NULL would
  -- propagate through GREATEST to the ELSE branch and mislabel as 'zh'
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(COALESCE(text, ''), ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM documents
), scores AS (
  SELECT doc_id, lang,
         len(list_filter(t, x -> list_contains(['the','a','of','and','in','to','is'], x))) AS en_score,
         len(list_filter(t, x -> list_contains(['el','la','de','que','y','en','los'], x))) AS es_score,
         len(list_filter(t, x -> list_contains(['le','la','de','et','les','des','un'], x))) AS fr_score,
         len(list_filter(t, x -> list_contains(['der','die','das','und','ist','von','ein'], x))) AS de_score,
         len(list_filter(t, x -> list_contains(['的','是','了','在','和','有','我'], x))) AS zh_score
  FROM toks
), pred AS (
  SELECT doc_id, lang,
         CASE
           WHEN GREATEST(en_score, es_score, fr_score, de_score, zh_score) = 0
             THEN 'unknown'
           WHEN en_score = GREATEST(en_score, es_score, fr_score, de_score, zh_score) THEN 'en'
           WHEN es_score = GREATEST(en_score, es_score, fr_score, de_score, zh_score) THEN 'es'
           WHEN fr_score = GREATEST(en_score, es_score, fr_score, de_score, zh_score) THEN 'fr'
           WHEN de_score = GREATEST(en_score, es_score, fr_score, de_score, zh_score) THEN 'de'
           ELSE 'zh' END AS predicted_lang
  FROM scores
)
SELECT lang AS true_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2 ORDER BY 1, 2""",
)
def tx25_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix: the stopword classifier's
    predictions (tx3) counted against the labeled language — the
    accuracy report that decides whether the cheap heuristic suffices
    for routing or a model is needed. Composition: detect_language +
    one (true, predicted) aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pred = tx.detect_language(docs).select("doc_id", "predicted_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@query(
    "smp12_proportional_strata",
    """WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n_g
  FROM documents
)
SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= CAST(ROUND(n_g * 0.2) AS BIGINT)
ORDER BY lang, rn""",
)
def smp12_proportional_strata(spark, sf_dir):
    """Proportional stratified sampling with EXACT per-stratum quotas
    (each language keeps round(20%) of its docs, not a Bernoulli
    approximation — smp2's expectation made a guarantee) over the
    deterministic md5-shuffled order. One per-class window; quota
    arithmetic is integer-exact in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("42:"), F.col("doc_id").cast("string")).cast("binary")),
        F.col("doc_id"),
    )
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("_n"),
    )
    return (
        ranked.filter(F.col("rn") <= F.round(F.col("_n") * 0.2).cast("long"))
        .select("doc_id", "lang", "rn")
    )


@query(
    "tx26_word_length_profile",
    r"""WITH w AS (
  SELECT source, unnest(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS word
  FROM documents
), nz AS (SELECT source, length(word) AS wl FROM w WHERE word <> '')
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wl) AS BIGINT) AS total_chars,
       CAST(MAX(wl) AS BIGINT) AS max_word_len,
       CAST(SUM(CASE WHEN wl > 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_words,
       SUM(wl) / COUNT(*) AS mean_word_len
FROM nz GROUP BY source ORDER BY source""",
)
def tx26_word_length_profile(spark, sf_dir):
    """Per-source word-length profile (mean/max length, long-word count) —
    the OCR-artifact / boilerplate / tokenizer-blowup quality signal a
    corpus intake gate reads before training. Map-only explode + one
    map-combined aggregate; the mean is exact-BIGINT division."""
    docs = load_table(spark, sf_dir, "documents")
    wl = tx.exploded_words(docs, carry_cols=("source",)).select(
        "source", F.length("word").alias("wl")
    )
    return (
        wl.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("wl").cast("long").alias("total_chars"),
            F.max("wl").cast("long").alias("max_word_len"),
            F.sum(F.when(F.col("wl") > 12, 1).otherwise(0))
            .cast("long")
            .alias("n_long_words"),
            (F.sum("wl") / F.count(F.lit(1))).alias("mean_word_len"),
        )
    )


@query(
    "smp13_kfold_assign",
    """SELECT doc_id, lang,
       CAST(CASE WHEN substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 2) < '33' THEN 0
            WHEN substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 2) < '66' THEN 1
            WHEN substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 2) < '99' THEN 2
            WHEN substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 3
            ELSE 4 END AS BIGINT) AS fold
FROM documents ORDER BY doc_id""",
)
def smp13_kfold_assign(spark, sf_dir):
    """Deterministic 5-fold cross-validation assignment by md5 bucket
    ranges — rerun- and engine-stable (no rand()), fold sizes within one
    256th of uniform, map-only. See operators.text.kfold_assign."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        tx.kfold_assign(docs, key_col="doc_id", k=5)
        .select("doc_id", "lang", "fold")
    )


@query(
    "tx27_stopword_profile",
    r"""WITH w AS (
  SELECT lang, doc_id,
         unnest(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS word
  FROM documents
), nz AS (
  SELECT lang, doc_id,
         CASE lang
           WHEN 'en' THEN word IN ('the','a','of','and','in','to','is')
           WHEN 'es' THEN word IN ('el','la','de','que','y','en','los')
           WHEN 'fr' THEN word IN ('le','la','de','et','les','des','un')
           WHEN 'de' THEN word IN ('der','die','das','und','ist','von','ein')
           WHEN 'zh' THEN word IN ('的','是','了','在','和','有','我')
           ELSE FALSE END AS is_stop
  FROM w WHERE word <> ''
)
SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
       SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) / COUNT(*) AS stop_ratio
FROM nz GROUP BY lang ORDER BY lang""",
)
def tx27_stopword_profile(spark, sf_dir):
    """Per-language function-word density, each language scored against
    its OWN stopword list — the corpus-intake sanity check that flags
    mislabeled or machine-generated language buckets (their stopword
    density collapses). One explode + one map-combined aggregate. See
    operators.text.stopword_profile."""
    return tx.stopword_profile(load_table(spark, sf_dir, "documents"))


@query(
    "tx28_ngram_novelty",
    r"""WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS t FROM documents
), sh0 AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM sh0
), df AS (
  SELECT shingle, COUNT(*) AS docfreq FROM sh GROUP BY 1
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN d.docfreq = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       SUM(CASE WHEN d.docfreq = 1 THEN 1 ELSE 0 END) / COUNT(*) AS novelty
FROM sh s JOIN df d USING (shingle)
GROUP BY s.doc_id ORDER BY s.doc_id""",
)
def tx28_ngram_novelty(spark, sf_dir):
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    3-gram shingles that occur in NO other document — the
    information-contribution score dedup-aware data mixing weights by
    (a doc whose shingles all exist elsewhere adds nothing even if no
    single document duplicates it). Shingle hashes shuffle, text does
    not; the docfreq table is aggregated before the join back."""
    docs = load_table(spark, sf_dir, "documents")
    sh, df_ = shingle_hash_docfreq(docs)
    n = F.count(F.lit(1))
    uniq = F.sum(F.when(F.col("docfreq") == 1, 1).otherwise(0))
    return (
        sh.join(df_, "shingle")
        .groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_shingles"),
            uniq.cast("long").alias("n_unique"),
            (uniq / n).alias("novelty"),
        )
    )


@query("tx29_bpe_merges")
def tx29_bpe_merges(spark, sf_dir):
    """Train 8 real BPE merges over the document corpus, distributed —
    the full tokenizer-training LOOP (tx17 is one merge's counts): the
    corpus is scanned once into a word-frequency table; each iteration
    is a map-combined pair count over DISTINCT words + a one-row driver
    argmax + an Arrow-batched merge application (lineage checkpointed
    every 3 iterations). No oracle (iterative
    argmax chain is not SQL-expressible); the merge sequence is pinned
    by pytest parity vs a sequential pure-python BPE
    (tests/test_round6.py). See operators.text.bpe_train."""
    return tx.bpe_train(
        load_table(spark, sf_dir, "documents"), n_merges=8
    )


@query(
    "tx30_doc_entropy",
    r"""WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS w
  FROM documents
), wc AS (
  SELECT doc_id, w, COUNT(*) AS c FROM toks WHERE w <> '' GROUP BY 1, 2
), tot AS (
  SELECT doc_id, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM wc GROUP BY 1
)
SELECT wc.doc_id, CAST(t.n AS BIGINT) AS n_tokens, t.n_distinct,
       ROUND(SUM(CAST(ROUND(-(wc.c / t.n) * log2(wc.c / t.n) * 1e9) AS BIGINT))
             / 1e9, 6) AS entropy
FROM wc JOIN tot t ON wc.doc_id = t.doc_id
GROUP BY 1, 2, 3 ORDER BY wc.doc_id""",
)
def tx30_doc_entropy(spark, sf_dir):
    """Per-document unigram word entropy (bits): the within-doc
    repetition/diversity signal a quality classifier uses alongside
    tx20's type-token diversity (entropy also weights HOW skewed the
    repetition is, not just how many types). Token counts shuffle once
    on doc_id; totals come from a per-doc window (bounded by doc
    length), and each p*log2(p) term is fixed-pointed (1e-9 -> BIGINT)
    before summing so the per-doc sum is accumulation-order-proof."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        tx.exploded_words(docs, carry_cols=("doc_id",))
        .groupBy("doc_id", F.col("word").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wdoc = Window.partitionBy("doc_id")
    staged = wc.select(
        "doc_id",
        "c",
        F.sum("c").over(wdoc).alias("n"),
        F.count(F.lit(1)).over(wdoc).cast("long").alias("n_distinct"),
    )
    p = F.col("c") / F.col("n")
    return (
        staged.groupBy("doc_id", F.col("n").cast("long").alias("n_tokens"), "n_distinct")
        .agg(
            F.round(
                fp_sum(-p * F.log2(p)), 6
            ).alias("entropy")
        )
    )


@query(
    "smp14_anchor_positive_pairs",
    """SELECT source, doc_id AS anchor_id,
       LEAD(doc_id) OVER w AS positive_id,
       n_chars AS anchor_chars,
       LEAD(n_chars) OVER w AS positive_chars
FROM documents
WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
QUALIFY positive_id IS NOT NULL
ORDER BY source, anchor_id""",
)
def smp14_anchor_positive_pairs(spark, sf_dir):
    """Contrastive-learning pair construction: within each source,
    chain documents sorted by (length, id) so every doc is paired with
    its nearest-longer neighbor — a deterministic, join-free
    anchor/positive sampler (the "same-domain, similar-length" heuristic
    used to mine weak positives when no labels exist). One window per
    source partition; no self-join, so the pair count is exactly
    n_docs - n_sources regardless of corpus size. Skew caveat for
    100 TB: a single dominant source makes its window partition a
    single-task sort — shard such a source by an n_chars band first
    (chains then break only at band edges, losing one pair per band,
    which the mining use-case tolerates)."""
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            F.col("doc_id").alias("anchor_id"),
            F.lead("doc_id").over(w).alias("positive_id"),
            F.col("n_chars").alias("anchor_chars"),
            F.lead("n_chars").over(w).alias("positive_chars"),
        )
        .filter(F.col("positive_id").isNotNull())
    )


@query(
    "tx31_word_burstiness",
    r"""WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS w
  FROM documents
), wc AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE w <> '' GROUP BY 1, 2
), s AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(c) AS BIGINT) AS total, CAST(SUM(c * c) AS BIGINT) AS sq
  FROM wc GROUP BY 1
)
SELECT w AS word, n_docs, total,
       ROUND((CAST(sq AS DOUBLE) / n_docs
              - (CAST(total AS DOUBLE) / n_docs) * (CAST(total AS DOUBLE) / n_docs))
             / (CAST(total AS DOUBLE) / n_docs), 6) AS burstiness
FROM s ORDER BY total DESC, word LIMIT 20""",
)
def tx31_word_burstiness(spark, sf_dir):
    """Church-Gale word burstiness for the top-20 corpus words: the
    variance-to-mean ratio of per-document counts among documents
    containing the word — ~1 for Poisson "background" words, >>1 for
    topical words that clump (the signal separating content words from
    function words without any stopword list). Integer moment sums are
    exact; one (doc, word) shuffle then one word-keyed aggregate; the
    top-20 is TakeOrdered with a total order (total DESC, word)."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        tx.exploded_words(docs, carry_cols=("doc_id",))
        .groupBy("doc_id", F.col("word").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    s = wc.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
    )
    mean = F.col("total").cast("double") / F.col("n_docs")
    return (
        s.select(
            F.col("w").alias("word"),
            "n_docs",
            "total",
            F.round(
                (F.col("sq").cast("double") / F.col("n_docs") - mean * mean)
                / mean,
                6,
            ).alias("burstiness"),
        )
        .orderBy(F.col("total").desc(), "word")
        .limit(20)
    )


@query(
    "tx32_vocab_coverage_curve",
    r"""WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS w
  FROM documents
), wc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks WHERE w <> '' GROUP BY 1
), top AS (
  SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk
  FROM wc ORDER BY c DESC, w LIMIT 10000
), cum AS (
  SELECT rnk,
         SUM(c) OVER (ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum_c,
         (SELECT SUM(c) FROM wc) AS total,
         (SELECT COUNT(*) FROM wc) AS vocab
  FROM top
)
SELECT CAST(rnk AS BIGINT) AS vocab_size,
       CAST(cum_c AS BIGINT) AS covered_tokens,
       CAST(total AS BIGINT) AS total_tokens,
       ROUND(CAST(cum_c AS DOUBLE) / total, 6) AS coverage
FROM cum
WHERE rnk IN (1, 2, 5, 10, 20, 50, 100, 1000, 10000) OR rnk = vocab
ORDER BY vocab_size""",
)
def tx32_vocab_coverage_curve(spark, sf_dir):
    """Tokenizer vocab-sizing curve: what fraction of all corpus tokens
    the top-k most frequent words cover, at log-spaced checkpoints (and
    at the full vocabulary) — the first plot drawn when choosing a
    vocab size or a BPE merge budget (tx29). The curve runs on the
    TOP-10k frame only: TakeOrdered bounds the global sort at any
    corpus size, then the cumulative window covers <= 10k rows on one
    partition (bounded-domain argument); corpus-scale work is a single
    map-side-combined word count. Checkpoints past the cap would need
    the cap raised — documented, not silent: the cap IS the top-k. See
    operators.text.vocab_coverage_curve."""
    return tx.vocab_coverage_curve(
        load_table(spark, sf_dir, "documents")
    )


@query(
    "tx33_hapax_by_source",
    r"""WITH toks AS (
  SELECT source,
         unnest(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) AS w
  FROM documents
), wc AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE w <> '' GROUP BY 1, 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(c) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
       ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS hapax_ratio
FROM wc GROUP BY 1 ORDER BY source""",
)
def tx33_hapax_by_source(spark, sf_dir):
    """Hapax-legomena vocabulary profile per source: vocabulary size,
    token mass, and the share of words that appear exactly once — the
    corpus-health statistic behind vocab sizing (a high hapax ratio
    flags noisy/OCR-damaged sources whose 'vocabulary' is mostly
    typos; Zipf's law predicts ~50% for clean natural text, which
    tx15's slope fit complements). One explode + one (source, word)
    hash-agg with map-side partial combine, then a per-source rollup
    whose output is bounded by the source cardinality. Tokens never
    leave the executor un-aggregated."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        tx.exploded_words(docs, carry_cols=("source",))
        .groupBy("source", F.col("word").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.sum("c").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax_count"),
            F.round(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("hapax_ratio"),
        )
    )


@query(
    "tx35_doc_length_gini",
    """WITH rk AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS i,
         COUNT(*) OVER (PARTITION BY source) AS n,
         SUM(n_chars) OVER (PARTITION BY source) AS tot
  FROM documents
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(MAX(tot) AS BIGINT) AS total_chars,
       ROUND(2.0 * SUM(i * n_chars) / (MAX(n) * MAX(tot))
             - (MAX(n) + 1.0) / MAX(n), 6) AS length_gini
FROM rk GROUP BY 1 ORDER BY source""",
)
def tx35_doc_length_gini(spark, sf_dir):
    """Gini coefficient of document lengths per source (0 = every doc
    contributes equally, ->1 = a few giants carry the corpus) — the
    corpus-contribution inequality profile that tells a training-data
    curator whether char-budget sampling will starve a source's tail.
    a18's sorted-rank closed form 2*Σ(i*x_i)/(n*Σx) - (n+1)/n on the
    integer n_chars column (ties broken by doc_id so both engines rank
    identically); ranks and sums are exact integer arithmetic, one
    source-key window + one aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    ws = Window.partitionBy("source")
    wr = ws.orderBy("n_chars", "doc_id")
    rk = docs.select(
        "source",
        "n_chars",
        F.row_number().over(wr).alias("_i"),
        F.count(F.lit(1)).over(ws).alias("_n"),
        F.sum("n_chars").over(ws).alias("_t"),
    )
    return (
        rk.groupBy("source")
        .agg(
            F.max("_n").cast("long").alias("n_docs"),
            F.max("_t").cast("long").alias("total_chars"),
            F.round(
                2.0
                * F.sum(F.col("_i") * F.col("n_chars"))
                / (F.max("_n") * F.max("_t"))
                - (F.max("_n") + 1.0) / F.max("_n"),
                6,
            ).alias("length_gini"),
        )
    )


@query(
    "tx36_readability",
    r"""WITH m AS (
  SELECT source,
         len(list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                         x -> x <> '')) AS words,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
  FROM documents
),
fre AS (
  SELECT source,
         CAST(ROUND((206.835 - 1.015 * (words * 1.0 / sentences)
                     - 84.6 * (syllables * 1.0 / words)) * 1e6)
              AS BIGINT) AS s
  FROM m WHERE words > 0
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_scored,
       (SUM(s) / 1e6) / COUNT(*) AS avg_flesch
FROM fre GROUP BY 1 ORDER BY source""",
)
def tx36_readability(spark, sf_dir):
    """Flesch reading-ease per source (206.835 - 1.015*words/sentence -
    84.6*syllables/word, syllables approximated by vowel-group count —
    the standard no-dictionary heuristic): the curation signal that
    separates technical/legalese sources from conversational ones,
    which tx16's length/charset quality gate cannot see. No other
    registered query scores readability or syllables. Map-only regex counting per doc
    (identical '[aeiouy]+' semantics in Java regex and RE2), per-doc
    scores fixed-pointed to 1e-6 BIGINTs before the source-key sum so
    the average is engine-identical. A terminator-less document counts
    as ONE sentence (the standard readability-library fallback) — the
    synthetic corpus contains zero '[.!?]' characters, so without the
    fallback this query returns 0 rows and its oracle 'passes'
    degenerately (the a26 hazard, checked by inspection per
    BENCHNOTES); wordless docs are excluded via n_docs_scored."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(tx.words(F.col("text")))
    sentences = F.greatest(
        F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
    )
    syllables = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
    m = docs.select(
        "source",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).filter(F.col("words") > 0)
    fre = (
        206.835
        - 1.015 * (F.col("words") * 1.0 / F.col("sentences"))
        - 84.6 * (F.col("syllables") * 1.0 / F.col("words"))
    )
    return (
        m.select("source", F.round(fre * 1e6).cast("long").alias("_s"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_scored"),
            ((F.sum("_s") / 1e6) / F.count(F.lit(1))).alias("avg_flesch"),
        )
    )
