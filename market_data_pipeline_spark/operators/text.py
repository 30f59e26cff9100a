"""Text analysis operators (SURVEY §7 Phase 6): quality scoring, token
counting, language-ID heuristic, fingerprinting.

All built-in expressions (split/filter/transform/regexp_count) — no UDFs;
everything stays in whole-stage codegen and scales as a map-only pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from market_data_pipeline_spark.operators.analytics import global_ntile, global_rank
from market_data_pipeline_spark.operators.util import ensure_parallelism

# Per-language stopword marker lists for the n-gram/stopword heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "in", "to", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein"],
    "zh": ["的", "是", "了", "在", "和", "有", "我"],
}

TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]"


def tokens(text_col: Column) -> Column:
    """Whitespace tokens of trimmed, lowercased text."""
    return F.split(F.lower(F.trim(text_col)), r"[ \t\n\x0B\f\r]+")


def words(text_col: Column) -> Column:
    """:func:`tokens` without the empty strings that blank text and
    leading non-space whitespace (trim strips spaces only) leave."""
    return F.filter(tokens(text_col), lambda x: x != "")


def sentences(text_col: Column) -> Column:
    """Sentences of space-trimmed text: split on runs of ``.``, ``!`` and
    ``?``, each piece trimmed, empty pieces dropped; case is kept."""
    return F.filter(
        F.transform(F.split(F.trim(text_col), r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def token_count(text_col: Column) -> Column:
    """Whitespace token count (int)."""
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: Column) -> Column:
    """BPE-ish subword proxy: count of letter-runs, digit-runs, and
    individual punctuation marks. A cheap stand-in for a real tokenizer's
    token count, adequate for budget/quality filtering."""
    return F.regexp_count(text_col, F.lit(TOKEN_PATTERN))


def exploded_words(
    df: DataFrame, text_col: str = "text", carry_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """One row per non-empty lowercased whitespace token, carrying
    ``carry_cols`` — the shared explode scaffold of the word-level
    profile queries (tx26, f15; r9 verdict #6 extraction). Map-only;
    NULL-text rows vanish (explode_outer emits a NULL word, filtered).
    Returns (*carry_cols, word)."""
    return df.select(
        *carry_cols,
        F.explode_outer(
            words(F.col(text_col))
        ).alias("word"),
    ).filter(F.col("word").isNotNull())


def own_language_stopword_flag(
    lang_col: str = "lang", word_col: str = "word"
) -> Column:
    """Boolean Column: the word is a stopword of the row's OWN language
    (rows whose language has no list score False) — shared by the
    stopword-density features (tx27's profile, f15's matrix)."""
    flag = F.lit(False)
    for lang, words_ in STOPWORDS.items():
        flag = F.when(F.col(lang_col) == lang, F.col(word_col).isin(*words_)).otherwise(
            flag
        )
    return flag


def quality_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality features: char/token counts, mean token length,
    stopword ratio, punctuation ratio, all-caps flag.

    The quality-scoring idiom generalizes the reference's validation
    chain (reference: scripts/sync_delisted_stocks.py:50-101) from
    hard filters to soft scores.
    Returns one row per doc with feature columns.
    """
    # stage the token array and scalar counts into materialized columns so
    # the split/filter subtrees are computed once per row, not once per
    # referencing expression (Catalyst inlines projections)
    staged = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("char_count"),
        tokens(F.col(text_col)).alias("_toks"),
        F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9 \t\n\x0B\f\r]", "")).alias("punct_count"),
    ).select(
        F.col(id_col),
        "char_count",
        F.size(F.col("_toks")).alias("token_count"),
        F.size(F.filter(F.col("_toks"), lambda x: x.isin(*STOPWORDS["en"]))).alias("stop_count"),
        "punct_count",
    )
    return staged.select(
        F.col(id_col),
        "char_count",
        "token_count",
        (F.col("char_count").cast("double") / F.col("token_count")).alias("chars_per_token"),
        "stop_count",
        (F.col("stop_count").cast("double") / F.col("token_count")).alias("stop_ratio"),
        "punct_count",
        (F.col("punct_count").cast("double") / F.col("char_count")).alias("punct_ratio"),
    )


def detect_language(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-frequency language ID: score each language by its marker
    hits; argmax with a fixed language order for deterministic ties.

    Returns (id_col, predicted_lang, <lang>_score...).
    """
    langs = list(STOPWORDS)
    # stage tokens, then scores, so the split runs once and each score
    # once (the argmax references every score several times)
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")).select(
        F.col(id_col),
        *[
            F.size(F.filter(F.col("_toks"), lambda x: x.isin(*STOPWORDS[lang]))).alias(
                f"{lang}_score"
            )
            for lang in langs
        ],
    )
    scores = {lang: F.col(f"{lang}_score") for lang in langs}
    # deterministic argmax: first language (in declared order) holding the
    # max positive score wins ties
    max_score = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("unknown")
    for lang in reversed(langs):
        pred = F.when((scores[lang] == max_score) & (max_score > 0), F.lit(lang)).otherwise(pred)
    return staged.select(
        F.col(id_col),
        pred.alias("predicted_lang"),
        *[scores[lang].alias(f"{lang}_score") for lang in langs],
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic 64-bit content fingerprint (xxhash64 of normalized
    text: lowercased, whitespace-collapsed). The normalization makes the
    fingerprint robust to formatting-only edits — the practical use of the
    reference's exact dedup generalized to content identity.
    Returns (id_col, fingerprint)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[ \t\n\x0B\f\r]+", " ")
    return df.select(F.col(id_col), F.xxhash64(normalized).alias("fingerprint"))


# Regexes kept to syntax shared by Java regex (Spark) and RE2/PCRE-lite
# (DuckDB): no lookaround, no backrefs — identical matches on both engines.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d\- ]{7,}\d"


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Regex-based PII scrubbing: emails and phone-shaped digit runs are
    replaced with typed placeholders — the first pass every training-data
    pipeline runs over raw text. Map-only, all codegen (regexp_replace /
    regexp_count), no shuffle.

    This is the pattern layer only; a production deployment adds NER-model
    passes behind the same (id, text) -> (id, text, counts) contract.
    Returns (id_col, text redacted, n_emails, n_phones).
    """
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
        ).alias(text_col),
        F.regexp_count(c, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(c, F.lit(PHONE_RE)).alias("n_phones"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (tf * ln(N / df), N = documents containing at least one token).

    The canonical corpus-statistics shape: explode tokens -> per-(doc,
    term) counts (one shuffle, map-side combined) -> per-term document
    frequency (aggregates the already-distinct (doc, term) rows) -> score
    join on term -> per-doc top-k window. The corpus size N is a 1-row
    aggregate broadcast back as a cross join — no driver action, no
    collect. Ranking uses the ROUNDED score (engines differ in ln()'s
    last ulp; rounding first makes the top-k order engine-independent,
    term as tiebreak).
    Returns (id_col, term, tf, df, tfidf, rnk<=k).
    """
    toks = (
        df.select(F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
    )
    # tf feeds three consumers (itself, document frequency, corpus size N);
    # without materialization Catalyst re-runs the scan+explode+aggregate
    # per consumer — three passes over the corpus (plan audit showed 3
    # scans). localCheckpoint materializes the (doc, term, tf) partials
    # once; at cluster scale this is a persist() of the same frame.
    tf = (
        toks.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select(id_col).distinct().agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(docfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("_n").cast("double") / F.col("df")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rnk")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the context-length chunking step of an embedding/RAG ingestion
    pipeline. Chunk starts stride by (chunk_tokens - overlap); the last
    chunk is short rather than padded. Map-only: the token array is
    staged once per row (see :func:`rolling_fingerprint` for why), chunk
    generation is one posexplode — output rows ≈ input tokens / stride,
    no shuffle.
    Returns (id_col, chunk_idx, chunk_text, n_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(step))
    return (
        staged.select(
            F.col(id_col),
            toks,
            F.posexplode_outer(starts).alias("chunk_idx", "_start"),
        )
        .filter(F.col("_start").isNotNull())
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.array_join(F.slice(toks, F.col("_start"), chunk_tokens), " ").alias(
                "chunk_text"
            ),
            F.least(
                F.lit(chunk_tokens), F.size(toks) - F.col("_start") + 1
            ).cast("long").alias("n_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign documents to fixed-token-budget packs — the concat-then-
    chunk sequence packing of LLM pretraining loaders, made deterministic
    and distributed.

    A single global running sum would serialize on one task; instead
    documents are sharded by an md5 prefix of the id (engine-independent,
    rerun-stable — same idiom as the hash sampler) and packed WITHIN each
    shard by a cumulative token sum over the (shard, id) order:
    ``pack_no = (cumsum - n_tokens) // budget``. One shuffle on the shard
    key; each shard's packs are independent, which is exactly how packing
    shards across loader workers behaves in production. A document longer
    than the budget occupies its pack and bleeds into the next — standard
    greedy-concat semantics, not bin packing.
    Returns (id_col, shard, n_tokens, pack_no).
    """
    shard = F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 1)
    staged = df.select(
        F.col(id_col),
        shard.alias("shard"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return staged.select(
        F.col(id_col),
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / budget).cast("long").alias("pack_no"),
    )


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    val_from: str = "cc",
    test_from: str = "e6",
) -> DataFrame:
    """Deterministic 3-way split by md5 prefix of ``key_col``: hex bucket
    00..(val_from) -> train (~80% at the defaults), ..(test_from) -> val
    (~10%), rest -> test. Keying on a GROUP column (source, domain, url
    host) keeps whole groups in one split — the leakage guard every
    training pipeline needs; keying on the doc id gives an iid split.
    Engine-independent and rerun-stable (no rand()), map-only.
    Adds a ``split`` column.
    """
    h = F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 2)
    return df.withColumn(
        "split",
        F.when(h < val_from, "train").when(h < test_from, "val").otherwise("test"),
    )


def rolling_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", window: int = 8
) -> DataFrame:
    """Winnowing-style rolling fingerprint: min token-window hash.

    Hashes every ``window``-token sliding span and keeps the minimum — a
    cheap document sketch whose collision across docs implies a shared
    span (plagiarism/near-dup signal). Built-ins only.
    Returns (id_col, min_span_hash, n_spans)."""
    # stage the token array first: inlining the split into every span's
    # element accesses recomputes it window-times per span (measured 40x
    # slower at sf0.1)
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    # guard, don't greatest(): sequence(1, 0) is DESCENDING [1, 0] and the
    # i=0 element crashes 1-indexed slice (same trap as shingles_from_tokens)
    idx = F.when(
        F.size(toks) >= window, F.sequence(F.lit(1), F.size(toks) - (window - 1))
    ).otherwise(F.array().cast("array<int>"))
    span_hashes = F.transform(
        idx, lambda i: F.xxhash64(F.array_join(F.slice(toks, i, window), " "))
    )
    return staged.select(
        F.col(id_col),
        F.array_min(span_hashes).alias("min_span_hash"),
        F.size(span_hashes).alias("n_spans"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    r"""Gopher-style repetition quality signals (Rae et al. 2021,
    arXiv:2112.11446 appendix A1.1), word-n-gram flavor: fraction of
    duplicate token bigrams and the share of the single most repeated
    bigram / token. High values mark boilerplate and degenerate
    machine-generated text — the standard pretraining quality filter.

    Map-only (one Arrow-batched ``mapInPandas`` stage, no shuffle). A
    JVM higher-order-function form was measured first but rejected: the
    top-gram count as ``transform(array_distinct(a), g -> size(filter(a,
    x -> x = g)))`` is interpreted (HOFs don't codegen) and O(distinct x
    total) PER DOCUMENT — ~2x slower at sf0.1 already and quadratic in
    document length, which a 100k-token document turns into 10^10
    comparisons. A per-doc Counter pass is O(n) and stays inside one
    Arrow batch; mapInPandas (not a struct-returning pandas_udf)
    guarantees single evaluation — CollapseProject expands a
    deterministic struct UDF once per projected field.

    Tokenization is ``re.split(r"[ \t\n\x0B\f\r]+", ..., re.ASCII)`` of the trimmed
    lowercased text — identical to :func:`tokens` and the DuckDB
    oracle's ``string_split_regex`` (including the [''] result on empty
    text), so counts and integer-ratio fractions hash-match the oracle
    exactly. The explicit ``[ \t\n\x0B\f\r]`` class is load-bearing:
    Python ``\s`` is UNICODE whitespace (NBSP, U+2028, U+3000 split
    there but nowhere else — found by `scripts/sweep.py unicode`), and
    RE2's ASCII ``\s`` lacks ``\x0B`` while Java's includes it (r9
    ADVICE #1), so every engine gets the same literal class.
    Returns (id, n_tokens, n_2grams, dup_2gram_frac, top_2gram_frac,
    top_token_frac) with NULL fractions for degenerate (<=1 token) docs.
    """
    import re as _re
    from collections import Counter

    import pandas as pd

    id_type = df.schema[id_col].dataType
    ws = _re.compile(r"[ \t\n\x0B\f\r]+", _re.ASCII)

    def stats(pdf_iter):
        for pdf in pdf_iter:
            out = {
                id_col: pdf[id_col],
                "n_tokens": [], "n_2grams": [], "dup_2gram_frac": [],
                "top_2gram_frac": [], "top_token_frac": [],
            }
            for t in pdf[text_col]:
                # strip(" "): F.trim and DuckDB trim remove ASCII spaces
                # only; bare .strip() eats Unicode whitespace (NBSP) too
                toks = ws.split((t or "").strip(" ").lower())
                n = len(toks)
                bgs = [toks[i] + " " + toks[i + 1] for i in range(n - 1)]
                nb = len(bgs)
                cb, ct = Counter(bgs), Counter(toks)
                out["n_tokens"].append(n)
                out["n_2grams"].append(nb)
                out["dup_2gram_frac"].append(1.0 - len(cb) / nb if nb else None)
                out["top_2gram_frac"].append(max(cb.values()) / nb if nb else None)
                out["top_token_frac"].append(max(ct.values()) / n if n else None)
            yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        stats,
        T.StructType(
            [T.StructField(id_col, id_type)]
            + [T.StructField(c, T.LongType()) for c in ("n_tokens", "n_2grams")]
            + [
                T.StructField(c, T.DoubleType())
                for c in ("dup_2gram_frac", "top_2gram_frac", "top_token_frac")
            ]
        ),
    )


def shuffle_shards(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 8,
    seed: str = "42",
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export:
    order the corpus by ``md5(seed:key)`` (a reproducible pseudo-random
    permutation — re-running with the same seed yields byte-identical
    shards, unlike rand()) and deal it into ``n_shards`` equal shards with
    a stable position inside each shard.

    Plan shape: the global order is realized by
    :func:`..analytics.global_ntile`'s range-partitioned rank (never a
    partition-less window); the within-shard position is a window
    partitioned by shard — n_shards-way parallelism by construction,
    which matches the export sink exactly (one writer task per shard
    emitting rows in pos order).
    Returns (key, shard 1..n_shards, pos 1..shard_size).
    """
    h = F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(key_col).cast("string")).cast("binary")
    )
    hashed = df.select(F.col(key_col), h.alias("_h"))
    sharded = global_ntile(
        hashed, [F.col("_h"), F.col(key_col)], n_shards, out_col="shard"
    )
    w = Window.partitionBy("shard").orderBy("_h", key_col)
    return sharded.select(
        F.col(key_col),
        F.col("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


def weighted_sample(
    df: DataFrame,
    prob: Column,
    key_col: str = "doc_id",
    seed: str = "42",
) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep each row with
    probability ``prob`` (a per-row Column in [0, 1], e.g. a quality
    score or length weight), decided by comparing an md5-derived uniform
    against it — reproducible and engine-independent where rand(weight)
    is neither. Map-only, no shuffle; the uniform is the first 6 md5 hex
    digits of (seed:key) scaled by 16^-6, exact in double on any engine.
    """
    h = F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(key_col).cast("string")).cast("binary")
    )
    u = F.conv(F.substring(h, 1, 6), 16, 10).cast("long") / F.lit(16777216.0)
    return df.filter(u < prob)


def domain_quota_sample(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    size_col: str = "n_chars",
    key_col: str = "doc_id",
    seed: str = "42",
) -> DataFrame:
    """Per-domain quota filling for training-data mixing: within each
    group (source / domain / language), order documents by an md5-seeded
    pseudo-random permutation and keep them while the cumulative size
    stays within ``budget`` — the deterministic form of "sample each
    domain down to its token allocation" (the DoReMi/Pile-style mixture
    step, with the target weights expressed as per-domain budgets).

    One shuffle on the group key; the running sum is a per-group window
    (groups are independent, so parallelism = number of domains — at 100
    TB domains are further split by a hash suffix exactly like
    :func:`pack_sequences` shards). Deterministic per seed: re-running
    selects byte-identical documents.
    Returns (key, group, size, cum_size) for kept rows.
    """
    h = F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(key_col).cast("string")).cast("binary")
    )
    staged = df.select(
        F.col(key_col), F.col(group_col), F.col(size_col), h.alias("_h")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("_h", key_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(size_col).over(w)
    return (
        staged.withColumn("cum_size", cum.cast("long"))
        .filter(F.col("cum_size") <= budget)
        .select(key_col, group_col, size_col, "cum_size")
    )


def lm_quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unigram language-model quality score (the CCNet-style LM filter
    with the corpus itself as the LM): each document's mean token
    log-probability under the corpus unigram distribution. Gibberish and
    rare-token-heavy documents score low; boilerplate scores high —
    filter both tails.

    Shape mirrors :func:`tfidf_top_terms`: one explode, the (term)
    frequency table built with map-side combine, the corpus total as a
    broadcast 1-row aggregate, one per-doc aggregate. The exploded token
    frame feeds two consumers (vocab and scoring), so it is
    localCheckpointed once — at cluster scale a persist() of the same
    frame. The mean rounds to 6dp (averaging order is engine-internal;
    ln() ULP differences are far below that).
    Returns (id_col, n_tokens, avg_logprob).
    """
    toks = (
        df.select(F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
        .localCheckpoint(eager=False)
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    total = toks.agg(F.count(F.lit(1)).alias("_n"))
    return (
        toks.join(vocab, "term")
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("freq") / F.col("_n").cast("double"))), 6
            ).alias("avg_logprob"),
        )
    )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25 (the
    full-text-relevance counterpart of :func:`tfidf_top_terms`;
    Robertson/Sparck-Jones with the Lucene non-negative idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

    Scale shape: the exploded token stream is filtered to the query's
    terms BEFORE the (doc, term) aggregation, so the shuffle carries only
    matching tokens (a handful of terms out of the corpus vocabulary —
    at 100 TB this is the difference between shuffling every token and
    shuffling a sliver). Corpus size N and average document length come
    from one 1-row aggregate over per-doc lengths, broadcast back; df per
    query term aggregates the already-tiny (doc, term) frame.

    Determinism: each term's contribution is rounded to 6 dp and summed
    as scaled BIGINT micro-units — float addition is not associative, so
    summing doubles across terms would be partition-order-dependent;
    integer micro-unit sums are exact and order-free. Ranking uses the
    rounded score with id tiebreak.
    Returns (id_col, n_terms, score) ordered by (score desc, id) top-k.
    """
    staged = df.select(
        F.col(id_col),
        words(F.col(text_col)).alias("_toks"),
    )
    stats = staged.select(F.size("_toks").cast("long").alias("_dl")).agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )
    qlit = [t.lower() for t in query_terms]
    # dl rides along as a grouping key (functionally dependent on the doc
    # id, so cardinality is unchanged) — this avoids a second full-corpus
    # frame of per-doc lengths that would otherwise need a shuffle join
    # (it could never be broadcast: one row per document).
    tf = (
        staged.select(
            F.col(id_col), F.size("_toks").cast("long").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .filter(F.col("term").isin(qlit))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # feeds both df-per-term and the scoring join; without this the
        # scan+explode reruns per consumer (plan audit: 3 scans -> 2)
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_c",
            F.round(
                F.col("idf")
                * F.col("tf")
                * (k1 + 1)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
                ),
                6,
            ),
        )
        .withColumn("_c_micro", F.round(F.col("_c") * 1e6).cast("long"))
    )
    scored = contrib.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        (F.sum("_c_micro") / 1e6).alias("score"),
    )
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition heaps,
    # no global-window single task); the rounded score + id tiebreak makes
    # the cutoff deterministic
    return scored.select(id_col, "n_terms", "score").orderBy(
        F.desc("score"), F.col(id_col)
    ).limit(k)


def crossdoc_ngram_stats(
    df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-corpus n-gram duplication: for each document,
    the fraction of its distinct word n-grams that also appear in at
    least one OTHER document (the Gopher-style "duplicated n-gram"
    contamination signal, measured across documents rather than within
    one — complements repetition_stats, which is within-doc).

    Shape: one scan -> per-doc DISTINCT n-gram set (array_distinct before
    explode, so a gram repeated inside a doc costs one row) -> per-gram
    doc-count aggregate -> join back -> per-doc ratio. The shuffle key is
    ``xxhash64(gram)``, not the gram string: a 5-gram averages ~30 bytes
    and the hash is 8 — at 100 TB that is a 4x shuffle-width cut. The
    gram string itself never leaves the map side. (A 64-bit collision
    would merge two grams' doc-counts; at 10^10 distinct grams the
    expected number of colliding PAIRS is ~3 — noise for a quality
    signal.)
    Returns (id_col, n_grams, n_dup_grams, dup_frac) one row per doc with
    at least one n-gram.
    """
    toks = words(F.col(text_col))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("_toks") - n + 1, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n)),
        )
    )
    exploded = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select(F.col(id_col), F.explode(grams).alias("_gram"))
        .select(F.col(id_col), F.xxhash64("_gram").alias("_gh"))
        .localCheckpoint(eager=False)  # feeds both the per-gram doc-count
        # aggregate and the join back; one materialization, two consumers
    )
    gram_docs = exploded.groupBy("_gh").agg(F.count(F.lit(1)).alias("_docs"))
    return (
        exploded.join(gram_docs, "_gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("_docs") >= 2).cast("long")).alias("n_dup_grams"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_grams") / F.col("n_grams").cast("double"), 6),
        )
    )


def temperature_resample(
    df: DataFrame,
    temperature: float = 2.0,
    scale: float = 1.0,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "42",
) -> DataFrame:
    """Temperature-flattened domain mixing WITH replacement: resample so
    group g's share moves from p_g to p_g^(1/T) / Σ p^(1/T) (T>1
    upsamples small domains — the multilingual/multi-domain mixing rule
    of mT5/XLM-R — T=1 is a no-op, scale rescales the whole corpus).

    Every document in group g is emitted floor(m_g) times plus one more
    with probability frac(m_g), decided by the same md5-uniform idiom as
    :func:`weighted_sample` — deterministic, engine-independent, no
    rand(). m_g = scale * (target share / current share).

    Shape: one tiny group-count aggregate joined back (broadcast — the
    group cardinality is domains, not documents), then a map-only
    ``explode(sequence(1, n_copies))``. Σ p^(1/T) accumulates in scaled
    BIGINT nano-units (float sums are order-dependent); m_g rounds to
    6 dp so both engines floor/frac the same value.
    Returns (key, group, copy_idx >= 1), copies adjacent by source key.
    """
    # one row per domain; checkpointed because the multiplier algebra
    # consumes it four times (total, powered shares, denominator, join)
    # and each consumer would otherwise recompute the corpus scan
    counts = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_gn"))
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("_gn").alias("_tot"))
    invt = 1.0 / temperature
    share = F.col("_gn") / F.col("_tot").cast("double")
    powed = counts.join(F.broadcast(total)).withColumn(
        "_pw", F.round(F.pow(share, F.lit(invt)), 9)
    ).localCheckpoint(eager=False)
    denom = powed.agg(
        (F.sum(F.round(F.col("_pw") * 1e9).cast("long")) / 1e9).alias("_sumpw")
    )
    mult = (
        powed.join(F.broadcast(denom))
        .withColumn(
            "_m",
            F.round(
                F.lit(scale) * (F.col("_pw") / F.col("_sumpw")) / share, 6
            ),
        )
        .select(group_col, "_m")
    )
    h = F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(key_col).cast("string")).cast("binary")
    )
    u = F.conv(F.substring(h, 1, 6), 16, 10).cast("long") / F.lit(16777216.0)
    n_copies = (
        F.floor("_m").cast("long")
        + (u < (F.col("_m") - F.floor("_m"))).cast("long")
    )
    return (
        df.join(F.broadcast(mult), group_col)
        .withColumn("_n", n_copies)
        .select(
            F.col(key_col),
            F.col(group_col),
            # sequence(1, 0) defaults to step -1 and yields [1, 0] — guard
            # zero-copy rows to NULL, which explode drops
            F.explode(
                F.when(
                    F.col("_n") >= 1,
                    F.sequence(F.lit(1).cast("long"), F.col("_n")),
                )
            ).alias("copy_idx"),
        )
    )


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram language-model quality score with the corpus as the LM:
    each document's mean token log-probability ln P(w_i | w_{i-1})
    under corpus MLE bigram counts. The sequel to
    :func:`lm_quality_score` (unigram): bigrams punish shuffled-word
    gibberish that unigram frequency cannot see.

    No smoothing needed: every scored bigram is itself part of the
    corpus counts, so probabilities are always positive. Shape mirrors
    :func:`crossdoc_ngram_stats`: one scan -> per-doc bigram explode ->
    corpus counts per bigram hash AND per context hash aggregated from
    the SAME checkpointed exploded frame -> two hash joins back -> one
    per-doc aggregate. Strings never shuffle, only 64-bit hashes.
    Returns (id_col, n_bigrams, avg_logprob rounded 6dp).
    """
    toks = words(F.col(text_col))
    exploded = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_toks") - 1),
                    lambda i: F.struct(
                        F.concat_ws(
                            " ", F.element_at("_toks", i), F.element_at("_toks", i + 1)
                        ).alias("bg"),
                        F.element_at("_toks", i).alias("ctx"),
                    ),
                )
            ).alias("_p"),
        )
        .select(
            F.col(id_col),
            F.xxhash64(F.col("_p.bg")).alias("_bgh"),
            F.xxhash64(F.col("_p.ctx")).alias("_ctxh"),
        )
        .localCheckpoint(eager=False)
    )
    bg_counts = exploded.groupBy("_bgh").agg(F.count(F.lit(1)).alias("_nbg"))
    ctx_counts = exploded.groupBy("_ctxh").agg(F.count(F.lit(1)).alias("_nctx"))
    return (
        exploded.join(bg_counts, "_bgh")
        .join(ctx_counts, "_ctxh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("_nbg") / F.col("_nctx").cast("double"))), 6
            ).alias("avg_logprob"),
        )
    )


def interleave_sources(
    df: DataFrame,
    key_col: str = "doc_id",
    group_col: str = "source",
    n_shards: int = 8,
    seed: str = "42",
) -> DataFrame:
    """Deterministic maximally-spaced source interleaving: order the
    corpus so each domain's documents are spread evenly through the
    training stream (no domain clumps — the loader-order guarantee that
    keeps per-batch mixture ratios near the global ratios).

    Each doc gets the fractional key (rank_in_source + 0.5) /
    source_size under a seeded md5 permutation within its source;
    sorting by the key interleaves sources proportionally (the classic
    low-discrepancy deal). The global order is realized shard-major via
    the same range-partitioned exact-ntile path as
    :func:`shuffle_shards` — never a single-task window; all arithmetic
    is integer-ratio, so the key is engine-exact.
    Returns (key, group, shard 1..n_shards, pos within shard).
    """
    h = F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(key_col).cast("string")).cast("binary")
    )
    wsrc = Window.partitionBy(group_col).orderBy("_h", key_col)
    staged = (
        df.select(F.col(key_col), F.col(group_col), h.alias("_h"))
        .withColumn("_rn", F.row_number().over(wsrc) - 1)
        .withColumn("_sz", F.count(F.lit(1)).over(Window.partitionBy(group_col)))
        .withColumn("_key", (F.col("_rn") + F.lit(0.5)) / F.col("_sz"))
    )
    sharded = global_ntile(
        staged, [F.col("_key"), F.col("_h"), F.col(key_col)], n_shards, out_col="shard"
    )
    w = Window.partitionBy("shard").orderBy("_key", "_h", key_col)
    return sharded.select(
        F.col(key_col),
        F.col(group_col),
        F.col("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


def negative_sampling(
    df: DataFrame,
    k: int = 4,
    key_col: str = "doc_id",
    seed: str = "42",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document (anchor) gets ``k`` pseudo-random OTHER documents, decided
    by an md5 hash so the pairing is reproducible and engine-independent
    (re-running, or regenerating a shard, yields the same negatives —
    rand() gives neither).

    Ids are NOT assumed dense: a contiguous 1..N rank is built with the
    range-partitioned exact-rank pattern (no single-task window), the
    anchor hashes into the RANK domain, and one equi-join maps ranks
    back to ids. A self-draw shifts deterministically to the next rank
    (mod N). Shuffle budget: the rank build plus one hash join on the
    sampled rank.
    Returns (key, neg_idx 1..k, negative_id != key).
    """
    ranks = global_rank(
        df.select(F.col(key_col)), [F.col(key_col)], out_col="_rank"
    ).localCheckpoint(eager=False)
    n = ranks.count()
    if n < 2:
        # empty frame mirrors the input's id type (string/int ids included)
        id_type = df.schema[key_col].dataType
        return df.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(key_col, id_type),
                    T.StructField("neg_idx", T.LongType()),
                    T.StructField("negative_id", id_type),
                ]
            ),
        )
    draws = ranks.select(
        F.col(key_col), F.col("_rank").alias("_self"),
        F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)])).alias("neg_idx"),
    )
    h = F.md5(
        F.concat(
            F.lit(seed), F.lit(":"), F.col(key_col).cast("string"),
            F.lit(":"), F.col("neg_idx").cast("string"),
        ).cast("binary")
    )
    # 12 hex chars < 2^48: exact in BIGINT, same value in any engine
    target = F.pmod(F.conv(F.substring(h, 1, 12), 16, 10).cast("long"), F.lit(n)) + 1
    resolved = F.when(target == F.col("_self"), target % n + 1).otherwise(target)
    lookup = ranks.select(
        F.col("_rank").alias("_t"), F.col(key_col).alias("negative_id")
    )
    return (
        draws.withColumn("_t", resolved)
        .join(lookup, "_t")
        .select(F.col(key_col), F.col("neg_idx").cast("long"), "negative_id")
    )


def sentence_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document sentence segmentation stats: sentence count, average
    and max tokens per sentence — the readability companion to the
    token-level quality signals (very long average sentences mark
    machine-generated or run-on text).

    Segmentation is the regex split on terminal punctuation runs
    ([.!?]+), trimmed, empties dropped — deliberately simple and
    engine-portable (both engines split on the identical pattern).
    Map-only higher-order expressions, no UDF, no shuffle; the average
    is an exact-integer ratio (token counts are ints), deterministic
    per row.
    Returns (id_col, n_sentences, avg_sentence_tokens,
    max_sentence_tokens) for docs with >= 1 sentence.
    """
    staged = df.select(
        F.col(id_col), sentences(F.col(text_col)).alias("_sents")
    ).filter(F.size("_sents") >= 1)
    tok_counts = F.transform(
        F.col("_sents"), lambda s: F.size(F.split(s, r"[ \t\n\x0B\f\r]+"))
    )
    return staged.select(
        F.col(id_col),
        F.size("_sents").cast("long").alias("n_sentences"),
        (
            F.aggregate(
                tok_counts, F.lit(0).cast("long"), lambda acc, x: acc + x
            )
            / F.size("_sents")
        ).alias("avg_sentence_tokens"),
        F.array_max(tok_counts).cast("long").alias("max_sentence_tokens"),
    )


def zipf_slope(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    top_k: int = 100,
) -> DataFrame:
    """Zipf's-law fit per corpus group: OLS slope of ln(frequency) on
    ln(rank) over the group's ``top_k`` most frequent tokens (natural
    text sits near -1; flat or cliff-shaped slopes mark template/spam
    corpora — a corpus-level quality gate).

    Shape: one token-count aggregate per (group, token), per-group rank
    via a window over the top-k (bounded: the window partition holds at
    most the group's distinct tokens, and only top_k rows survive), then
    a map-combined moment aggregate. The ln products are per-row IEEE;
    their SUMS are made engine-exact by fixed-pointing each term to 1e-9
    and accumulating as BIGINT, so the closed-form slope is
    bit-identical with no output rounding. Rank ties break on the token
    string for a total order.
    Returns (group_col, n_tokens_fit, zipf_slope).
    """
    toks = words(F.col(text_col))
    freqs = (
        df.select(F.col(group_col), F.explode(toks).alias("_t"))
        .groupBy(group_col, "_t")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("_f"), F.col("_t"))
    ranked = freqs.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= top_k
    )
    x = F.ln(F.col("_r").cast("double"))
    y = F.ln(F.col("_f").cast("double"))

    def fp(c):  # fixed-point exact sum of a per-row IEEE double
        return F.sum(F.round(c * 1e9).cast("long")) / 1e9

    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_fit"),
        fp(x).alias("_sx"),
        fp(y).alias("_sy"),
        fp(x * y).alias("_sxy"),
        fp(x * x).alias("_sxx"),
    )
    n = F.col("n_tokens_fit").cast("double")
    slope = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    return agg.select(
        F.col(group_col),
        "n_tokens_fit",
        F.when(F.col("n_tokens_fit") >= 2, slope).alias("zipf_slope"),
    )


def crossdoc_sentence_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-corpus duplicated-SENTENCE fraction: for each
    document, the share of its distinct sentences that appear verbatim
    in at least one other document — the sentence-granularity
    contamination/boilerplate signal (complements crossdoc_ngram_stats;
    whole sentences catch templated boilerplate that 5-gram windows
    dilute).

    Same scale shape as the n-gram variant: distinct sentences per doc,
    one shuffle on the 8-byte sentence hash (the string never leaves the
    map side; a 64-bit collision merges two sentences' doc-counts —
    noise for a quality signal, and this operator only reads, never
    deletes). One checkpointed explode feeds the doc-count aggregate and
    the join back.
    Returns (id_col, n_sentences, n_dup_sentences, dup_frac).
    """
    sents = F.array_distinct(
        F.filter(
            F.transform(
                F.split(F.lower(F.trim(F.col(text_col))), r"[.!?]+"),
                lambda s: F.trim(s),
            ),
            lambda s: s != "",
        )
    )
    exploded = (
        df.select(F.col(id_col), sents.alias("_sents"))
        .filter(F.size("_sents") >= 1)
        .select(F.col(id_col), F.explode("_sents").alias("_s"))
        .select(F.col(id_col), F.xxhash64("_s").alias("_sh"))
        .localCheckpoint(eager=False)
    )
    sent_docs = exploded.groupBy("_sh").agg(F.count(F.lit(1)).alias("_docs"))
    return (
        exploded.join(sent_docs, "_sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum((F.col("_docs") >= 2).cast("long")).alias("n_dup_sentences"),
        )
        .withColumn(
            "dup_frac", F.col("n_dup_sentences") / F.col("n_sentences")
        )
    )


def bucketed_batches(
    df: DataFrame,
    budget: int = 256,
    boundaries: tuple[int, ...] = (32, 64, 128, 1 << 30),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batch assembly: documents are first binned by
    token-count band (sequences of similar length batch together, so a
    training step pads to the bucket bound instead of the global max —
    the padding-waste fix every loader ships), then packed to a token
    budget within each (bucket, shard) by the same distributed
    running-sum rule as :func:`pack_sequences`.

    Shuffle budget: one exchange on (bucket, shard); every window and
    the pack arithmetic ride that partitioning. Shards keep the running
    sum distributed (no single-task window) and are md5-deterministic.
    Returns (id_col, length_bucket, shard, n_tokens, batch_no).
    """
    n_toks = token_count(F.col(text_col))
    bucket = F.lit(boundaries[-1])
    for b in reversed(boundaries):
        bucket = F.when(n_toks <= b, F.lit(b)).otherwise(bucket)
    shard = F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 1)
    staged = df.select(
        F.col(id_col),
        bucket.cast("long").alias("length_bucket"),
        shard.alias("shard"),
        n_toks.cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("length_bucket", "shard").orderBy(id_col)
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return staged.withColumn(
        "batch_no", F.floor((cum - F.col("n_tokens")) / budget).cast("long")
    )


def quality_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_stop_ratio: float = 0.6,
    max_punct_ratio: float = 0.3,
    max_token_len: int = 40,
) -> DataFrame:
    """Composite document quality gate: combine the per-doc features
    into one keep/drop decision with an itemized reason string — the
    auditable form of a pretraining quality filter (a bare boolean can't
    be debugged; the reasons column is what the data-quality dashboard
    aggregates).

    Map-only over the staged feature projection (the split runs once);
    reason order is fixed by construction so the string is
    engine-stable. Thresholds follow the Gopher/C4 conventions but are
    parameters, not policy.
    Returns (id_col, token_count, stop_ratio, punct_ratio,
    max_token_len, keep, reasons).
    """
    staged = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("_chars"),
        tokens(F.col(text_col)).alias("_toks"),
        F.length(
            F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9 \t\n\x0B\f\r]", "")
        ).alias("_punct"),
    ).select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("token_count"),
        (
            F.size(F.filter(F.col("_toks"), lambda x: x.isin(*STOPWORDS["en"])))
            / F.size("_toks")
        ).alias("stop_ratio"),
        (F.col("_punct") / F.col("_chars")).alias("punct_ratio"),
        F.coalesce(
            F.array_max(F.transform(F.col("_toks"), lambda t: F.length(t))),
            F.lit(0),
        ).cast("long").alias("max_token_len"),
    )
    checks = [
        ("too_short", F.col("token_count") < min_tokens),
        ("stopword_heavy", F.col("stop_ratio") > max_stop_ratio),
        ("punct_heavy", F.col("punct_ratio") > max_punct_ratio),
        ("giant_token", F.col("max_token_len") > max_token_len),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in checks]
    )
    keep = ~checks[0][1]
    for _, cond in checks[1:]:
        keep = keep & ~cond
    return staged.select(
        F.col(id_col),
        "token_count",
        "stop_ratio",
        "punct_ratio",
        "max_token_len",
        keep.alias("keep"),
        reasons.alias("reasons"),
    )


def bpe_pair_counts(
    df: DataFrame,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide adjacent-symbol pair frequencies — the statistic one
    BPE merge step is chosen from (tokenizer training's inner loop, run
    here at word level over whitespace tokens: the corpus-scale part of
    the computation; character-level inner merges happen on the tiny
    learned vocab driver-side in any real trainer).

    One explode of per-document adjacent pairs (transform over the
    token-array index — JVM-side, no UDF), one map-combined count, and
    a rounded TakeOrdered top-k (ties break on the pair text) — never a
    global sort. The pair column is emitted as 'a b' text.
    Returns (pair, n) the ``top_k`` most frequent, ordered (n desc,
    pair).
    """
    toks = words(F.col(text_col))
    pairs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_toks") - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, 2)),
    )
    return (
        df.select(toks.alias("_toks"))
        .filter(F.size("_toks") >= 2)
        .select(F.explode_outer(pairs).alias("pair"))
        .filter(F.col("pair").isNotNull())
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.col("pair"))
        .limit(top_k)
    )


def charset_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Per-document character-class profile: printable-ASCII, digit,
    whitespace, and uppercase-ASCII ratios — the cheap first-pass filter
    for mojibake, binary spill, and boilerplate-table detection in a
    crawl corpus (non-ASCII ratio doubles as a script heuristic).

    Pure JVM string expressions (length of the regexp-stripped string vs
    total), map-only, fully codegen'd — the scan never leaves
    whole-stage codegen and the ratios are exact rationals of integer
    counts, rounded only for display.
    Returns (id, n_chars, ascii_ratio, digit_ratio, space_ratio,
    upper_ratio); empty documents yield NULL ratios rather than NaN.
    """

    def _ratio(pattern: str) -> Column:
        kept = F.length(F.regexp_replace(F.col(text_col), pattern, ""))
        return F.round(kept / F.col("_n"), round_digits)

    n = F.length(F.col(text_col))
    return docs.select(
        F.col(id_col),
        n.alias("_n"),
        F.col(text_col),
    ).select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_chars"),
        F.when(F.col("_n") > 0, _ratio(r"[^\x20-\x7E]")).alias("ascii_ratio"),
        F.when(F.col("_n") > 0, _ratio(r"[^0-9]")).alias("digit_ratio"),
        F.when(F.col("_n") > 0, _ratio(r"[^ \t\n\r]")).alias("space_ratio"),
        F.when(F.col("_n") > 0, _ratio(r"[^A-Z]")).alias("upper_ratio"),
    )


def weighted_sample_without_replacement(
    df: DataFrame,
    weight: Column,
    k: int,
    key_col: str = "doc_id",
    seed: str = "42",
    round_digits: int | None = 6,
) -> DataFrame:
    """Distributed weighted sampling WITHOUT replacement via
    Efraimidis-Spirakis exponential keys: each row gets the key
    ``u^(1/w)`` for a uniform u, and the k largest keys are exactly a
    weighted sample without replacement — the one-pass, shuffle-free
    rewrite of "draw k times proportionally, removing winners" (which is
    inherently sequential and unrunnable on a cluster).

    The uniform is the deterministic md5 construction every sampler here
    uses (first 6 hex digits of md5(seed:key)), so the sample is
    reproducible and engine-independent; top-k runs as
    TakeOrderedAndProject (per-partition heaps, no full sort). The
    ordering key is ROUNDED to ``round_digits`` (pow() is not correctly
    rounded and drifts between engines in the last ulps; rounding before
    the top-k keeps the selected set engine-identical — an
    infinitesimal, distribution-preserving perturbation), with the row
    key as tiebreak. Weights must be > 0; non-positive weights are
    filtered out (they can never be drawn).
    Adds an ``es_key`` column to the kept rows.
    """
    h = F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(key_col).cast("string")).cast("binary")
    )
    u = F.conv(F.substring(h, 1, 6), 16, 10).cast("long") / F.lit(16777216.0)
    # guard u=0 (would force key 0 regardless of weight): bump to the
    # smallest representable step of the 24-bit uniform
    u_safe = F.greatest(u, F.lit(1.0 / 16777216.0))
    es_key = F.pow(u_safe, F.lit(1.0) / weight)
    if round_digits is not None:
        es_key = F.round(es_key, round_digits)
    return (
        df.filter(weight > 0)
        .withColumn("es_key", es_key)
        .orderBy(F.desc("es_key"), key_col)
        .limit(k)
    )


def hashed_embedding(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashed bag-of-words embedding: tokens hash into ``dim``
    buckets (md5-prefix mod dim, sign from the parity of the next md5
    hex digit) and the signed counts are L2-normalized — the model-free
    text vectorizer (Weinberger et al.'s hashing trick) that turns any
    corpus into ANN-ready ``array<double>`` vectors with zero vocabulary
    state. The hash is an md5 prefix (not xxhash64) because md5 is the
    one hash both Spark and DuckDB evaluate identically — it is what
    makes k18_text_ann_end_to_end value-hash oracle-checkable.

    Map-only, one Arrow pass, zero shuffle: tokenization (lower, trim,
    split, drop empties) stays JVM codegen, then ONE pandas UDF goes
    token-array -> unit vector with a per-batch token->(bucket, sign)
    memo — the corpus vocabulary is tiny next to the token stream
    (~50k distinct vs ~2.5M tokens at sf0.1), so the md5 work drops
    ~50x vs hashing every occurrence. The previous all-JVM formulation
    (explode -> md5 per occurrence -> (doc, bucket) shuffle -> map
    reassembly -> HOF norm fold) measured 6.8-8.8s at sf0.1; this pass
    is the same minhash_signatures tradeoff and measured ~3x cheaper.
    Counts are exact integers, the norm is the same sequential
    double fold, and cosines downstream round to 6 dp — the oracle's
    arithmetic is unchanged.

    Documents with no tokens are dropped (they have no direction).
    Returns (id_col, embedding array<double> unit-norm).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def emb(tok_lists: pd.Series) -> pd.Series:
        memo: dict[str, tuple[int, int]] = {}

        def bucket_sign(tok: str) -> tuple[int, int]:
            bs = memo.get(tok)
            if bs is None:
                hx = hashlib.md5(tok.encode("utf-8")).hexdigest()
                bs = (
                    int(hx[:7], 16) % dim,
                    1 if int(hx[7], 16) % 2 == 0 else -1,
                )
                memo[tok] = bs
            return bs

        out = []
        for toks in tok_lists:
            if toks is None or len(toks) == 0:
                out.append(None)
                continue
            vec = np.zeros(dim, dtype=np.int64)
            for t in toks:
                b, s = bucket_sign(t)
                vec[b] += s
            dv = vec.astype(np.float64)
            # sequential fold, matching the oracle's list_dot_product
            n = 0.0
            for v in dv:
                n += v * v
            n = float(np.sqrt(n))
            out.append(None if n == 0 else dv / n)
        return pd.Series(out, dtype=object)

    emb.__annotations__ = {"tok_lists": pd.Series, "return": pd.Series}
    # asNondeterministic: stop Catalyst duplicating the evaluation below
    # a pushed filter (see dedup.minhash_signatures for the measured case)
    emb_udf = pandas_udf(emb, "array<double>").asNondeterministic()

    staged = ensure_parallelism(docs, id_col).select(
        F.col(id_col),
        F.array_remove(tokens(F.col(text_col)), "").alias("_toks"),
    )
    return staged.select(
        F.col(id_col), emb_udf(F.col("_toks")).alias("embedding")
    ).filter(F.col("embedding").isNotNull())


def kfold_assign(
    df: DataFrame,
    key_col: str = "doc_id",
    k: int = 5,
    salt: str = "fold",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment by md5 bucket
    ranges — the rerun- and engine-stable alternative to rand() folds
    (the same idiom as :func:`train_val_test_split`, generalized to k
    contiguous ranges of the 256 two-hex-digit buckets; fold sizes
    differ by at most one bucket, ~0.4%). Keying on a group column keeps
    whole groups in one fold (leakage guard). Map-only.
    Adds a ``fold`` column (0..k-1).
    """
    if not 2 <= k <= 256:
        raise ValueError(f"k must be in [2, 256], got {k}")
    h = F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string")).cast("binary")),
        1,
        2,
    )
    bounds = [format(256 * i // k, "02x") for i in range(1, k)]
    fold = F.when(h < bounds[0], 0)
    for i, b in enumerate(bounds[1:], start=1):
        fold = fold.when(h < b, i)
    return df.withColumn("fold", fold.otherwise(k - 1).cast("long"))


def stopword_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language function-word density over the corpus, each language
    measured against its OWN stopword list: a corpus-intake language
    sanity check (a lang bucket whose stopword density collapses is
    mislabeled or machine-generated). One explode + one map-combined
    aggregate; the ratio is exact-BIGINT division.
    Returns (lang, n_docs, n_tokens, n_stop, stop_ratio).
    """
    toks = exploded_words(df, text_col, carry_cols=("lang", "doc_id")).select(
        "lang",
        "doc_id",
        own_language_stopword_flag(word_col="word").alias("_is_stop"),
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_is_stop"), 1).otherwise(0))
            .cast("long")
            .alias("n_stop"),
            (
                F.sum(F.when(F.col("_is_stop"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("stop_ratio"),
        )
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Train byte-pair-encoding merges over the corpus, DISTRIBUTED — the
    real tokenizer-training loop, not just one merge's pair counts
    (tx17): iteratively (1) count adjacent symbol pairs over the
    word-frequency table, (2) pick the most frequent pair (count desc,
    pair asc — deterministic), (3) apply the merge to every word's
    symbol sequence; repeat ``n_merges`` times.

    Scale shape: the corpus is touched ONCE (word-frequency aggregation
    — the 100 TB pass); every iteration then runs on the DISTINCT-WORD
    table (orders of magnitude smaller, Zipf), with one map-combined
    pair count + a driver-side 1-row argmax + one Arrow-batched merge
    application per iteration — the PageRank loop discipline applied to
    tokenizer training (lineage checkpointed every ``checkpoint_every``
    iterations, argmax is the only driver crossing and it is one row).
    Merge application is per-word sequential (BPE's own definition:
    leftmost-first, non-overlapping), vectorized across words via Arrow.

    Returns (merge_rank, left, right, pair_count) — the learned merge
    table, rank-ordered; apply it with any standard BPE encoder.
    """
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    vocab = (
        df.select(F.explode_outer(words(F.col(text_col))).alias("_w"))
        .filter(F.col("_w").isNotNull())
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.split(F.col("_w"), "").alias("_syms"),
            F.col("_n"),
        )
    ).localCheckpoint()

    spark = df.sparkSession
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs = (
            vocab.select(
                F.posexplode(
                    F.expr(
                        "transform(slice(_syms, 1, size(_syms) - 1), "
                        "(s, i) -> struct(s as l, _syms[i + 1] as r))"
                    )
                ).alias("_i", "_p"),
                "_n",
            )
            .groupBy("_p")
            .agg(F.sum("_n").alias("_cnt"))
        )
        top = (
            pairs.orderBy(F.desc("_cnt"), F.col("_p.l"), F.col("_p.r"))
            .limit(1)
            .collect()
        )  # bounded: ONE row per iteration crosses to the driver
        if not top:
            break
        left, right, cnt = top[0]["_p"]["l"], top[0]["_p"]["r"], int(top[0]["_cnt"])
        merges.append((rank, left, right, cnt))

        def apply_merge(col: "pd.Series") -> "pd.Series":
            out = []
            for syms in col:
                res = []
                i, m = 0, len(syms)
                while i < m:
                    if i + 1 < m and syms[i] == left and syms[i + 1] == right:
                        res.append(left + right)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            return pd.Series(out)

        apply_merge.__annotations__ = {"col": pd.Series, "return": pd.Series}
        merge_udf = pandas_udf(apply_merge, "array<string>").asNondeterministic()
        vocab = vocab.select(merge_udf(F.col("_syms")).alias("_syms"), "_n")
        if (rank + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint()

    return spark.createDataFrame(
        merges, "merge_rank long, left string, right string, pair_count long"
    )


def vocab_coverage(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """Per-document coverage by the corpus's top-``top_k`` vocabulary
    (the cheap OOV-rate proxy: low coverage flags jargon, gibberish, or
    out-of-domain text). The vocabulary is a bounded top-k
    (count-ordered, term tiebreak) broadcast against the exploded
    tokens — one corpus aggregate + one map-side membership join.
    Returns (doc_id, n_tokens, n_in_vocab, vocab_coverage)."""
    ex = docs.select(
        "doc_id", F.explode_outer(words(F.col("text"))).alias("term")
    ).filter(F.col("term").isNotNull())
    top = (
        ex.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), "term")
        .limit(top_k)
        .select("term", F.lit(1).alias("_hit"))
    )
    return (
        ex.join(F.broadcast(top), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_in_vocab"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_in_vocab",
            F.round(F.col("n_in_vocab") * 1.0 / F.col("n_tokens"), 6).alias(
                "vocab_coverage"
            ),
        )
    )


def vocab_coverage_curve(
    docs: DataFrame,
    cap: int = 10000,
    checkpoints: tuple = (1, 2, 5, 10, 20, 50, 100, 1000, 10000),
) -> DataFrame:
    """Tokenizer vocab-sizing curve: what fraction of all corpus tokens
    the top-k most frequent words cover, at log-spaced checkpoints (and
    at the full vocabulary) — the first plot drawn when choosing a
    vocab size or a BPE merge budget. The curve runs on the TOP-``cap``
    frame only: TakeOrdered bounds the global sort at any corpus size,
    then the cumulative window covers <= cap rows on one partition
    (bounded-domain argument); corpus-scale work is a single
    map-side-combined word count. Checkpoints past the cap would need
    the cap raised — documented, not silent: the cap IS the top-k.
    Returns (vocab_size, covered_tokens, total_tokens, coverage)."""
    wc = (
        exploded_words(docs, carry_cols=())
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = wc.agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    top = (
        wc.orderBy(F.col("c").desc(), "word")
        .limit(cap)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "word"))
            .alias("rnk"),
        )
    )
    wcum = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
    cum = top.select("rnk", F.sum("c").over(wcum).alias("cum_c")).crossJoin(
        F.broadcast(totals)
    )
    return (
        cum.filter(
            F.col("rnk").isin(*checkpoints) | (F.col("rnk") == F.col("vocab"))
        )
        .select(
            F.col("rnk").cast("long").alias("vocab_size"),
            F.col("cum_c").cast("long").alias("covered_tokens"),
            F.col("total").alias("total_tokens"),
            F.round(F.col("cum_c").cast("double") / F.col("total"), 6).alias(
                "coverage"
            ),
        )
    )


def doc_feature_matrix(docs: DataFrame) -> DataFrame:
    """The per-document FEATURE MATRIX a quality classifier trains on —
    token stats, own-language stopword density, and corpus-level n-gram
    novelty joined into one wide frame. Composes the exploded-words /
    stopword-flag / shingle-docfreq building blocks end-to-end; two
    explode passes over text, hash-only shuffles for the novelty join,
    exact-integer ratios throughout.
    Returns (doc_id, lang, source, n_chars, n_tokens, mean_word_len,
    stop_ratio, novelty)."""
    # dedup imports this module at its top, so this import stays local
    from market_data_pipeline_spark.operators.dedup import shingle_hash_docfreq

    toks = exploded_words(docs, carry_cols=("doc_id", "lang")).select(
        "doc_id", "lang", "word", F.length("word").alias("wl")
    )
    stop_expr = own_language_stopword_flag()
    n = F.count(F.lit(1))
    tok = toks.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        (F.sum("wl") / n).alias("mean_word_len"),
        (F.sum(F.when(stop_expr, 1).otherwise(0)) / n).alias("stop_ratio"),
    )
    sh, df_ = shingle_hash_docfreq(docs)
    nov = (
        sh.join(df_, "shingle")
        .groupBy("doc_id")
        .agg(
            (F.sum(F.when(F.col("docfreq") == 1, 1).otherwise(0)) / n).alias(
                "novelty"
            )
        )
    )
    return (
        docs.select("doc_id", "lang", "source", F.col("n_chars").cast("long"))
        .join(tok, "doc_id")
        .join(nov, "doc_id", "left")
    )
