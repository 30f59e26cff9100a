"""Deduplication operators for large-scale document pipelines (SURVEY §7
Phase 6; generalizes the reference's key-subset dedup A9 at
src/crawlers/krx_delisted_crawler.py:314-318).

All operators are pure DataFrame ops designed for the 100 TB path:

- exact dedup is a hash groupBy (one shuffle on the text hash, never on the
  full text);
- MinHash/LSH banding turns near-dup detection into an equi-join on
  (band_id, band_hash) buckets — no pairwise cross join ever materializes;
- n-gram Jaccard verification only runs on candidate pairs emitted by a
  bucket join (or, for small corpora, a same-language shingle join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators.graph import _superstep
from market_data_pipeline_spark.operators.text import tokens, words
from market_data_pipeline_spark.operators.util import (
    col,
    ensure_parallelism,
    pairs_within_groups,
)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per exact text value; report group size.

    Grouping key is ``xxhash64(text)`` so the shuffle moves an 8-byte key,
    not the document body; the full text never leaves its partition.
    Returns (id_col, dup_count).
    """
    return (
        df.groupBy(F.xxhash64(F.col(text_col)).alias("_h"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_count"),
        )
        .drop("_h")
    )


def shingles_from_tokens(toks_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *materialized* token-array
    column. Callers must stage the token array into a real column first
    (see :func:`shingled`): if the split expression is passed in directly,
    Catalyst inlines it into every per-gram element access and recomputes
    the split n times per shingle — measured 40x slower.

    Documents shorter than ``n`` tokens yield an EMPTY shingle set via an
    explicit guard — ``greatest(size - (n-1), 0)`` is NOT enough, because
    ``sequence(1, 0)`` is DESCENDING ``[1, 0]`` in Spark and the i=0
    element crashes 1-indexed ``slice`` (found by the hypothesis
    reference-parity test on an empty document)."""
    idx = F.when(
        F.size(toks_col) >= n, F.sequence(F.lit(1), F.size(toks_col) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks_col, i, n), " "))
    return F.array_distinct(grams)


def shingled(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, extra..., shingles: array<string>) with the tokenization staged
    through a materialized column (two select stages — see
    :func:`shingles_from_tokens` for why)."""
    df = ensure_parallelism(df, id_col)
    keep = [col(c) for c in (id_col, *extra_cols)]
    staged = df.select(*keep, tokens(col(text_col)).alias("_toks"))
    return staged.select(
        *keep,
        shingles_from_tokens(F.col("_toks"), n).alias("shingles"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = "lang",
    n: int = 3,
    threshold: float = 0.1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    Exploded shingles are equi-joined on (group, shingle) so only documents
    sharing at least one shingle ever pair up; Jaccard is computed from
    |A∩B| (join match count) and per-doc shingle counts:
    ``J = common / (|A| + |B| - common)``.

    At 100 TB, ``group_col`` (language / source bucket) bounds the join
    fan-out; for unbounded corpora use :func:`minhash_lsh_pairs` first and
    feed its candidates here for verification.

    ``max_doc_freq`` is the stop-shingle guard: a shingle occurring in
    more than that many documents is dropped before pair expansion (its
    bucket would emit df² pairs in one task while carrying no near-dup
    signal). Dropped shingles reduce the observed |A∩B| but not |A|/|B|,
    so reported Jaccard is a lower bound for affected pairs — standard
    stop-shingle semantics. Audit dropped shingles with
    ``util.bucket_overflow_stats``. Default None = exact (oracle mode).
    Returns (doc_a, doc_b, common, jaccard).
    """
    group = [group_col] if group_col else []
    # Plan-shape decisions that matter at scale:
    # - bucket on the 8-byte shingle hash, not the shingle string (same
    #   pair counts — xxhash64 collisions are negligible — far cheaper
    #   exchange);
    # - carry each doc's shingle count |A| on the exploded rows (it is
    #   just size(shingles), known before explode), so no separate sizes
    #   aggregate + joins;
    # - generate pairs with a single groupBy-on-bucket (see
    #   pairs_within_groups) instead of a self-join, so the shingling
    #   pipeline executes once.
    # explode_outer + isNotNull, not explode: see pairs_within_groups for
    # why (the inferred non-empty filter re-evaluates the HOF shingle
    # expression row-by-row, interpreted)
    keep = [col(c) for c in (id_col, *group)]
    sh = (
        shingled(df, id_col, text_col, n, extra_cols=tuple(group))
        .select(
            *keep,
            F.size("shingles").alias("sz"),
            F.explode_outer("shingles").alias("_s"),
        )
        .filter(F.col("_s").isNotNull())
        .select(*keep, F.col("sz"), F.xxhash64(F.col("_s")).alias("shingle"))
    )
    pairs = pairs_within_groups(
        sh, [*group, "shingle"], id_col, ["sz"], max_group_size=max_doc_freq
    )
    return (
        pairs.groupBy(
            F.col("a")[id_col].alias("doc_a"),
            F.col("b")[id_col].alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("common"))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = "lang",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """DIRECTED near-duplicate pairs by n-gram CONTAINMENT:
    C(a in b) = |shingles(a) ∩ shingles(b)| / |shingles(a)|.

    Jaccard misses the quote/excerpt case — a short document wholly
    contained in a long one has tiny Jaccard (union dominated by the long
    doc) but containment 1.0. This is the dedup signal for "A is embedded
    in B" (boilerplate wrappers, quoted posts, chunk-of-document leaks;
    the same asymmetric measure Broder's original shingling paper pairs
    with resemblance).

    Same single-shuffle harness as :func:`ngram_jaccard_pairs` (shingle
    once, hash-bucket pair generation via pairs_within_groups, per-doc
    sizes carried on the exploded rows, ``max_doc_freq`` stop-shingle
    cap); each undirected pair then emits its two directions and the
    threshold filters — no second pass over the text.
    Returns (doc_id, other_id, common, containment) — containment of
    doc_id's shingles inside other_id — in no defined order.
    """
    group = [group_col] if group_col else []
    sh = (
        shingled(df, id_col, text_col, n, extra_cols=tuple(group))
        .select(
            F.col(id_col),
            *group,
            F.size("shingles").alias("sz"),
            F.explode_outer("shingles").alias("_s"),
        )
        .filter(F.col("_s").isNotNull())
        .select(F.col(id_col), *group, F.col("sz"), F.xxhash64(F.col("_s")).alias("shingle"))
    )
    pairs = pairs_within_groups(
        sh, [*group, "shingle"], id_col, ["sz"], max_group_size=max_doc_freq
    )
    und = pairs.groupBy(
        F.col("a")[id_col].alias("_ida"),
        F.col("b")[id_col].alias("_idb"),
        F.col("a.sz").alias("_sza"),
        F.col("b.sz").alias("_szb"),
    ).agg(F.count("*").alias("common"))
    # Emit both directions via a map-side explode, not a union of two
    # selects over ``und``: the union's branches each ran the
    # post-bucket-shuffle pair-emit + aggregation (ReuseExchange deduped
    # the plan only up to the bucket exchange — measured r12 opt
    # session 3). Same rows from ONE aggregation; the per-direction
    # containment divisions are the identical expressions.
    dirs = und.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_ida").alias("_id"),
                    F.col("_idb").alias("other_id"),
                    F.col("common").alias("common"),
                    (F.col("common") / F.col("_sza")).alias("containment"),
                ),
                F.struct(
                    F.col("_idb").alias("_id"),
                    F.col("_ida").alias("other_id"),
                    F.col("common").alias("common"),
                    (F.col("common") / F.col("_szb")).alias("containment"),
                ),
            )
        ).alias("_d")
    )
    return (
        dirs.select(
            F.col("_d._id").alias(id_col),
            F.col("_d.other_id").alias("other_id"),
            F.col("_d.common").alias("common"),
            F.col("_d.containment").alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


#: Mersenne prime 2^31-1 — the universal-hash modulus. Products stay
#: < 2^59 (a < 2^31, base hash < 2^28), so the arithmetic is exact in
#: BIGINT on every engine: no wraparound in numpy int64, no ANSI
#: overflow in Spark, no HUGEINT promotion needed in DuckDB.
MINHASH_P = (1 << 31) - 1


def _minhash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash parameters for
    h_i(x) = (a_i * x + b_i) mod 2^31-1 with a_i in [1, p), b_i in
    [0, p). The modulus is the point: without it, min over grams of the
    strictly increasing a_i*x + b_i is always attained at the same
    minimum base hash, making every signature position an affine image
    of ONE gram hash — all "permutations" perfectly correlated and
    n_bands_matched degenerately constant (observed: 16/16 on every
    sf0.01 collision before the fix)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document.

    Tokenization (lower, trim, ``[ \\t\\n\\x0B\\f\\r]+`` split, drop empty tokens) is
    JVM-side codegen; ONE Arrow-batched pandas UDF then goes from the
    token array to the signature — distinct word n-grams, md5-prefix
    base hash (first 7 hex digits → 28-bit int), and all ``num_hashes``
    universal permutations ``(a_i*h + b_i) mod 2^31-1`` with their mins
    as one numpy broadcast over the concatenated hash arrays. No
    explode, no shuffle, no JVM higher-order functions.

    Why not the JVM expression path: shingling via
    ``transform(sequence(...), array_join(slice(...)))`` is interpreted
    per element (HOF lambdas don't codegen) and measured ~10-15s per
    full pass at 5k docs x ~50 shingles — the Python loop is ~50x
    cheaper. The base hash is an md5 prefix (not crc32/xxhash64)
    because md5 is the one hash both Spark and DuckDB evaluate
    identically: every arithmetic step here is integer-exact and
    reproducible in ANSI SQL, which is what lets dd3_minhash_lsh carry
    a real value-hash oracle instead of a rows-only pytest.

    Documents with no shingles (fewer than ``n`` tokens) get a NULL
    signature; downstream banding drops them (an empty document has no
    content to near-match — an all-nulls signature would make every
    empty doc collide with every other in every band, an accidental
    quadratic).
    Returns (id_col, sig: array<bigint>).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    params = _minhash_params(num_hashes, seed)
    a_vec = np.asarray([a for a, _ in params], dtype=np.int64)[:, None]
    b_vec = np.asarray([b for _, b in params], dtype=np.int64)[:, None]

    def sig(tok_lists: pd.Series) -> pd.Series:
        doc_hashes = []
        lens = np.empty(len(tok_lists), dtype=np.int64)
        for i, toks in enumerate(tok_lists):
            if toks is not None and len(toks) >= n:
                grams = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
                hs = np.fromiter(
                    (
                        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:7], 16)
                        for g in grams
                    ),
                    dtype=np.int64,
                    count=len(grams),
                )
            else:
                hs = None
            lens[i] = 0 if hs is None else len(hs)
            doc_hashes.append(hs)
        out = [None] * len(tok_lists)
        nz = np.nonzero(lens)[0]
        if len(nz):
            flat = np.concatenate([doc_hashes[i] for i in nz])
            vals = (a_vec * flat[None, :] + b_vec) % MINHASH_P  # (num_hashes, total)
            offsets = np.zeros(len(nz), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=offsets[1:])
            mins = np.minimum.reduceat(vals, offsets, axis=1)  # (num_hashes, docs)
            for j, i in enumerate(nz):
                out[i] = mins[:, j]
        return pd.Series(out)

    sig.__annotations__ = {"tok_lists": pd.Series, "return": pd.Series}
    # asNondeterministic: the function IS deterministic, but the flag stops
    # Catalyst from duplicating the evaluation. Without it, a downstream
    # filter on the signature (the null-signature drop in banding) is
    # pushed below the ensure_parallelism exchange and the UDF runs TWICE
    # — and the first run sits on the pre-repartition single input
    # partition, i.e. the whole corpus signs on ONE core (measured 6s of
    # dd3's 6.6s at sf0.1; 1.5s after).
    sig_udf = pandas_udf(sig, "array<long>").asNondeterministic()

    # Tokenize in codegen, exactly mirroring the oracle's
    # list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'), ...):
    # the explicit class sidesteps the Java-vs-RE2 ``\s`` gap (Java
    # includes \x0B, RE2 does not — r9 ADVICE #1); array_remove drops the
    # empty tokens a leading/trailing non-space whitespace run produces.
    staged = ensure_parallelism(df, id_col).select(
        F.col(id_col),
        F.array_remove(tokens(F.col(text_col)), "").alias("_toks"),
    )
    return staged.select(F.col(id_col), sig_udf(F.col("_toks")).alias("sig"))


def distinct_ngrams(
    df: DataFrame,
    carry_col: str,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct (carry, raw word-n-gram) membership frame over FILTERED
    tokens (empty tokens dropped before gram construction — unlike
    :func:`shingled`, whose unfiltered form dd3/tx28 mirror) — the
    shared scaffold of the df-profile/source-similarity audits
    (dd16, dd18; r9 verdict #6 extraction). Grams stay raw strings
    because these consumers aggregate over the gram itself.
    Returns (carry_col, g)."""
    staged = df.select(carry_col, words(F.col(text_col)).alias("_t")).filter(
        F.size("_t") >= n
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_t") - n),
        lambda i: F.concat_ws(
            " ", *[F.col("_t")[i + k] for k in range(n)]
        ),
    )
    return (
        staged.select(carry_col, F.explode_outer(grams).alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )


def shingle_hash_docfreq(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The shared novelty / document-frequency scaffold (tx28, f15; r9
    verdict #6 extraction): the corpus's distinct (id, shingle-hash)
    membership frame plus the per-shingle docfreq aggregate. Shingle
    hashes shuffle (8-byte xxhash64 keys), document text never does;
    the docfreq table is aggregated before any join back.
    Returns (membership (id_col, shingle), docfreq (shingle, docfreq))."""
    sh = (
        shingled(df, id_col, text_col, n)
        .select(id_col, F.explode_outer("shingles").alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(id_col, F.xxhash64("_s").alias("shingle"))
        .distinct()
        # NOT checkpointed (r12 opt session-3 measured): both consumers
        # walk this frame, but ReuseExchange dedupes the expensive
        # shingle-explode+distinct up to its exchange, and an explicit
        # localCheckpoint materialization measured ~0.2-0.3s SLOWER at
        # sf0.1 (f15 1.61 -> 1.93 isolated best-of-N) than letting the
        # reused exchange serve both branches.
    )
    return sh, sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("docfreq"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding over MinHash.

    The signature is cut into ``bands`` bands of ``num_hashes // bands``
    rows; documents collide if any band hashes equal. Pairs come from ONE
    shuffle on the 16-byte (band_id, band_hash) bucket key
    (pairs_within_groups) — the signature pipeline executes once, and at
    100 TB the exchange carries only (id, band, hash) rows.

    ``max_bucket_size`` caps a viral band bucket (a 10k-copy boilerplate
    cluster would otherwise emit 10k² candidate pairs in one task);
    oversized buckets are dropped before collection — members of a huge
    duplicate cluster still pair up through their OTHER bands unless those
    overflow too. Audit with ``util.bucket_overflow_stats``.

    Returns (doc_a, doc_b, n_bands_matched) — verify candidates with
    :func:`ngram_jaccard_pairs` or estimate similarity from the signature.
    """
    rows_per_band = num_hashes // bands
    # NULL sigs (empty docs) must not band: a hash of a null slice would
    # put every empty doc in one global bucket
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, seed).filter(
        F.col("sig").isNotNull()
    )
    # Band key = md5 of the comma-joined band values, folded to a
    # 60-bit BIGINT — an 8-byte shuffle key like the old xxhash64
    # form, but reproducible in the DuckDB oracle
    # (('0x' || substr(md5(...), 1, 15))::BIGINT).
    # Built as ONE SQL string parsed in a single py4j round trip: the
    # former per-band Column loop (bands x ~10 F.* invocations) cost
    # ~500 py4j round trips of pure plan-BUILD latency per call (r12
    # census profile: dd3 1681 round trips, most of them here). The
    # parsed expression tree is the same operators on the same inputs —
    # values and plan shape unchanged.
    band_structs = []
    for b in range(bands):
        parts = ", ".join(
            f"CAST(element_at(sig, {b * rows_per_band + k + 1}) AS STRING)"
            for k in range(rows_per_band)
        )
        band_structs.append(
            f"named_struct('band_id', {b}, 'bh', "
            f"CAST(conv(substring(md5(concat_ws(',', {parts})), 1, 15), 16, 10) AS BIGINT))"
        )
    band_arr = F.expr("array(" + ", ".join(band_structs) + ")")
    # explode_outer: the inferred-filter trap again — the band array embeds
    # the full minhash signature expression (see pairs_within_groups)
    buckets = (
        sig.select(F.col(id_col), F.explode_outer(band_arr).alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .select(
            F.col(id_col),
            F.col("bucket.band_id").alias("band_id"),
            F.col("bucket.bh").alias("band_hash"),
        )
    )
    pairs = pairs_within_groups(
        buckets, ["band_id", "band_hash"], id_col, max_group_size=max_bucket_size
    )
    return pairs.groupBy(
        F.col("a")[id_col].alias("doc_a"),
        F.col("b")[id_col].alias("doc_b"),
    ).agg(F.count("*").alias("n_bands_matched"))


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    For each shingle hash, each bit position contributes +1/-1 to a
    per-document tally; the fingerprint sets bits with positive tally.

    One Arrow-batched pandas UDF goes token-array -> fingerprint:
    distinct word n-grams, a 64-bit md5-prefix hash per gram (first 16
    hex digits), then a fully vectorized unpack-bits/segment-sum tally
    across the whole batch. Tokenization is JVM-side codegen, identical
    to :func:`minhash_signatures`. The gram hash is an md5 prefix for
    the same reason as MinHash's base hash: md5 is the one hash both
    Spark and DuckDB evaluate identically, which makes
    dd4_simhash_pairs value-hash-checkable end-to-end (bit votes, band
    values and hamming distances are all exact integers).

    Documents with no shingles (fewer than ``n`` tokens, or NULL text)
    get a NULL fingerprint; :func:`simhash_near_pairs` drops them. The
    previous contract (fingerprint 0) made every empty document collide
    with every other in every band — the same accidental quadratic the
    MinHash path's NULL-signature drop exists to prevent.

    Near-dup detection = hamming distance on fingerprints
    (``bit_count(fp_a ^ fp_b)``), typically via banding the 64 bits into
    4x16-bit keys for an equi-join — same shape as MinHash LSH.
    Returns (id_col, fingerprint: bigint nullable).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)[None, :]

    def fp(tok_lists: pd.Series) -> pd.Series:
        hs_list = []
        lens = np.zeros(len(tok_lists), dtype=np.int64)
        for i, toks in enumerate(tok_lists):
            if toks is not None and len(toks) >= n:
                grams = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
                hs = np.fromiter(
                    (
                        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:16], 16)
                        for g in grams
                    ),
                    dtype=np.uint64,
                    count=len(grams),
                )
                lens[i] = len(hs)
                hs_list.append(hs)
            else:
                hs_list.append(None)
        out = [None] * len(tok_lists)
        nz = np.nonzero(lens)[0]
        if len(nz):
            flat = np.concatenate([hs_list[i] for i in nz])
            bit_mat = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            offsets = np.zeros(len(nz), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=offsets[1:])
            sums = np.add.reduceat(bit_mat, offsets, axis=0)       # (docs, 64)
            votes = 2 * sums - lens[nz][:, None]
            fps = ((votes > 0).astype(np.uint64) << shifts).sum(
                axis=1, dtype=np.uint64
            )
            for j, i in enumerate(nz):
                out[i] = int(fps[j].view(np.int64))
        return pd.Series(out, dtype=object)

    fp.__annotations__ = {"tok_lists": pd.Series, "return": pd.Series}
    # see minhash_signatures: prevents duplicate evaluation via pushdown
    fp_udf = pandas_udf(fp, "long").asNondeterministic()

    staged = ensure_parallelism(df, id_col).select(
        F.col(id_col),
        F.array_remove(tokens(F.col(text_col)), "").alias("_toks"),
    )
    return staged.select(F.col(id_col), fp_udf(F.col("_toks")).alias("fingerprint"))


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_bits: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs whose SimHash fingerprints agree on at least one
    16-bit band (necessary condition for hamming distance <= 3 with 4
    bands), verified exactly with bit_count on the XOR.

    Returns (doc_a, doc_b, hamming).
    """
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    # NULL fingerprints (no-shingle docs) must not band — see simhash.
    fingerprints = fingerprints.filter(F.col("fingerprint").isNotNull())
    bands = (
        fingerprints.select(
            F.col(id_col),
            F.col("fingerprint"),
            F.explode_outer(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_id"),
                            F.shiftright(F.col("fingerprint"), i * band_bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("band_val"),
                        )
                        for i in range(n_bands)
                    ]
                )
            ).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .select(id_col, "fingerprint", "b.band_id", "b.band_val")
    )
    pairs = pairs_within_groups(
        bands, ["band_id", "band_val"], id_col, ["fingerprint"],
        max_group_size=max_bucket_size,
    )
    return (
        pairs.select(
            F.col("a")[id_col].alias("doc_a"),
            F.col("b")[id_col].alias("doc_b"),
            F.bit_count(
                F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- entity resolution -------------------------------------------------------


def blocked_name_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str,
    name_col: str,
    max_dist: int = 2,
    max_block_size: int | None = None,
    deletion_max_len: int = 96,
    deletion_min_rows: int = 8000,
    regime: str = "auto",
    max_core_bucket: int | None = None,
) -> DataFrame:
    """Blocked entity resolution: candidate duplicate pairs whose names are
    within ``max_dist`` Levenshtein edits, compared only WITHIN a blocking
    key (nation, market, first-token, ...).

    Candidate generation is SymSpell-style DELETION NEIGHBORHOODS (the
    r8 §G-100x finding): every name emits its (<= max_dist)-deletion
    variants, and any pair within ``max_dist`` edits provably shares a
    common deletion core (an optimal alignment with i inserts, d
    deletes, s substitutions, i+d+s <= tau reaches the same core by
    deleting d+s chars from one side and i+s from the other), so an
    equi-join on (block, core-hash) is an EXACT superset of the true
    pairs; F.levenshtein then verifies candidates only. The previous
    plan expanded ALL in-block pairs — sum over blocks of k^2, which is
    quadratic in corpus size whenever the block key has FIXED
    cardinality (nation: 25 values). The 10x rehearsal's "7.4x wall"
    was core slack hiding 100x comparisons; at 100x the old plan ground
    2-task stages for 20+ minutes while this one is a bounded-bucket
    join. Everything stays JVM-side: nested array transforms build the
    variant arrays, xxhash64 buckets the cores (hash collisions only
    ADD candidates, never drop true pairs — verification keeps the
    output exact).

    Cost model: ~(1 + L + L(L-1)/2) variants per name at max_dist=2 —
    232 rows exploded per 21-char name. Names longer than
    ``deletion_max_len`` (or max_dist > 3) fall back to the quadratic
    in-block expansion, which is the right plan for a HANDFUL of long
    strings but not for entity names. The regime check is one bounded
    single-row aggregate.

    Threshold provenance (r8 verdict #3 — MEASURED, table in
    SCALE.md §C): on 25-block supplier-shaped
    corpora the quadratic/deletion wall-time crossover interpolates to
    ~8.6k rows (quadratic 2.48s vs deletion 4.28s at 5k; 9.54 vs 8.39
    at 10k; 250 vs 42 at 50k), so ``deletion_min_rows=8000`` — set a
    shade under the crossover because the deletion side's penalty below
    it is a bounded constant while the quadratic side's above it is
    unbounded growth. The length sweep shows deletion's margin GROWS
    with name length (2.6x at L=48, 3.9x at 96, 5.3x at 144 — both
    plans' per-comparison cost is ~L^2, but the quadratic plan does
    k^2/25 of them); ``deletion_max_len=96`` is therefore a
    memory-safety bound on the per-row variant explode (~4.7k rows per
    name at 96), not a speed crossover — deletion measured winning
    through L=144; raise the knob or pass regime="deletion" for longer
    names.

    ``max_block_size`` drops oversized NAME BLOCKS entirely before pair
    generation in both regimes (identical semantics to the historical
    cap). Rows with NULL names pair with nothing in either regime
    (levenshtein(x, NULL) is NULL). Assumes (id, name) rows are unique
    within a block, as in any entity table — exact-duplicate rows
    collapse to one candidate here where the quadratic path would emit
    a duplicated pair.

    Short-name hot cores (r8 ADVICE #4): every name of length <=
    ``2 * max_dist`` reaches a length-<=``max_dist`` core (ultimately
    ``""``), so in a corpus with many short names those alphabet-bounded
    cores collapse into one k^2 bucket and quietly recreate the
    quadratic plan. Fix is exact, not a cap: names of length <=
    ``2 * max_dist`` are paired among THEMSELVES by direct in-block
    expansion (within a block their count is alphabet-bounded, and at
    those lengths deletion cores have no pruning power anyway), and the
    deletion join keeps only cores LONGER than ``2*max_dist - max_dist``
    — still a provable superset for every pair involving one name
    longer than ``2 * max_dist`` (that side's cores all have length >=
    len - max_dist > max_dist, and the optimal-alignment core is
    reachable from both sides). ``max_core_bucket`` additionally caps
    surviving (block, core) buckets for a bounded-run guarantee on
    adversarial corpora (many LONG names collapsing onto one genuine
    core); it is None (exact) by default because with unique in-block
    names a hot long core implies genuinely similar names, i.e. mostly
    true pairs — output-bound, not waste.

    ``regime`` pins the plan explicitly: "deletion", "quadratic", or
    "auto" (default). **auto runs a bounded single-row aggregate — an
    eager Spark job — at plan-BUILD time** (r8 ADVICE #5: callers that
    need a fully lazy builder should pick the regime themselves); the
    probe reads only ``name_col`` (column-pruned scan) after the
    ``max_block_size`` window filter.
    Returns (block_col, id_a, id_b, edit_dist) with id_a < id_b.
    """
    if regime not in ("auto", "deletion", "quadratic"):
        raise ValueError(f"unknown regime {regime!r}")

    base = df.select(block_col, id_col, name_col)
    if max_block_size is not None:
        w = Window.partitionBy(block_col)
        base = (
            base.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_block_size)
            .drop("_bsz")
        )

    def _quadratic(frame: DataFrame) -> DataFrame:
        pairs = pairs_within_groups(frame, [block_col], id_col, [name_col])
        return (
            pairs.select(
                F.col(block_col),
                F.col("a")[id_col].alias("id_a"),
                F.col("b")[id_col].alias("id_b"),
                F.levenshtein(F.col("a")[name_col], F.col("b")[name_col])
                .cast("long")
                .alias("edit_dist"),
            )
            .filter(F.col("edit_dist") <= max_dist)
        )

    use_deletion = regime == "deletion"
    if regime == "auto":
        # bounded single-row regime statistic: longest name + corpus size
        # (an EAGER job; see docstring). Small corpora keep the quadratic
        # expansion — its k^2-per-block cost is trivial below ~5k rows and
        # avoids the deletion path's ~L^2/2-per-row explode; past that the
        # explode's linear cost wins by orders of magnitude (the §G-100x
        # measurement; thresholds from the measured crossover, SCALE.md §C).
        stats = base.agg(
            F.max(F.length(F.col(name_col))).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        max_len, n_rows = stats["mx"], stats["n"]
        use_deletion = not (
            max_dist > 3
            or max_len is None
            or max_len > deletion_max_len
            or n_rows <= deletion_min_rows
        )
    if not use_deletion:
        return _quadratic(base)

    def _delete_ones(arr):
        # every single-character deletion of every string in arr
        return F.flatten(
            F.transform(
                arr,
                lambda v: F.transform(
                    F.when(
                        F.length(v) >= 1, F.sequence(F.lit(1), F.length(v))
                    ).otherwise(F.array().cast("array<int>")),
                    lambda p: F.concat(
                        v.substr(F.lit(1), p - 1),
                        v.substr(p + 1, F.length(v)),
                    ),
                ),
            )
        )

    name = F.col(name_col)
    short_cut = 2 * max_dist  # names this short collapse onto tiny cores
    short_pairs = _quadratic(base.filter(F.length(name) <= short_cut))

    cores = F.array(name)
    layer = F.array(name)
    for _ in range(max_dist):
        layer = F.array_distinct(_delete_ones(layer))
        cores = F.concat(cores, layer)
    # cores of length <= short_cut - max_dist are reachable only when
    # BOTH pair members are short (a name longer than short_cut can't
    # delete down to them within max_dist edits) — those pairs are the
    # quadratic sub-path's job, so pruning the tiny cores pre-explode
    # drops the alphabet-bounded hot buckets without losing any
    # short-long or long-long candidate.
    cores = F.filter(
        F.array_distinct(cores), lambda c: F.length(c) > short_cut - max_dist
    )
    ex = (
        base.filter(name.isNotNull())
        .select(block_col, id_col, name_col, cores.alias("_c"))
        .select(
            F.col(block_col),
            F.col(id_col),
            F.col(name_col),
            F.explode("_c").alias("_core"),
        )
        .select(
            F.col(block_col),
            F.col(id_col),
            F.col(name_col),
            F.xxhash64("_core").alias("_core"),
        )
    )
    cand = pairs_within_groups(
        ex, [block_col, "_core"], id_col, [name_col],
        max_group_size=max_core_bucket,
    )
    long_pairs = (
        cand.select(
            F.col(block_col),
            F.col("a")[id_col].alias("id_a"),
            F.col("b")[id_col].alias("id_b"),
            F.col("a")[name_col].alias("_na"),
            F.col("b")[name_col].alias("_nb"),
        )
        # short-short pairs already came from the quadratic sub-path;
        # a long-enough shared core can still surface them here, so
        # drop them before the union to keep pairs unique
        .filter(
            (F.length("_na") > short_cut) | (F.length("_nb") > short_cut)
        )
        .distinct()  # a true pair shares MANY cores; count it once
        .select(
            F.col(block_col),
            F.col("id_a"),
            F.col("id_b"),
            F.levenshtein(F.col("_na"), F.col("_nb")).cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )
    return long_pairs.unionByName(short_pairs)


# --- duplicate clustering ----------------------------------------------------


def connected_components(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    max_iterations: int = 20,
    require_converged: bool = False,
) -> DataFrame:
    """Connected components over a pair list: every node labeled with the
    smallest node id reachable from it — the clustering step that turns
    near-dup PAIRS (minhash/simhash/cosine candidates) into dedup GROUPS,
    from which one canonical document per cluster survives.

    Synchronous min-label (Hash-Min) propagation over the undirected
    graph: each round every node takes the min label in its neighborhood
    (including its own); stop when no label changed. Rounds needed is the
    graph diameter (near-dup clusters are shallow — a handful of rounds).
    Each round is one ``graph._superstep``: every node sends its label
    along its adjacency, one groupBy takes the min, and the eager
    checkpoint observes the changed-label count, so nothing but that
    count reaches the driver.

    Returns (node, component) — component = min node id in the cluster.
    Isolated nodes (absent from pairs) are by definition their own
    component and are not emitted; union them in from the corpus if a
    total labeling is needed.

    The pairs input is walked ONCE, into the initial state (node, label,
    adjacency set); no round re-executes the upstream pair pipeline
    (shingling → bucket shuffle → pair explode).

    Convergence audit: the per-round changed-label counts are recorded on
    the returned DataFrame's ``._cc_audit`` attribute as
    ``{"rounds": [...], "converged": bool}``. A pathological corpus-wide
    near-dup cluster (diameter > max_iterations) is thereby detected, not
    silently iterated past: non-convergence logs a warning, and
    ``require_converged=True`` raises instead.
    """
    import logging

    a, b = F.col(left_col), F.col(right_col)
    # Both directions come from a map-side explode of ONE walk of
    # ``pairs``, not a union of two selects over it (union branches are
    # separate plan subtrees: the upstream pair pipeline would run twice).
    labels = (
        pairs.select(
            F.inline(
                F.array(
                    F.struct(a.alias("node"), b.alias("nb")),
                    F.struct(b.alias("node"), a.alias("nb")),
                )
            )
        )
        .groupBy("node")
        .agg(F.collect_set("nb").alias("adj"))
        .select("node", F.col("node").alias("value"), "adj")
        .localCheckpoint(eager=True)
    )
    changed_per_round: list[int] = []
    converged = False
    for _ in range(max_iterations):
        # labels only fall, so "changed" is row-local: inbox < prev
        labels, seen = _superstep(
            labels,
            F.expr("transform(adj, v -> named_struct('node', v, 'msg', value))"),
            F.min("msg"),
            F.least("prev", "inbox"),
            F.count_if(F.col("inbox") < F.col("prev")).alias("changed"),
        )
        changed_per_round.append(seen["changed"])
        if seen["changed"] == 0:
            converged = True
            break
    if not converged:
        msg = (
            "connected_components did not converge within "
            f"{max_iterations} iterations (changed per round: "
            f"{changed_per_round}); labels may span a cluster of diameter "
            f"> {max_iterations} — raise max_iterations or investigate a "
            "pathological whole-corpus near-dup cluster"
        )
        if require_converged:
            raise RuntimeError(msg)
        logging.getLogger(__name__).warning(msg)
    labels = labels.select("node", F.col("value").alias("component"))
    labels._cc_audit = {"rounds": changed_per_round, "converged": converged}
    return labels


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlap: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Train/test decontamination by word n-gram overlap: flag every
    corpus document sharing at least ``min_overlap`` distinct n-grams with
    ANY benchmark text (the GPT-3 appendix-C / PaLM-style contamination
    rule, collapsed over benchmark identity).

    Scale shape: the benchmark's distinct shingle-hash set is tiny
    relative to a 100 TB corpus (eval suites are MBs), so it BROADCASTS —
    the corpus side is then a map-only shingle-explode + broadcast-hash
    semi-match + per-doc count, one shuffle total (the per-doc groupBy).
    Shingles travel as 8-byte xxhash64 keys, never as strings. If a
    benchmark ever outgrows the broadcast threshold, drop the
    ``F.broadcast`` hint and the identical plan runs as a shuffled
    equi-join.

    Returns one row per corpus doc — (id, n_shingles, n_overlap,
    overlap_frac, contaminated) — so the caller filters or audits; docs
    with zero overlap are present with n_overlap = 0.

    Single corpus scan: the per-doc shingle count rides the exploded rows
    (it is size(shingles), known before explode), a LEFT join against the
    broadcast set marks matches, and one per-doc groupBy recovers both
    counts — the two-consumer form (separate sizes frame + inner join)
    re-ran the shingle pipeline per consumer. explode_outer keeps
    zero-shingle docs as a null row (the hash stays NULL, never joining)
    so they surface with n_overlap = 0.
    """
    sh = shingled(corpus, id_col, text_col, n)
    ex = sh.select(
        F.col(id_col),
        F.size("shingles").alias("_sz"),
        F.explode_outer("shingles").alias("_s"),
    ).select(
        F.col(id_col),
        F.col("_sz"),
        F.when(F.col("_s").isNotNull(), F.xxhash64(F.col("_s"))).alias("_h"),
    )
    bench_set = (
        shingled(benchmark, bench_id_col, bench_text_col, n)
        .select(F.explode_outer("shingles").alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(F.xxhash64(F.col("_s")).alias("_h"))
        .distinct()
        .withColumn("_m", F.lit(1))
    )
    return (
        ex.join(F.broadcast(bench_set), "_h", "left")
        .groupBy(id_col)
        .agg(
            F.max("_sz").cast("long").alias("n_shingles"),
            F.count("_m").alias("n_overlap"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            F.col("n_overlap").cast("long").alias("n_overlap"),
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_overlap") / F.col("n_shingles").cast("double"),
            ).alias("overlap_frac"),
            (F.col("n_overlap") >= min_overlap).alias("contaminated"),
        )
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    fingerprint_col: Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest dedup: drop arriving documents whose content
    fingerprint already exists in the historical corpus — the streaming/
    batch-append companion to :func:`exact_dedup` (dedup WITHIN a batch)
    and the reason production pipelines keep a fingerprint store instead
    of re-deduping the whole corpus per ingest.

    Plan shape: fingerprints are computed map-side on BOTH frames (the
    text never shuffles), then a LEFT ANTI join on the 8-byte hash —
    at 100 TB the seen side is the fingerprint STORE (id + hash columns
    only), which bucket-joins against the batch without touching
    historical text. The default fingerprint is whitespace-normalized
    lowercased md5 (not xxhash64) so the op is oracle-expressible;
    pass ``fingerprint_col`` to swap the hash.
    Returns the new-batch rows that survive, original columns intact.
    """
    if fingerprint_col is None:
        fingerprint_col = F.md5(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[ \t\n\x0B\f\r]+", " ").cast(
                "binary"
            )
        )
    new_fp = new_df.withColumn("_fp", fingerprint_col)
    seen_fp = seen_df.select(fingerprint_col.alias("_fp"))
    return new_fp.join(seen_fp, "_fp", "left_anti").drop("_fp")


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos_encoding: int = 1_000_000,
) -> DataFrame:
    """Exact duplicated-span REMOVAL (the Lee-et-al substring-dedup
    semantics, n-gram windows standing in for the suffix array): every
    word n-gram occurring more than once in the corpus keeps exactly ONE
    canonical occurrence (smallest (doc, position)); all other
    occurrences have their n-token span excised, and documents are
    rebuilt from the surviving tokens.

    Dataflow — all linear, two hash shuffles:
      1. occurrences (doc, pos, xxhash64(gram)) via positional explode;
      2. per-gram count + canonical min(doc*P + pos) (map-combined);
      3. non-canonical occurrences of duplicated grams explode into
         their covered token indices (distinct per doc);
      4. tokens anti-join the removed indices on (doc, idx) and the doc
         is rebuilt with a sort_array over (idx, token) structs.
    The text column is tokenized once; everything that shuffles is
    hashes and integer positions. ``pos_encoding`` must exceed the max
    token count per document (positions pack into one BIGINT so the
    canonical argmin is a plain MIN).

    The gram key is a 128-bit md5 (16-byte binary), not xxhash64: this
    operator DESTROYS text, so a hash collision here would merge two
    distinct n-grams and permanently excise real, non-duplicated spans
    (unlike crossdoc_ngram_stats, where a collision merely perturbs a
    quality signal). At 10^12 corpus grams the 64-bit birthday bound
    expects ~3e4 real collisions; at 128 bits the expectation is ~1e-15
    — negligible even at 100 TB. Doubling the shuffled key from 8 to 16
    bytes is the whole cost.

    Docs shorter than n tokens pass through untouched; rebuilt text is
    whitespace-normalized (it is reassembled from the token stream).
    Returns (id_col, n_tokens, n_removed, cleaned_text) per doc with
    >= 1 token.
    """
    staged = (
        df.select(F.col(id_col), words(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= 1)
        .localCheckpoint(eager=False)  # feeds occurrences AND the token
        # frame; one tokenize pass
    )

    # 1-based positions to match the SQL-oracle convention
    occ = (
        staged.filter(F.size("_toks") >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_toks") - n + 1),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.unhex(
                            F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), i, n)))
                        ).alias("gh"),
                    ),
                )
            ).alias("_o"),
        )
        .select(F.col(id_col), F.col("_o.pos").alias("pos"), F.col("_o.gh").alias("gh"))
        .localCheckpoint(eager=False)
    )
    enc = F.col(id_col) * pos_encoding + F.col("pos")
    grams = occ.groupBy("gh").agg(
        F.count(F.lit(1)).alias("_cnt"), F.min(enc).alias("_canon")
    )
    deleted = (
        occ.join(grams, "gh")
        .filter((F.col("_cnt") >= 2) & (enc != F.col("_canon")))
        .select(F.col(id_col), F.explode(F.sequence("pos", F.col("pos") + n - 1)).alias("idx"))
        .distinct()
    )
    tok_rows = staged.select(
        F.col(id_col),
        F.posexplode("_toks").alias("idx0", "tok"),
    ).select(F.col(id_col), (F.col("idx0") + 1).alias("idx"), "tok")
    survivors = tok_rows.join(deleted, [id_col, "idx"], "left_anti")
    rebuilt = survivors.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("cleaned_text"),
    )
    sizes = staged.select(F.col(id_col), F.size("_toks").cast("long").alias("n_tokens"))
    # left join: a doc whose EVERY token was excised has no survivor row
    return (
        sizes.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )


def dedup_savings(docs: DataFrame) -> DataFrame:
    """Exact-dedup savings report per source: documents vs distinct
    texts and the bytes a dedup pass would reclaim — the
    cost-justification number every dedup rollout leads with (and the
    per-feed duplication scoreboard afterwards). One (source, text-hash)
    aggregate; at scale the groupBy key is the 128-bit text hash, the
    text itself never shuffles (lengths ride as ints).
    Returns (source, n_docs, n_distinct_texts, bytes_before,
    bytes_after, bytes_saved)."""
    per_text = docs.groupBy("source", F.md5("text").alias("_h")).agg(
        F.count(F.lit(1)).alias("copies"), F.max("n_chars").alias("chars")
    )
    return per_text.groupBy("source").agg(
        F.sum("copies").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_texts"),
        F.sum(F.col("copies") * F.col("chars")).cast("long").alias("bytes_before"),
        F.sum("chars").cast("long").alias("bytes_after"),
        F.sum((F.col("copies") - 1) * F.col("chars"))
        .cast("long")
        .alias("bytes_saved"),
    )
