"""Similarity and dedup queries over ``documents`` and ``embeddings``:
exact, n-gram Jaccard, MinHash-LSH, SimHash and connected-component dedup
(``dd*``), benchmark decontamination (``dc*``), semantic dedup
(``sd*``), and exact, LSH and IVF nearest-neighbour search with the
embedding-space audits (``k*``).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import dedup, similarity, text as tx
from market_data_pipeline_spark.operators.analytics import fp_sum
from market_data_pipeline_spark.plans.driver_queries import _dd3_perms_values, query
from market_data_pipeline_spark.sources.catalog import load_table


# Distinct word 3-gram shingles per document, keyed by (doc_id, lang): the
# ``toks``, ``sh0`` and ``sh`` CTEs of the n-gram dedup oracles.
SHINGLE_CTE = r"""toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS t FROM documents
), sh0 AS (
  SELECT doc_id, lang, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), sh AS (
  SELECT DISTINCT doc_id, lang,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM sh0
)"""


# --- DD1: exact dedup -------------------------------------------------------


@query(
    "dd1_exact_dedup",
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
FROM documents
GROUP BY text""",
)
def dd1_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


# --- DD2: n-gram Jaccard near-dup pairs ------------------------------------


@query(
    "dd2_ngram_jaccard",
    rf"""WITH {SHINGLE_CTE}, sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.common,
       p.common / (sa.sz + sb.sz - p.common) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE p.common / (sa.sz + sb.sz - p.common) >= 0.1""",
)
def dd2_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), group_col="lang", n=3, threshold=0.1
    )


@query(
    "dd9_ngram_jaccard_capped",
    rf"""WITH {SHINGLE_CTE}, dfreq AS (
  SELECT lang, shingle, COUNT(*) AS df FROM sh GROUP BY 1, 2
), kept AS (
  SELECT s.* FROM sh s
  JOIN dfreq d ON s.lang = d.lang AND s.shingle = d.shingle AND d.df <= 3
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM kept a JOIN kept b
    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.common,
       p.common / (sa.sz + sb.sz - p.common) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE p.common / (sa.sz + sb.sz - p.common) >= 0.1""",
)
def dd9_ngram_jaccard_capped(spark, sf_dir):
    """dd2 with the stop-shingle guard engaged (max_doc_freq=3): shingles
    shared by more than 3 documents are dropped before pair expansion —
    the hot-bucket cap every production dedup pipeline ships, here pinned
    against an oracle that spells the identical doc-frequency filter. The
    |A|/|B| sizes still count ALL shingles, so jaccard is the documented
    lower bound."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        group_col="lang", n=3, threshold=0.1, max_doc_freq=3,
    )


# --- K1/K2: embedding similarity search ------------------------------------

_COSINE_SQL = """ROUND(
  list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(q.embedding, x -> CAST(x AS DOUBLE)))
  / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                           list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
   * sqrt(list_dot_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                           list_transform(q.embedding, x -> CAST(x AS DOUBLE))))), 6)"""


@query(
    "k1_knn_topk",
    f"""WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, {_COSINE_SQL} AS cosine
  FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id <> q.vec_id
)
SELECT query_id, vec_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 10""",
)
def k1_knn_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_batch(emb, emb.filter(F.col("vec_id") == 0), k=10).select(
        "query_id", "vec_id", "cosine", "rank"
    )


@query(
    "k2_knn_batch",
    f"""WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, {_COSINE_SQL} AS cosine
  FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
  WHERE e.vec_id <> q.vec_id
)
SELECT query_id, vec_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5""",
)
def k2_knn_batch(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_batch(emb, emb.filter(F.col("vec_id") < 5), k=5).select(
        "query_id", "vec_id", "cosine", "rank"
    )


# --- DD5: exact embedding-cosine near-dup pairs -----------------------------


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two list columns, rounded to 6 dp (matches the
    Spark side's sequential-double accumulation bit-for-bit)."""
    da = f"list_transform({a}, x -> CAST(x AS DOUBLE))"
    db = f"list_transform({b}, x -> CAST(x AS DOUBLE))"
    return (
        f"ROUND(list_dot_product({da}, {db}) / "
        f"(sqrt(list_dot_product({da}, {da})) * sqrt(list_dot_product({db}, {db}))), 6)"
    )


@query(
    "dd5_cosine_near_dup",
    f"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_cos_sql('a.embedding', 'b.embedding')} AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.4
ORDER BY vec_a, vec_b""",
)
def dd5_cosine_near_dup(spark, sf_dir):
    return similarity.cosine_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


# Each embedding's nearest centroid by cosine, ties to the lower id, over a
# centroid CTE ``c(centroid_id, embedding)``: the IVF assign step.
IVF_ASSIGN_CTE = f"""assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.embedding', 'c.embedding')} DESC, c.centroid_id
           ) AS rn
    FROM embeddings e, c)
  WHERE rn = 1
)"""


# --- K4: IVF approximate nearest neighbors ----------------------------------

_IVF_CENTROIDS = 16
_IVF_PROBE = 4


@query(
    "k4_knn_ivf",
    f"""WITH c AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}
), q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5
), probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC, c.centroid_id
           ) AS rn
    FROM q, c)
  WHERE rn <= {_IVF_PROBE}
), {IVF_ASSIGN_CTE}, scored AS (
  SELECT p.query_id, e.vec_id, {_cos_sql('e.embedding', 'q.embedding')} AS cosine
  FROM embeddings e
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN probes p ON p.centroid_id = a.centroid_id
  JOIN q ON q.query_id = p.query_id
  WHERE e.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5""",
)
def k4_knn_ivf(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_ivf(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=5,
        n_centroids=_IVF_CENTROIDS,
        n_probe=_IVF_PROBE,
    )


def _k5_oracle_sql(k: int = _IVF_CENTROIDS, iters: int = 2, seed: int = 42) -> str:
    """DuckDB mirror of kmeans_lloyd_exact(k=16, max_iter=2, seed=42,
    sample_hex=4) + knn_ivf: the Lloyd loop UNROLLS into one
    (assign, argmin, means, keep-prior) CTE quartet per iteration — the
    same unrolled-iteration oracle recipe as PageRank/MMR (r9). Every
    arithmetic step is the k15/k16-validated fixed-point form: HUGEINT
    sums of round((x-y)^2*1e9) for distances, BIGINT sums of
    round(v*1e6)/1e6/n for means, md5 draws for the seeded sample and
    init, (sq IS NULL)-last + lowest-cid ties for the argmin. The
    search tail is k4's SQL with the learned centroid lists swapped in."""
    md5_draw = f"md5('{seed}-' || CAST(vec_id AS VARCHAR))"
    hexes = ", ".join(f"'{format(i, 'x')}'" for i in range(4))
    parts = [
        f"""WITH ex AS (
  SELECT vec_id, CAST(x AS INTEGER) AS dim0,
         CAST(embedding[CAST(x AS INTEGER) + 1] AS DOUBLE) AS v
  FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS x
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0)
), samp AS (
  SELECT * FROM ex
  WHERE substring({md5_draw}, 1, 1) IN ({hexes})
), seeds AS (
  SELECT vec_id,
         ROW_NUMBER() OVER (ORDER BY {md5_draw}, vec_id) - 1 AS cid
  FROM (SELECT DISTINCT vec_id FROM samp)
  QUALIFY cid < {k}
), c0 AS (
  SELECT s.cid, e.dim0, e.v AS mv FROM seeds s JOIN samp e USING (vec_id)
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", d{i} AS (
  SELECT s.vec_id, c.cid,
         SUM(CAST(ROUND((s.v - c.mv) * (s.v - c.mv) * 1e9) AS HUGEINT)) / 1e9
             AS sq
  FROM samp s JOIN c{i - 1} c ON s.dim0 = c.dim0
  GROUP BY 1, 2
), b{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY (sq IS NULL), COALESCE(sq, 0), cid) AS rn
    FROM d{i}) WHERE rn = 1
), m{i} AS (
  SELECT b.cid, s.dim0,
         (SUM(CAST(ROUND(s.v * 1e6) AS BIGINT)) / 1e6) / COUNT(*) AS mv
  FROM samp s JOIN b{i} b USING (vec_id) GROUP BY 1, 2
), c{i} AS (
  SELECT p.cid, p.dim0, COALESCE(m.mv, p.mv) AS mv
  FROM c{i - 1} p LEFT JOIN m{i} m ON m.cid = p.cid AND m.dim0 = p.dim0
)"""
        )
    parts.append(
        f""", c AS (
  SELECT cid AS centroid_id, list(mv ORDER BY dim0) AS embedding
  FROM c{iters} GROUP BY cid
), q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5
), probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC, c.centroid_id
           ) AS rn
    FROM q, c)
  WHERE rn <= {_IVF_PROBE}
), {IVF_ASSIGN_CTE}, scored AS (
  SELECT p.query_id, e.vec_id, {_cos_sql('e.embedding', 'q.embedding')} AS cosine
  FROM embeddings e
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN probes p ON p.centroid_id = a.centroid_id
  JOIN q ON q.query_id = p.query_id
  WHERE e.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5"""
    )
    return "".join(parts)


@query("k5_knn_ivf_kmeans", _k5_oracle_sql())
def k5_knn_ivf_kmeans(spark, sf_dir):
    """IVF ANN with LEARNED centroids — converted off MLlib onto the
    repo's own deterministic Lloyd fit (r11 verdict #3:
    similarity.kmeans_lloyd_exact — md5-seeded 25% sample + init, exact
    fixed-point assignment/means), so the whole index build + search
    chain is hash-gated against the unrolled-iteration DuckDB oracle.
    MLlib's kmeans|| path stays available as
    similarity.kmeans_centroids for callers that want it; the recall
    property both fits must satisfy is pinned in tests/test_llm_ops.py.
    The fit runs on the seeded 25% sample — k-means re-scans its input
    per iteration, so sampling divides the dominant cost by 4 while the
    full corpus is still assigned exactly via broadcast centroids.
    max_iter=2 is a MEASURED choice, not a shortcut: on this corpus the
    coarse-quantizer quality is probe-bound — recall@5 vs brute force
    is flat (0.44-0.52) for 1..8 Lloyd iterations AND for the old MLlib
    fit (0.44), while centroid movement drops 0.81 -> 0.13 by iteration
    2 (BENCHNOTES r12); extra iterations buy wall-clock, not recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_lloyd_exact(
        emb, k=_IVF_CENTROIDS, max_iter=2, seed=42, sample_hex=4
    )
    return similarity.knn_ivf(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=_IVF_PROBE,
        centroids=cents,
    )


def _dd6_oracle_sql() -> str:
    """DuckDB mirror of cosine_near_dup_lsh(dim=64, threshold=0.4,
    n_bands=16, band_planes=4, seed=42). The same seeded hyperplanes are
    inlined as full-precision double list literals; vectors are unit-
    normalized with NULLIF-division (try_divide parity: a zero-norm
    vector's NULL projections fail every `>= 0` CASE, landing in bucket
    0 of every band exactly like the numpy path's NaN signs); candidate
    pairs collide in ANY band (DISTINCT = the Spark side's
    first-colliding-band dedup); cosines round to 6 dp before the
    threshold on both sides (dd5's BLAS-ULP argument)."""
    planes = similarity.random_hyperplanes(64, 16 * 4, 42)
    band_exprs = []
    for b in range(16):
        bits = []
        for j in range(4):
            lit = "[" + ", ".join(repr(float(x)) for x in planes[b * 4 + j]) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(nd, {lit}) >= 0 "
                f"THEN {1 << j} ELSE 0 END)"
            )
        band_exprs.append("(" + " + ".join(bits) + f") AS b{b}")
    bucket_cols = ",\n         ".join(band_exprs)
    any_band = " OR ".join(f"x.b{b} = y.b{b}" for b in range(16))
    return f"""WITH dv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
  FROM embeddings
), nv AS (
  -- whole-list NULL for zero-norm vectors: DuckDB's list_dot_product
  -- errors on NULL *elements* but propagates a NULL *argument*, and a
  -- NULL projection fails every `>= 0` CASE exactly like the Spark
  -- side's NaN signs (try_divide NULL components -> numpy NaN)
  SELECT vec_id,
         CASE WHEN sqrt(list_dot_product(d, d)) = 0 THEN NULL
              ELSE list_transform(d, x -> x / sqrt(list_dot_product(d, d)))
         END AS nd
  FROM dv
), bk AS (
  SELECT vec_id, nd,
         {bucket_cols}
  FROM nv
), cand AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         ROUND(list_dot_product(x.nd, y.nd), 6) AS cosine
  FROM bk x JOIN bk y ON x.vec_id < y.vec_id AND ({any_band})
)
SELECT vec_a, vec_b, cosine FROM cand
WHERE cosine >= 0.4 ORDER BY vec_a, vec_b"""


@query("dd6_cosine_near_dup_lsh", _dd6_oracle_sql())
def dd6_cosine_near_dup_lsh(spark, sf_dir):
    """Sign-LSH-banded near-dup pairs, hash-gated end-to-end: seeded
    hyperplanes are deterministic literals in both plans, normalization
    is bit-identical (sequential sum of squares + one division), sign
    buckets agree through the NULL/NaN zero-vector path, and 6 dp
    cosine rounding absorbs BLAS accumulation ULPs (see
    _dd6_oracle_sql). Recall vs the exact dd5 pairs additionally
    asserted in pytest."""
    return similarity.cosine_near_dup_lsh(
        load_table(spark, sf_dir, "embeddings"), dim=64, threshold=0.4, n_bands=16, band_planes=4
    )


@query(
    "dd3_minhash_lsh",
    rf"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM documents
), g0 AS (
  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
  FROM toks WHERE len(t) >= 3
), grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g FROM g0
), hs AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 7))::BIGINT AS h FROM grams
), perms(i, a, b) AS (
  VALUES {_dd3_perms_values()}
), sig AS (
  SELECT doc_id, p.i, MIN((p.a * h.h + p.b) % 2147483647) AS mh
  FROM hs h CROSS JOIN perms p GROUP BY 1, 2
), bands AS (
  SELECT doc_id, i // 4 AS band_id,
         ('0x' || substr(md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)),
                         1, 15))::BIGINT AS band_hash
  FROM sig GROUP BY doc_id, i // 4
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_bands_matched
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
GROUP BY 1, 2 ORDER BY 1, 2""",
)
def dd3_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs, hash-gated end-to-end: md5-prefix
    base hashes and mod-(2^31-1) universal permutations are integer-exact
    in both engines, so the full signature -> band -> bucket-join
    pipeline value-matches the DuckDB oracle (which inlines the same
    seeded (a_i, b_i) parameters). Was rows-only while the base hash was
    crc32/xxhash64 — and degenerate: without the mod, every signature
    position was an affine image of one gram hash (see
    dedup._minhash_params)."""
    return dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "dd4_simhash_pairs",
    r"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM documents
), g0 AS (
  SELECT doc_id, t, unnest(range(1, len(t))) AS i
  FROM toks WHERE len(t) >= 2
), grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g FROM g0
), hs AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 16))::UBIGINT AS h FROM grams
), votes AS (
  SELECT doc_id, u.k,
         SUM(CASE WHEN (h >> u.k) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM hs CROSS JOIN (SELECT unnest(range(0, 64)) AS k) u
  GROUP BY 1, 2
), bands AS (
  SELECT doc_id, k // 16 AS band_id,
         CAST(SUM(CASE WHEN vote > 0 THEN 1 << (k % 16) ELSE 0 END) AS BIGINT)
             AS band_val
  FROM votes GROUP BY 1, 2
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
), ham AS (
  SELECT c.doc_a, c.doc_b,
         SUM(bit_count(xor(x.band_val, y.band_val))) AS hamming
  FROM cands c
  JOIN bands x ON x.doc_id = c.doc_a
  JOIN bands y ON y.doc_id = c.doc_b AND y.band_id = x.band_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming
FROM ham WHERE hamming <= 10 ORDER BY 1, 2""",
)
def dd4_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, hash-gated end-to-end: md5-prefix 64-bit
    gram hashes make the bit votes, 16-bit band values and hamming
    distances exact integers both engines compute identically. Was
    rows-only while the gram hash was a crc32 pack."""
    fp = dedup.simhash(load_table(spark, sf_dir, "documents"))
    return dedup.simhash_near_pairs(fp, max_hamming=10)


def _k3_bucket_sql(col: str) -> str:
    """Sign-LSH bucket id in DuckDB for the SAME seeded hyperplanes the
    Spark operator builds (similarity.random_hyperplanes(64, 6, 42)).
    Each plane is inlined as a full-precision double list literal, so
    list_dot_product reproduces the Spark side's sequential-double
    projection bit-for-bit (same argument as _cos_sql) and the sign
    bits agree exactly."""
    planes = similarity.random_hyperplanes(64, 6, 42)
    d = f"list_transform({col}, x -> CAST(x AS DOUBLE))"
    bits = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        bits.append(
            f"(CASE WHEN list_dot_product({d}, {lit}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


@query(
    "k3_knn_lsh",
    f"""WITH c AS (
  SELECT vec_id, embedding, {_k3_bucket_sql('embedding')} AS b FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, {_k3_bucket_sql('embedding')} AS b
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, c.vec_id,
         {_cos_sql('c.embedding', 'q.qe')} AS cosine
  FROM c JOIN q ON c.b = q.b AND c.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id) AS rank
  FROM scored)
WHERE rank <= 5 ORDER BY query_id, rank""",
)
def k3_knn_lsh(spark, sf_dir):
    """Sign-LSH approximate top-k, hash-gated end-to-end: the seeded
    hyperplanes are deterministic float literals in BOTH plans (the
    oracle inlines the same generator's output), projections accumulate
    sequentially in double on both engines, and cosines round to 6 dp —
    so bucket ids, candidate sets and ranks match exactly. Was
    rows-only while the buckets were assumed non-reproducible."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_lsh(
        emb, emb.filter(F.col("vec_id") < 5), dim=64, k=5, n_planes=6
    )


@query(
    "dd7_dup_clusters",
    """WITH RECURSIVE p AS (
  SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b
  FROM supplier a
  JOIN supplier b
    ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
  WHERE levenshtein(a.s_name, b.s_name) <= 2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
),
reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
)
SELECT node, LEAST(node, MIN(r)) AS component
FROM reach GROUP BY node ORDER BY node""",
)
def dd7_dup_clusters(spark, sf_dir):
    """Near-dup pairs -> duplicate CLUSTERS via iterative min-label
    propagation (dedup.connected_components); the oracle computes the same
    components with a recursive-CTE transitive closure — affordable at
    sf0.01, quadratic-in-cluster at scale, which is exactly why the
    engine side iterates instead: one groupBy over the node rows, which
    carry their adjacency, per round of cluster diameter."""
    sup = load_table(spark, sf_dir, "supplier")
    pairs = dedup.blocked_name_pairs(
        sup, block_col="s_nationkey", id_col="s_suppkey", name_col="s_name", max_dist=2
    )
    return dedup.connected_components(pairs, "id_a", "id_b")


@query(
    "dd10_dedup_keep_best",
    """WITH RECURSIVE p AS (
  SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b
  FROM supplier a
  JOIN supplier b
    ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
  WHERE levenshtein(a.s_name, b.s_name) <= 2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
),
reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
),
comp AS (
  SELECT node, LEAST(node, MIN(r)) AS component FROM reach GROUP BY node
)
SELECT component, node AS keep_id,
       CAST(s.s_acctbal AS DOUBLE) AS quality,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
FROM comp JOIN supplier s ON s.s_suppkey = comp.node
QUALIFY ROW_NUMBER() OVER (PARTITION BY component
                           ORDER BY s.s_acctbal DESC, node) = 1
ORDER BY component""",
)
def dd10_dedup_keep_best(spark, sf_dir):
    """Quality-aware canonical selection: duplicate clusters (connected
    components over blocked name pairs) each keep their BEST member —
    highest account balance, id tiebreak — instead of dd7/dd8's min-id
    convention. This is the real pipeline semantics: when near-dups
    collapse, keep the longest / highest-quality / most-recent document,
    not an arbitrary one. One window over the component partitioning on
    top of the CC labels (the same min-label rounds as dd7)."""
    sup = load_table(spark, sf_dir, "supplier")
    pairs = dedup.blocked_name_pairs(
        sup, block_col="s_nationkey", id_col="s_suppkey", name_col="s_name", max_dist=2
    )
    comp = dedup.connected_components(pairs, "id_a", "id_b")
    joined = comp.join(
        F.broadcast(sup.select("s_suppkey", "s_acctbal")),
        comp.node == F.col("s_suppkey"),
    )
    w = Window.partitionBy("component")
    wr = w.orderBy(F.desc("s_acctbal"), "node")
    return (
        joined.withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") == 1)
        .select(
            "component",
            F.col("node").alias("keep_id"),
            F.col("s_acctbal").cast("double").alias("quality"),
            "cluster_size",
        )
    )


@query(
    "dd8_dedup_corpus",
    rf"""WITH RECURSIVE {SHINGLE_CTE}, sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jp AS (
  SELECT p.doc_a, p.doc_b
  FROM cand p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE p.common / (sa.sz + sb.sz - p.common) >= 0.1
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION
  SELECT doc_b, doc_a FROM jp
), reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
), comp AS (
  SELECT node, LEAST(node, MIN(r)) AS component FROM reach GROUP BY node
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
ORDER BY d.doc_id""",
)
def dd8_dedup_corpus(spark, sf_dir):
    """The end-to-end near-dup removal a training-data pipeline actually
    ships: shingle-Jaccard pairs -> connected components -> keep the
    min-id canonical doc per cluster, anti-join the rest out of the
    corpus. Every stage is a prior oracle-checked operator; this query
    checks their composition."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, group_col="lang", n=3, threshold=0.1)
    cc = dedup.connected_components(pairs, "doc_a", "doc_b")
    drop = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source")


@query(
    "dd8_capped_dedup_corpus",
    rf"""WITH RECURSIVE {SHINGLE_CTE}, dfreq AS (
  SELECT lang, shingle, COUNT(*) AS df FROM sh GROUP BY 1, 2
), kept AS (
  SELECT s.* FROM sh s
  JOIN dfreq d ON s.lang = d.lang AND s.shingle = d.shingle AND d.df <= 3
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM kept a JOIN kept b
    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jp AS (
  SELECT p.doc_a, p.doc_b
  FROM cand p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE p.common / (sa.sz + sb.sz - p.common) >= 0.1
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION
  SELECT doc_b, doc_a FROM jp
), reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
), comp AS (
  SELECT node, LEAST(node, MIN(r)) AS component FROM reach GROUP BY node
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
ORDER BY d.doc_id""",
)
def dd8_capped_dedup_corpus(spark, sf_dir):
    """dd8's end-to-end near-dup removal on the SCALE-SAFE path: the
    stop-shingle cap (max_doc_freq=3) is engaged before pair expansion,
    so a shingle shared by the whole corpus can never explode the
    candidate join — this is the shape the pipeline ships at 100 TB,
    benched as a first-class query rather than only the uncapped oracle
    mode. The oracle spells the identical doc-frequency filter, so the
    capped composition is hash-checked end-to-end too."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, group_col="lang", n=3, threshold=0.1, max_doc_freq=3
    )
    cc = dedup.connected_components(pairs, "doc_a", "doc_b")
    drop = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source")


# --- DC1: train/test decontamination -----------------------------------------


@query(
    "dc1_decontaminate",
    r"""WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS t FROM documents
), sh0 AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM sh0
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0
), sizes0 AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh WHERE doc_id % 20 <> 0 GROUP BY 1
), sizes AS (
  -- NULL-text docs produce no sh rows (NULL list propagates through
  -- unnest) but must still pass through decontamination with 0
  -- shingles, matching the Spark operator's explode_outer behavior
  SELECT t.doc_id, COALESCE(z.n_shingles, 0) AS n_shingles
  FROM toks t LEFT JOIN sizes0 z USING (doc_id)
  WHERE t.doc_id % 20 <> 0
), ov AS (
  SELECT s.doc_id, COUNT(*) AS n_overlap
  FROM sh s JOIN bench b USING (shingle)
  WHERE s.doc_id % 20 <> 0 GROUP BY 1
)
SELECT z.doc_id,
       CAST(z.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       CASE WHEN z.n_shingles > 0
            THEN COALESCE(o.n_overlap, 0) / CAST(z.n_shingles AS DOUBLE) END
           AS overlap_frac,
       COALESCE(o.n_overlap, 0) >= 2 AS contaminated
FROM sizes z LEFT JOIN ov o USING (doc_id)
ORDER BY z.doc_id""",
)
def dc1_decontaminate(spark, sf_dir):
    """Train/test decontamination: every 20th document plays the held-out
    benchmark; the rest of the corpus is screened for 3-gram overlap
    against the benchmark's (broadcast) distinct shingle set — the GPT-3
    appendix-C contamination rule as a broadcast semi-match + one per-doc
    count shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    return dedup.decontaminate(corpus, benchmark, n=3, min_overlap=2)


# --- SD1: SemDeDup-style semantic dedup --------------------------------------

_SD_CLUSTERS = 16
_SD_THRESHOLD = 0.4


@query(
    "sd1_semantic_dedup",
    f"""WITH c AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE vec_id < {_SD_CLUSTERS}
), {IVF_ASSIGN_CTE}, av AS (
  SELECT a.vec_id, a.centroid_id, e.embedding
  FROM assign a JOIN embeddings e USING (vec_id)
), dups AS (
  SELECT a.vec_id, MIN(b.vec_id) AS dup_of
  FROM av a JOIN av b ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
  WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {_SD_THRESHOLD}
  GROUP BY 1
)
SELECT av.vec_id, av.centroid_id, d.dup_of, d.dup_of IS NULL AS keep
FROM av LEFT JOIN dups d USING (vec_id)
ORDER BY av.vec_id""",
)
def sd1_semantic_dedup(spark, sf_dir):
    """SemDeDup (cluster, then drop in-cluster semantic near-dups keeping
    the lowest id). Deterministic first-k centroids make the whole
    pipeline — assignment argmax, in-cluster pair threshold, survivor
    rule — oracle-checkable; kmeans centroids plug into the same operator
    for the learned production index."""
    return similarity.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=_SD_THRESHOLD,
        n_clusters=_SD_CLUSTERS,
    )


# --- DD11: incremental-ingest dedup ------------------------------------------


@query(
    "dd11_incremental_dedup",
    r"""WITH fp AS (
  SELECT doc_id, lang, source, n_chars,
         md5(array_to_string(
             (string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'))[1:10], ' ')) AS fpr
  FROM documents
)
SELECT n.doc_id, n.lang, n.source, n.n_chars
FROM fp n
WHERE n.doc_id % 5 = 0
  AND NOT EXISTS (SELECT 1 FROM fp s
                  WHERE s.doc_id % 5 <> 0 AND s.fpr = n.fpr)
ORDER BY n.doc_id""",
)
def dd11_incremental_dedup(spark, sf_dir):
    """Incremental-ingest dedup: every 5th document plays the arriving
    batch; survivors are the arrivals whose head fingerprint (first 10
    tokens — the crawl-dedup 'same boilerplate head' key, exercising the
    operator's pluggable fingerprint) is absent from the already-ingested
    corpus. Left anti on the hash via the fingerprint-store pattern; text
    never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    head_fp = F.md5(F.array_join(F.slice(toks, 1, 10), " ").cast("binary"))
    new_batch = docs.filter(F.col("doc_id") % 5 == 0)
    seen = docs.filter(F.col("doc_id") % 5 != 0)
    return (
        dedup.incremental_dedup(new_batch, seen, fingerprint_col=head_fp)
        .select("doc_id", "lang", "source", "n_chars")
    )


@query(
    "dd12_crossdoc_ngram",
    r"""WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                             x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, s, s + 4), ' ') AS gram
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 5 + 2)) AS s
        FROM toks WHERE len(t) >= 5)
), gd AS (SELECT gram, COUNT(*) AS docs FROM grams GROUP BY 1)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN gd.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       ROUND(CAST(SUM(CASE WHEN gd.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
FROM grams g JOIN gd USING (gram)
GROUP BY 1 ORDER BY doc_id""",
)
def dd12_crossdoc_ngram(spark, sf_dir):
    """Per-doc fraction of distinct 5-grams shared with another document
    (cross-corpus contamination signal). The shuffle key is the 64-bit
    gram hash, never the gram string — see operators.text.crossdoc_ngram_stats."""
    return tx.crossdoc_ngram_stats(load_table(spark, sf_dir, "documents"), n=5)


@query(
    "k6_knn_graph",
    f"""SELECT src_id, nbr_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY src_id
                               ORDER BY cosine DESC, nbr_id) AS BIGINT) AS rank
FROM (
  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         {_cos_sql('a.embedding', 'b.embedding')} AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  -- graph over nonzero-norm vectors only (zero vectors have no
  -- direction; the operator filters them identically)
  WHERE list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * x)) > 0
    AND list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * x)) > 0
)
QUALIFY rank <= 5
ORDER BY src_id, rank""",
)
def k6_knn_graph(spark, sf_dir):
    """Exact 5-NN graph over the corpus: blocked all-pairs matmul with
    per-block top-k (argpartition), then a bounded (B*k rows per source)
    global window — see operators.similarity.knn_graph."""
    return similarity.knn_graph(load_table(spark, sf_dir, "embeddings"), k=5)


@query(
    "dd13_span_dedup",
    r"""WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                             x -> x <> '') AS t
  FROM documents
), docs AS (SELECT doc_id, t FROM toks WHERE len(t) >= 1),
occ AS (
  SELECT doc_id, s AS pos, array_to_string(list_slice(t, s, s + 4), ' ') AS gram
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 5 + 2)) AS s
        FROM docs WHERE len(t) >= 5)
), g AS (
  SELECT gram, COUNT(*) AS cnt, MIN(doc_id * 1000000 + pos) AS canon
  FROM occ GROUP BY 1
), del AS (
  SELECT DISTINCT doc_id, idx FROM (
    SELECT o.doc_id, unnest(range(o.pos, o.pos + 5)) AS idx
    FROM occ o JOIN g USING (gram)
    WHERE g.cnt >= 2 AND o.doc_id * 1000000 + o.pos <> g.canon)
), tok_rows AS (
  SELECT doc_id, s AS idx, t[s] AS tok
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS s FROM docs)
), kept AS (
  SELECT tr.doc_id, tr.idx, tr.tok
  FROM tok_rows tr ANTI JOIN del d ON tr.doc_id = d.doc_id AND tr.idx = d.idx
), rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY idx) AS cleaned_text
  FROM kept GROUP BY 1
)
SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
       CAST(len(d.t) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.cleaned_text, '') AS cleaned_text
FROM docs d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY doc_id""",
)
def dd13_span_dedup(spark, sf_dir):
    """Exact duplicated-span REMOVAL: every corpus-duplicated 5-gram
    keeps one canonical occurrence; all other occurrences are excised
    and documents rebuilt from surviving tokens (the substring-dedup
    semantics, n-gram windows standing in for the suffix array) — see
    operators.dedup.remove_duplicate_spans."""
    return dedup.remove_duplicate_spans(
        load_table(spark, sf_dir, "documents"), n=5
    )


@query("k7_knn_pq")  # rows-only: PQ codebooks/codes aren't SQL-expressible
def k7_knn_pq(spark, sf_dir):
    """Product-quantization ANN, the in-RAM-index scale path: 8-byte
    codes (32x compression), pure-codegen ADC scan, exact re-rank on a
    50-row shortlist — recall gated against exact kNN in pytest — see
    operators.similarity.pq_train/pq_encode/knn_pq."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(emb, dim=64, m=8, k_codes=16)
    codes = similarity.pq_encode(emb, books)
    qrow = emb.filter(F.col("vec_id") == 0).first()
    if qrow is None:  # empty corpus: no query vector, empty result page
        return spark.createDataFrame([], "vec_id long, cosine double")
    query_vec = [float(x) for x in qrow["embedding"]]
    return similarity.knn_pq(
        codes, books, query_vec, k=10, rerank_with=emb, shortlist=50
    )


@query(
    "dd14_crossdoc_sentences",
    r"""WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(lower(trim(text, ' ')), '[.!?]+'),
                                    x -> trim(x)), x -> x <> '') AS sents
  FROM documents
), ex AS (
  SELECT DISTINCT doc_id, unnest(sents) AS sent
  FROM s WHERE len(sents) >= 1
), sd AS (
  SELECT sent, COUNT(*) AS docs FROM ex GROUP BY 1
)
SELECT ex.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_sentences,
       CAST(SUM(CASE WHEN sd.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_sentences,
       CAST(SUM(CASE WHEN sd.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           / CAST(COUNT(*) AS BIGINT) AS dup_frac
FROM ex JOIN sd USING (sent)
GROUP BY 1 ORDER BY doc_id""",
)
def dd14_crossdoc_sentences(spark, sf_dir):
    """Sentence-granularity cross-doc duplication: each document's share
    of distinct sentences appearing verbatim in other documents
    (boilerplate/contamination signal). One shuffle on the 8-byte
    sentence hash; the sentence string never leaves the map side. See
    operators.text.crossdoc_sentence_stats."""
    return tx.crossdoc_sentence_stats(
        load_table(spark, sf_dir, "documents")
    )


@query(
    "k8_radius_search",
    f"""WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, {_COSINE_SQL} AS cosine
  FROM embeddings e, (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id IN (0, 1, 2)) q
  WHERE e.vec_id <> q.vec_id
)
SELECT query_id, vec_id, cosine FROM scored WHERE cosine >= 0.15
ORDER BY query_id, vec_id""",
)
def k8_radius_search(spark, sf_dir):
    """Cosine radius search (everything above a similarity floor, not a
    fixed k): broadcast queries, one corpus scan, map-side filter — no
    shuffle after the scan. See operators.similarity.radius_search."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.radius_search(
        emb, emb.filter(F.col("vec_id").isin(0, 1, 2)), threshold=0.15
    )


@query(
    "k9_label_centroids",
    """WITH idx AS (
  SELECT label, embedding, unnest(range(len(embedding))) AS x FROM embeddings
), ex AS (
  SELECT label, CAST(x AS BIGINT) AS dim,
         CAST(embedding[CAST(x AS INTEGER) + 1] AS DOUBLE) AS v
  FROM idx
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors, dim,
       SUM(CAST(ROUND(v * 1e6) AS BIGINT)) / 1e6 / COUNT(*) AS component
FROM ex GROUP BY label, dim ORDER BY label, dim""",
)
def k9_label_centroids(spark, sf_dir):
    """Exact per-label embedding centroid, distributed by DIMENSION
    (posexplode -> fixed-point per-(label, dim) sums) — engine-exact means
    feeding coverage analyses and the IVF/SemDeDup centroid inputs. See
    operators.similarity.group_centroids.

    Emitted as SCALAR rows (label, n_vectors, dim, component) — r5 verdict
    #1: the driver's pandas canonicalizer cannot hash array columns, so no
    oracled query may return array/map (pinned registry-wide by
    tests/test_plan_quality.py). The array form remains available as
    similarity.group_centroids for IVF/SemDeDup composition."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = similarity.group_centroids(emb, "label")
    return (
        cent.select(
            "label",
            "n_vectors",
            F.posexplode("centroid").alias("dim", "component"),
        )
        .withColumn("dim", F.col("dim").cast("long"))
    )


@query(
    "k10_centroid_distances",
    """WITH idx AS (
  SELECT label, embedding, unnest(range(len(embedding))) AS x FROM embeddings
), ex AS (
  SELECT label, CAST(x AS INTEGER) AS dim0,
         CAST(embedding[CAST(x AS INTEGER) + 1] AS DOUBLE) AS v
  FROM idx
), m AS (
  SELECT label, dim0,
         CAST(COUNT(*) AS BIGINT) AS n,
         (SUM(CAST(ROUND(v * 1e6) AS BIGINT)) / 1e6) / COUNT(*) AS mv
  FROM ex GROUP BY 1, 2
)
SELECT a.label AS group_a, b.label AS group_b,
       CAST(MAX(a.n) AS BIGINT) AS n_a, CAST(MAX(b.n) AS BIGINT) AS n_b,
       ROUND(SQRT(SUM((a.mv - b.mv) * (a.mv - b.mv))), 6) AS dist
FROM m a JOIN m b ON a.dim0 = b.dim0 AND a.label < b.label
GROUP BY 1, 2 ORDER BY 1, 2""",
)
def k10_centroid_distances(spark, sf_dir):
    """Pairwise Euclidean distance between label centroids — cluster
    separation / embedding drift. Quadratic only over the GROUP count
    (C(10,2) pairs here), never the vectors; centroids are the exact
    fixed-point means of k9, distances fold JVM-side via
    zip_with/aggregate. See operators.similarity.centroid_distances."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.centroid_distances(emb, "label")


@query(
    "k11_norm_stats",
    """WITH ex AS (
  SELECT label, vec_id, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
), n AS (
  SELECT label, vec_id,
         SQRT(SUM(CAST(ROUND(v * v * 1e9) AS HUGEINT)) / 1e9) AS nrm
  FROM ex GROUP BY 1, 2
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       SUM(CAST(ROUND(nrm * 1e6) AS BIGINT)) / 1e6 / COUNT(*) AS avg_norm,
       CAST(SUM(CASE WHEN ABS(nrm - 1) < 1e-3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unit
FROM n GROUP BY 1 ORDER BY label""",
)
def k11_norm_stats(spark, sf_dir):
    """Embedding norm audit per label: exact average L2 norm + count of
    unit-normalized vectors — run before any cosine pipeline
    (un-normalized vectors silently corrupt similarity thresholds).
    Fixed-point fold per row, map-only until one bounded label groupBy.
    See operators.similarity.norm_stats."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.norm_stats(emb, "label")


@query(
    "dd15_prefix_dup_groups",
    """SELECT substr(text, 1, 100) AS prefix100,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
FROM documents
GROUP BY 1 HAVING COUNT(*) > 1
ORDER BY n_docs DESC, prefix100""",
)
def dd15_prefix_dup_groups(spark, sf_dir):
    """Prefix-bucket duplicate groups: documents sharing their first 100
    characters (the crawl-dedup cheap pass that catches boilerplate
    openings and mirrored pages before any shingling runs). The shuffle
    key is the 100-char prefix — bounded payload per row regardless of
    document length, the same never-shuffle-the-text discipline as the
    hash dedup family."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.substring("text", 1, 100).alias("prefix100"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _k12_oracle_sql(k: int = 5, pool: int = 50) -> str:
    """DuckDB replay of mmr_select(k=5, pool=50, lam=0.7) with the
    greedy chain UNROLLED into k stages. Sound because the operator's
    scoring is exact integer fixed-point on the 6-dp cosine grid
    (sfp = 7*relfp - 3*max_pen_fp): every stage's argmax has exact
    integer ties broken on vec_id, so ORDER BY sfp DESC, vec_id LIMIT 1
    is the greedy step verbatim. The operator computes the pairwise
    cosines with this oracle's exact sequential formula (raw-vector
    left-to-right dot / product of sequential norms) before rounding,
    so pair_fp is bit-identical, not merely ULP-close (r9 ADVICE #3)."""
    rel = _cos_sql("e.embedding", "q.qe")
    raw_pair = (
        "list_dot_product(a.ev, b.ev) / "
        "(sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev)))"
    )
    stages = [
        "s1 AS (SELECT vec_id, relfp, 7 * relfp AS sfp FROM pool "
        "ORDER BY sfp DESC, vec_id LIMIT 1)",
        "sel1 AS (SELECT vec_id FROM s1)",
    ]
    for i in range(2, k + 1):
        stages.append(
            f"s{i} AS (SELECT p.vec_id, p.relfp, 7 * p.relfp - 3 * ("
            f"SELECT MAX(pr.pfp) FROM pairs pr WHERE pr.ia = p.vec_id "
            f"AND pr.ib IN (SELECT vec_id FROM sel{i-1})) AS sfp "
            f"FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{i-1}) "
            f"ORDER BY sfp DESC, vec_id LIMIT 1)"
        )
        if i < k:
            stages.append(
                f"sel{i} AS (SELECT vec_id FROM sel{i-1} "
                f"UNION ALL SELECT vec_id FROM s{i})"
            )
    unions = "\nUNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, relfp / 1e6 AS relevance, "
        f"sfp / 1e7 AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return f"""WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id = 0
), pool AS (
  SELECT e.vec_id,
         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS ev,
         CAST(ROUND({rel} * 1e6) AS BIGINT) AS relfp
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0 AND {rel} IS NOT NULL AND NOT isnan({rel})
    AND isfinite(list_dot_product(list_transform(e.embedding,
                                                 x -> CAST(x AS DOUBLE)),
                                  list_transform(e.embedding,
                                                 x -> CAST(x AS DOUBLE))))
  ORDER BY relfp DESC, vec_id LIMIT {pool}
), pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(ROUND(({raw_pair}) * 1e6) AS BIGINT) AS pfp
  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
), {", ".join(stages)}
{unions}
ORDER BY rank"""


@query("k12_mmr_diverse", _k12_oracle_sql())
def k12_mmr_diverse(spark, sf_dir):
    """MMR diverse top-5 for a literal query vector: distributed cosine
    top-50 pool, then the inherently-sequential greedy re-rank over that
    BOUNDED pool driver-side (the IVF re-rank discipline). Hash-gated:
    mmr_select's integer fixed-point scoring makes every greedy step an
    exact argmax that the unrolled SQL oracle replays verbatim (see
    _k12_oracle_sql). Was rows-only under float scoring, whose 1e-12
    epsilon tie-break was not a total order. Diversity property
    (pairwise similarity of the MMR set <= plain top-k's) remains
    pinned by pytest. See operators.similarity.mmr_select."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    if not qrows or qrows[0][0] is None:  # no/NULL query vector: empty page
        return spark.createDataFrame(
            [], "rank long, vec_id long, relevance double, mmr_score double"
        )
    return similarity.mmr_select(
        emb.filter(F.col("vec_id") != 0), qrows[0][0], k=5, pool=50
    )


_IVF_CENTROID_IDS = [0, 25, 50, 75, 100, 125, 150, 175]
_IVF_IDS_SQL = ", ".join(str(i) for i in _IVF_CENTROID_IDS)


@query(
    "k13_ivf_balance",
    f"""WITH c AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE vec_id IN ({_IVF_IDS_SQL})
), {IVF_ASSIGN_CTE}
SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(COUNT(*) * 1.0 * (SELECT COUNT(*) FROM c)
             / (SELECT COUNT(*) FROM embeddings), 6) AS balance_factor
FROM assign GROUP BY 1 ORDER BY centroid_id""",
)
def k13_ivf_balance(spark, sf_dir):
    """IVF partition-balance audit: vectors per centroid and the balance
    factor (cell size / ideal N/k; 1.0 = perfectly even) — the health
    check run before trusting an IVF index, because one hot cell turns
    probes into scans (the ANN flavor of partition skew). Assignment is
    the broadcast-centroid map-side argmax of k4; the audit itself is a
    k-row aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").isin(_IVF_CENTROID_IDS))
    assigned = similarity.ivf_assign(emb, cents)
    totals = emb.agg(F.count(F.lit(1)).alias("_n"))
    return (
        assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .crossJoin(F.broadcast(totals))
        .select(
            "centroid_id",
            "n_vectors",
            F.round(
                F.col("n_vectors") * 1.0 * len(_IVF_CENTROID_IDS) / F.col("_n"), 6
            ).alias("balance_factor"),
        )
    )


@query(
    "dd16_source_jaccard",
    r"""WITH toks AS (
  SELECT source,
         list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM documents
), idx AS (
  SELECT source, t, unnest(range(len(t) - 2)) AS i FROM toks WHERE len(t) >= 3
), sh AS (
  SELECT DISTINCT source,
         t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] || ' '
           || t[CAST(i AS INT) + 3] AS g
  FROM idx
), sizes AS (
  SELECT source, COUNT(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2
)
SELECT sa AS source_a, sb AS source_b, CAST(ni AS BIGINT) AS n_shared,
       ROUND(ni * 1.0 / (x.n + y.n - ni), 6) AS jaccard
FROM inter JOIN sizes x ON x.source = sa JOIN sizes y ON y.source = sb
ORDER BY 1, 2""",
)
def dd16_source_jaccard(spark, sf_dir):
    """Cross-source word-trigram Jaccard similarity (which sources share
    phrasing — mirror detection and contamination triage at the SOURCE
    granularity). The gram self-join is bounded per gram by the SOURCE
    vocabulary (a gram in s sources emits C(s,2) <= C(|sources|,2)
    pairs), never by document count — the same vocabulary-bound argument
    as event_type_pairs; only overlapping pairs are emitted."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.distinct_ngrams(docs, "source")
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    a = sh.select(F.col("source").alias("source_a"), "g")
    b = sh.select(F.col("source").alias("source_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a")), "source_a"
        )
        .withColumnRenamed("_n", "_na")
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "source_b")), "source_b"
        )
        .withColumnRenamed("_n", "_nb")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                * 1.0
                / (F.col("_na") + F.col("_nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "k15_label_confusion",
    """WITH idx AS (
  SELECT label, vec_id, embedding, unnest(range(len(embedding))) AS x
  FROM embeddings
), ex AS (
  SELECT label, vec_id, CAST(x AS INTEGER) AS dim0,
         CAST(embedding[CAST(x AS INTEGER) + 1] AS DOUBLE) AS v
  FROM idx
), cm AS (
  SELECT label, dim0,
         (SUM(CAST(ROUND(v * 1e6) AS BIGINT)) / 1e6) / COUNT(*) AS mv
  FROM ex GROUP BY 1, 2
), d AS (
  SELECT e.vec_id, e.label AS true_label, c.label AS cand,
         SUM(CAST(ROUND((e.v - c.mv) * (e.v - c.mv) * 1e9) AS HUGEINT)) / 1e9
             AS sq
  FROM ex e JOIN cm c ON e.dim0 = c.dim0
  GROUP BY 1, 2, 3
), best AS (
  SELECT vec_id, true_label, cand AS nearest_label FROM (
    SELECT vec_id, true_label, cand,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sq, cand) AS rn
    FROM d
  ) WHERE rn = 1
)
SELECT true_label, nearest_label, CAST(COUNT(*) AS BIGINT) AS n
FROM best GROUP BY 1, 2 ORDER BY 1, 2""",
)
def k15_label_confusion(spark, sf_dir):
    """Nearest-centroid label confusion matrix: every embedding assigned
    to its closest LABEL CENTROID (exact fixed-point means + fixed-point
    squared distances, argmin tie on label), counted against its true
    label — the class-separability report before trusting labels for
    training. Centroids broadcast; the per-vector argmin is one
    map-side pass (the ivf_assign shape against label centroids)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = similarity.label_centroid_sq_distances(emb)
    best = scored.groupBy("vec_id", "true_label").agg(
        F.min_by("cand", F.struct(F.col("_sq"), F.col("cand"))).alias(
            "nearest_label"
        )
    )
    return (
        best.groupBy("true_label", "nearest_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@query(
    "k16_simplified_silhouette",
    """WITH idx AS (
  SELECT label, vec_id, embedding, unnest(range(len(embedding))) AS x
  FROM embeddings
), ex AS (
  SELECT label, vec_id, CAST(x AS INTEGER) AS dim0,
         CAST(embedding[CAST(x AS INTEGER) + 1] AS DOUBLE) AS v
  FROM idx
), cm AS (
  SELECT label, dim0,
         (SUM(CAST(ROUND(v * 1e6) AS BIGINT)) / 1e6) / COUNT(*) AS mv
  FROM ex GROUP BY 1, 2
), d AS (
  SELECT e.vec_id, e.label AS true_label, c.label AS cand,
         SQRT(SUM(CAST(ROUND((e.v - c.mv) * (e.v - c.mv) * 1e9) AS HUGEINT)) / 1e9)
             AS dist
  FROM ex e JOIN cm c ON e.dim0 = c.dim0
  GROUP BY 1, 2, 3
), split AS (
  SELECT vec_id, true_label,
         MAX(CASE WHEN cand = true_label THEN dist END) AS a,
         MIN(CASE WHEN cand <> true_label THEN dist END) AS b
  FROM d GROUP BY 1, 2
)
SELECT true_label AS label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       SUM(CAST(ROUND((b - a) / GREATEST(a, b) * 1e6) AS BIGINT)) / 1e6
         / COUNT(*) AS mean_silhouette
FROM split GROUP BY 1 ORDER BY label""",
)
def k16_simplified_silhouette(spark, sf_dir):
    """Simplified silhouette per label (centroid form: a = distance to
    own centroid, b = distance to nearest other centroid, score =
    (b-a)/max(a,b)) — the cluster-quality grade that tells you whether
    labels are separable BEFORE training on them. Centroid distances
    reuse the exact fixed-point machinery (k9/k15); per-vector scores
    fixed-pointed before the label mean so the grade is
    engine-identical. Quadratic only in |labels|."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = similarity.label_centroid_sq_distances(emb).withColumn(
        "_d", F.sqrt(F.col("_sq"))
    )
    split = scored.groupBy("vec_id", "true_label").agg(
        F.max(F.when(F.col("cand") == F.col("true_label"), F.col("_d"))).alias("_a"),
        F.min(F.when(F.col("cand") != F.col("true_label"), F.col("_d"))).alias("_b"),
    )
    sil = (F.col("_b") - F.col("_a")) / F.greatest(F.col("_a"), F.col("_b"))
    return (
        split.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            (
                fp_sum(sil, 6) / F.count(F.lit(1))
            ).alias("mean_silhouette"),
        )
    )


@query(
    "k17_ivf_recall",
    f"""WITH q AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5
), brute AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_COSINE_SQL} DESC, e.vec_id) AS rn
    FROM embeddings e, q WHERE e.vec_id <> q.vec_id
  ) WHERE rn <= 10
), c AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < 8
), {IVF_ASSIGN_CTE}, probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC, c.centroid_id
           ) AS rn
    FROM q, c
  ) WHERE rn <= 2
), ivf AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
                              ORDER BY {_cos_sql('e.embedding', 'q.embedding')} DESC,
                                       e.vec_id) AS rn
    FROM embeddings e
    JOIN assign a ON a.vec_id = e.vec_id
    JOIN probes p ON p.centroid_id = a.centroid_id
    JOIN q ON q.vec_id = p.query_id
    WHERE e.vec_id <> p.query_id
  ) WHERE rn <= 10
)
SELECT b.query_id,
       CAST(COUNT(i.vec_id) AS BIGINT) AS n_recovered,
       ROUND(COUNT(i.vec_id) * 1.0 / 10, 6) AS recall_at_10
FROM brute b LEFT JOIN ivf i
  ON b.query_id = i.query_id AND b.vec_id = i.vec_id
GROUP BY 1 ORDER BY b.query_id""",
)
def k17_ivf_recall(spark, sf_dir):
    """Recall@10 of the IVF index vs exact brute force, PER QUERY — the
    ANN quality audit as a first-class query (not just a pytest), so
    index health is monitorable in production. Both retrievals are the
    already-oracled k2/k4 shapes; the audit is one join + ratio. At
    scale the brute side runs on a SAMPLE of queries — recall needs a
    few hundred probes, not the full query log."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = emb.filter(F.col("vec_id") < 8)
    brute = similarity.knn_batch(emb, queries, k=10).select("query_id", "vec_id")
    ivf = similarity.knn_ivf(
        emb, queries, k=10, n_centroids=8, n_probe=2, centroids=cents
    ).select("query_id", F.col("vec_id").alias("_iv"))
    return (
        brute.join(
            ivf,
            (brute.query_id == ivf.query_id) & (brute.vec_id == ivf._iv),
            "left",
        )
        .groupBy(brute.query_id)
        .agg(
            F.count("_iv").cast("long").alias("n_recovered"),
            F.round(F.count("_iv") * 1.0 / 10, 6).alias("recall_at_10"),
        )
    )


@query(
    "dd18_shingle_df_profile",
    r"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM documents
), idx AS (
  SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks WHERE len(t) >= 3
), sh AS (
  SELECT DISTINCT doc_id,
         t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] || ' '
           || t[CAST(i AS INT) + 3] AS g
  FROM idx
), df AS (
  SELECT g, COUNT(*) AS doc_freq FROM sh GROUP BY 1
)
SELECT CAST(FLOOR(LOG2(doc_freq)) AS BIGINT) AS log2_df_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(MAX(doc_freq) AS BIGINT) AS max_df_in_bucket
FROM df GROUP BY 1 ORDER BY log2_df_bucket""",
)
def dd18_shingle_df_profile(spark, sf_dir):
    """Shingle document-frequency profile: how many word-trigrams live
    in 1, 2-3, 4-7, ... documents (log2 buckets) — THE audit that
    justifies the dedup family's max_doc_freq cap: the viral-boilerplate
    tail on this histogram is exactly the mass the cap refuses to
    pair-expand. Distinct (doc, gram) -> per-gram df -> constant-size
    histogram; the gram key is hashed text, never full documents."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.distinct_ngrams(docs, "doc_id")
    df = sh.groupBy("g").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (
        df.groupBy(
            F.floor(F.log2("doc_freq")).cast("long").alias("log2_df_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.max("doc_freq").cast("long").alias("max_df_in_bucket"),
        )
    )


@query(
    "dd19_dedup_savings",
    """WITH per_text AS (
  SELECT source, text, COUNT(*) AS copies, MAX(n_chars) AS chars
  FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(copies) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
       CAST(SUM(copies * chars) AS BIGINT) AS bytes_before,
       CAST(SUM(chars) AS BIGINT) AS bytes_after,
       CAST(SUM((copies - 1) * chars) AS BIGINT) AS bytes_saved
FROM per_text GROUP BY 1 ORDER BY source""",
)
def dd19_dedup_savings(spark, sf_dir):
    """Exact-dedup savings report per source: documents vs distinct
    texts and the bytes a dedup pass would reclaim — the
    cost-justification number every dedup rollout leads with (and the
    per-feed duplication scoreboard afterwards). One (source, text-hash)
    aggregate; at scale the groupBy key is the 128-bit text hash, the
    text itself never shuffles (lengths ride as ints). See
    operators.dedup.dedup_savings."""
    return dedup.dedup_savings(load_table(spark, sf_dir, "documents"))


@query(
    "k18_text_ann_end_to_end",
    rf"""WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
           x -> x <> '')) AS t
  FROM documents
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(t), 1, 7))::BIGINT % 64 AS INTEGER) AS b,
         CASE WHEN ('0x' || substr(md5(t), 8, 1))::INTEGER % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM toks
), per_bucket AS (
  SELECT doc_id, b, CAST(SUM(s) AS DOUBLE) AS v FROM hashed GROUP BY 1, 2
), dims AS (SELECT unnest(range(0, 64)) AS i),
grid AS (
  SELECT d.doc_id, dims.i, COALESCE(p.v, 0.0) AS v
  FROM (SELECT DISTINCT doc_id FROM per_bucket) d
  CROSS JOIN dims
  LEFT JOIN per_bucket p ON p.doc_id = d.doc_id AND p.b = dims.i
), dense AS (
  SELECT doc_id, list(v ORDER BY i) AS dv FROM grid GROUP BY 1
), unit AS (
  SELECT doc_id AS vec_id,
         list_transform(dv, x -> x / sqrt(list_dot_product(dv, dv))) AS e
  FROM dense WHERE list_dot_product(dv, dv) > 0
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         ROUND(list_dot_product(c.e, q.e) /
               (sqrt(list_dot_product(c.e, c.e)) *
                sqrt(list_dot_product(q.e, q.e))), 6) AS cosine
  FROM unit c JOIN unit q ON q.vec_id IN (0, 1, 2) AND c.vec_id <> q.vec_id
)
SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id) AS rank
  FROM scored)
WHERE rank <= 3 ORDER BY query_id, rank""",
)
def k18_text_ann_end_to_end(spark, sf_dir):
    """Model-free text-to-ANN pipeline end to end: documents ->
    feature-hashed unit vectors (the hashing trick, pure JVM
    expressions, zero vocabulary state) -> cosine top-3 neighbors for
    three probe documents. Closes the gap between the text family and
    the similarity family without an embedding model in the container.

    Hash-gated end-to-end since the bucket/sign hashes moved to md5
    prefixes (engine-identical): signed counts are exact integers, the
    dense reassembly and L2 normalization are the same sequential
    double arithmetic on both sides, and cosines round to 6 dp. Was
    rows-only under xxhash64 bucketing. Determinism, unit-norm, and
    ANN-composition remain pinned by pytest. See
    operators.text.hashed_embedding."""
    docs = load_table(spark, sf_dir, "documents")
    emb = tx.hashed_embedding(docs, dim=64).withColumnRenamed("doc_id", "vec_id")
    probes = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    return similarity.knn_batch(emb, probes, k=3).select(
        "query_id", "vec_id", "cosine", "rank"
    )


@query(
    "dd20_containment_pairs",
    rf"""WITH {SHINGLE_CTE}, sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), dir AS (
  SELECT p.doc_a AS doc_id, p.doc_b AS other_id, p.common,
         p.common / sa.sz AS containment
  FROM pairs p JOIN sizes sa ON sa.doc_id = p.doc_a
  UNION ALL
  SELECT p.doc_b, p.doc_a, p.common, p.common / sb.sz
  FROM pairs p JOIN sizes sb ON sb.doc_id = p.doc_b
)
SELECT doc_id, other_id, common, containment
FROM dir WHERE containment >= 0.8 ORDER BY doc_id, other_id""",
)
def dd20_containment_pairs(spark, sf_dir):
    """DIRECTED n-gram containment pairs (|A∩B|/|A| >= 0.8): the
    quote/excerpt dedup signal Jaccard misses — a short doc embedded in a
    long one has tiny Jaccard but containment ~1. Same single-shuffle
    shingle harness as dd2; each undirected pair emits both directions.
    See operators.dedup.containment_pairs."""
    return dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"),
        group_col="lang",
        n=3,
        threshold=0.8,
    )


@query(
    "k19_dim_variance",
    """WITH idx AS (
  SELECT embedding, unnest(range(len(embedding))) AS x FROM embeddings
), ex AS (
  -- HUGEINT, not BIGINT: q*q below needs int128 once |component|
  -- exceeds ~3e3 (q ~ 3e9 squares past 2^63 — r7 zero-vector sweep)
  SELECT CAST(x AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(x AS INTEGER) + 1] AS DOUBLE) * 1e6)
              AS HUGEINT) AS q
  FROM idx
)
SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
       SUM(q) / 1e6 / COUNT(*) AS mean,
       SUM(q * q) / 1e12 / COUNT(*)
         - (SUM(q) / 1e6 / COUNT(*)) * (SUM(q) / 1e6 / COUNT(*)) AS variance
FROM ex GROUP BY dim ORDER BY dim""",
)
def k19_dim_variance(spark, sf_dir):
    """Per-DIMENSION mean/variance of the embedding corpus — the feature
    health check (dead dims, dominant dims, normalization drift) run
    before trusting any cosine geometry. Fixed-point BIGINT sums (values
    and squares) make the moments engine-exact (same trick as k9); one
    posexplode + one map-combined aggregate, shuffle bounded by dim x
    partitions."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(
            similarity._as_doubles(F.col("embedding"))
        ).alias("dim", "v")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        # DECIMAL(38,0): q*q wraps int64 once |component| > ~3e3
        # (r7 zero-vector sweep) — ANSI Spark errors instead of wrapping.
        # Two-path on the square (r7 verdict #2): q*q in double is exact
        # while |q| < 2^26.5 (|component| < ~94), so the hot path skips
        # the per-row BigDecimal multiply; both branches yield the same
        # integer. The cross-row sums stay decimal — no per-row bound
        # can prove a cross-row total.
        F.round(F.col("v") * 1e6).cast("decimal(38,0)").alias("q"),
        F.when(
            F.abs(F.round(F.col("v") * 1e6)) < 9.0e7,
            (F.round(F.col("v") * 1e6) * F.round(F.col("v") * 1e6)).cast(
                "decimal(38,0)"
            ),
        )
        .otherwise(
            F.round(F.col("v") * 1e6).cast("decimal(38,0)")
            * F.round(F.col("v") * 1e6).cast("decimal(38,0)")
        )
        .alias("qq"),
    )
    n = F.count(F.lit(1))
    s1 = F.sum("q")
    s2 = F.sum(F.col("qq"))
    mean = s1 / 1e6 / n
    return (
        ex.groupBy("dim")
        .agg(
            n.cast("long").alias("n"),
            mean.alias("mean"),
            (s2 / 1e12 / n - mean * mean).alias("variance"),
        )
    )


@query(
    "dd21_dup_provenance",
    """WITH s AS (
  SELECT DISTINCT doc_id, source,
         md5(unnest(list_filter(list_transform(
             string_split_regex(trim(text, ' '), '[.!?]+'), x -> trim(x)),
             x -> x <> ''))) AS sh
  FROM documents
), g AS (
  SELECT sh, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources
  FROM s GROUP BY sh
)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_sentences,
       CAST(SUM(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_duplicated,
       CAST(SUM(CASE WHEN g.n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_source
FROM s JOIN g USING (sh)
GROUP BY 1 ORDER BY 1""",
)
def dd21_dup_provenance(spark, sf_dir):
    """Duplication PROVENANCE report per source: of each source's
    distinct (doc, sentence-hash) pairs, how many hashes also occur in
    another document, and how many cross a SOURCE boundary — the report
    that splits dedup losses into "source self-duplicates" (template
    boilerplate — fix the extractor) vs "cross-source re-scrapes" (fix
    the crawl). Sentences use the repo's [.!?]+ convention; hashes
    shuffle, text does not; the sentence-hash group table is the only
    join side and it is aggregated before joining."""
    docs = load_table(spark, sf_dir, "documents")
    sents = tx.sentences(F.col("text"))
    s = (
        docs.select("doc_id", "source", F.explode_outer(sents).alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select("doc_id", "source", F.md5(F.col("_s").cast("binary")).alias("sh"))
        .distinct()
    )
    g = s.groupBy("sh").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )
    return (
        s.join(g, "sh")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_duplicated"),
            F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_cross_source"),
        )
    )


@query(
    "k20_label_knn_purity",
    f"""WITH knn AS (
  SELECT src_id, nbr_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY src_id
                                 ORDER BY cosine DESC, nbr_id) AS BIGINT) AS rank
  FROM (
    SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
           {{cos}} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * x)) > 0
      AND list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * x)) > 0
  )
  QUALIFY rank <= 5
), lbl AS (SELECT vec_id, label FROM embeddings),
scored AS (
  SELECT ls.label AS label,
         CASE WHEN ls.label = ln.label THEN 1 ELSE 0 END AS hit
  FROM knn k
  JOIN lbl ls ON ls.vec_id = k.src_id
  JOIN lbl ln ON ln.vec_id = k.nbr_id
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(hit) AS BIGINT) AS n_same_label,
       SUM(hit) / COUNT(*) AS purity
FROM scored GROUP BY label ORDER BY label""".replace("{cos}", _cos_sql("a.embedding", "b.embedding")),
)
def k20_label_knn_purity(spark, sf_dir):
    """kNN label consistency per class: of each vector's exact 5 nearest
    neighbors, what fraction shares its label — the embedding-quality
    metric (a class whose neighbors disagree is not separable in this
    space, and no ANN index will fix that). Exact graph from the blocked
    knn_graph harness; labels broadcast-joined; purity is exact-BIGINT
    division."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = similarity.knn_graph(emb, k=5).select("src_id", "nbr_id")
    lbl = emb.select("vec_id", "label")
    scored = (
        knn.join(
            F.broadcast(lbl.withColumnRenamed("vec_id", "src_id").withColumnRenamed("label", "_src_lbl")),
            "src_id",
        )
        .join(
            F.broadcast(lbl.withColumnRenamed("vec_id", "nbr_id").withColumnRenamed("label", "_nbr_lbl")),
            "nbr_id",
        )
        .select(
            F.col("_src_lbl").alias("label"),
            F.when(F.col("_src_lbl") == F.col("_nbr_lbl"), 1).otherwise(0).alias("hit"),
        )
    )
    n = F.count(F.lit(1))
    return (
        scored.groupBy("label")
        .agg(
            n.cast("long").alias("n_edges"),
            F.sum("hit").cast("long").alias("n_same_label"),
            (F.sum("hit") / n).alias("purity"),
        )
    )


@query("k21_pca_variance")
def k21_pca_variance(spark, sf_dir):
    """Explained-variance spectrum of the embedding corpus (top-16
    principal components) — the intrinsic-dimensionality diagnostic
    behind ANN index sizing and embedding-health dashboards. Scalable
    single-pass PCA: per-partition Gram partials (dim² doubles each)
    ship to the driver, the corpus never shuffles; the dim x dim
    eigendecomposition is driver-side numpy. No oracle (eigensolve is
    iterative); parity vs direct numpy PCA pinned by pytest
    (tests/test_round6.py). See similarity.pca_explained_variance."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pca_explained_variance(emb, top_k=16)


@query(
    "k22_quantization_error",
    """WITH ex AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT label, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM ex
), e AS (
  SELECT label,
         -- HUGEINT: the Spark operator already folds in DECIMAL(38,0)
         -- (r6 advisor); BIGINT here wraps once |component| > ~3e3
         SQRT(list_sum(list_transform(
             list_transform(v, x -> x - ROUND(x / mx * 127) * mx / 127),
             d -> CAST(ROUND(d * d * 1e12) AS HUGEINT))) / 1e12) AS l2,
         SQRT(list_sum(list_transform(
             v, x -> CAST(ROUND(x * x * 1e9) AS HUGEINT))) / 1e9) AS nrm
  FROM s WHERE mx > 0
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       SUM(CAST(ROUND(l2 * 1e9) AS BIGINT)) / 1e9 / COUNT(*) AS avg_l2_err,
       SUM(CAST(ROUND(l2 / nrm * 1e9) AS BIGINT)) / 1e9 / COUNT(*)
           AS avg_rel_err
FROM e WHERE nrm > 0 GROUP BY 1 ORDER BY label""",
)
def k22_quantization_error(spark, sf_dir):
    """Int8 scalar-quantization round-trip error per label — the audit
    run before shipping embeddings at 4x compression into an ANN index
    (recall loss tracks the relative error this reports). Map-only
    nested array folds (the vector never explodes out of its row), both
    fold stages fixed-pointed. See
    operators.similarity.quantization_error_stats."""
    return similarity.quantization_error_stats(
        load_table(spark, sf_dir, "embeddings"), group_col="label"
    )


@query(
    "dd22_jaccard_histogram",
    rf"""WITH {SHINGLE_CTE}, sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), j AS (
  SELECT p.common / (sa.sz + sb.sz - p.common) AS jac
  FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
)
SELECT CAST(floor(jac * 20) AS INTEGER) AS bucket,
       ROUND(CAST(floor(jac * 20) AS INTEGER) / 20.0, 2) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM j GROUP BY 1, 2 ORDER BY bucket""",
)
def dd22_jaccard_histogram(spark, sf_dir):
    """Jaccard-score calibration histogram over ALL candidate pairs
    (threshold 0): the distribution a dedup operator's threshold is
    chosen FROM — run this before picking dd2's 0.1 or dd9's cap (a
    bimodal histogram says the threshold sits in the valley; a smooth
    decay says shingle-collision noise dominates). Same bucketed
    candidate generation as dd2 (pairs share >= 1 shingle within a
    lang), so the pair count is collision-bounded, never all-pairs; the
    0.05-wide binning is one map + a 21-row aggregate."""
    pairs = dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        group_col="lang",
        n=3,
        threshold=0.0,
    )
    bucket = F.floor(F.col("jaccard") * 20).cast("int")
    return (
        pairs.select(
            bucket.alias("bucket"),
            F.round(bucket / 20.0, 2).alias("bucket_lo"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


@query(
    "k23_split_representativeness",
    """WITH idx AS (
  SELECT label, vec_id, embedding,
         unnest(range(len(embedding))) AS x
  FROM embeddings
), ex AS (
  SELECT label, CAST(vec_id % 2 AS INTEGER) AS par, CAST(x AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(x AS INTEGER) + 1] AS DOUBLE) * 1e6)
              AS BIGINT) AS v6
  FROM idx
), m AS (
  SELECT label, par, dim,
         SUM(v6) / 1e6 / COUNT(*) AS mean, COUNT(*) AS n
  FROM ex GROUP BY 1, 2, 3
), pv AS (
  SELECT label, dim,
         MAX(CASE WHEN par = 0 THEN mean END) AS a,
         MAX(CASE WHEN par = 1 THEN mean END) AS b,
         MAX(CASE WHEN par = 0 THEN n END) AS ne,
         MAX(CASE WHEN par = 1 THEN n END) AS no
  FROM m GROUP BY 1, 2
)
SELECT label,
       CAST(MAX(ne) AS BIGINT) AS n_even, CAST(MAX(no) AS BIGINT) AS n_odd,
       ROUND(SUM(a * b) / (SQRT(SUM(a * a)) * SQRT(SUM(b * b))), 6)
           AS split_cosine
FROM pv GROUP BY 1 ORDER BY label""",
)
def k23_split_representativeness(spark, sf_dir):
    """Train/test split-representativeness audit: split each label's
    vectors by vec_id parity (the deterministic 50/50 split) and report
    the cosine between the two half-centroids — near 1.0 means either
    half represents the label's region and an id-hash split is safe;
    a low value flags ordered or clustered ids leaking structure into
    the split (checker: dp5/dp6 cover tabular drift, nothing covers
    embedding split balance). k9's exploded-scalar discipline: per
    (label, parity, dim) sums are 1e-6 fixed-point BIGINTs, the means
    and the 64-term cosine are then identical double arithmetic in
    both engines, rounded at 6. A zero-norm half-centroid yields NULL
    via try_divide, matching DuckDB's SQL x/0 semantics — found by
    the hypothesis property (all-zero vectors in one parity crash a
    plain division under Spark ANSI mode). See
    operators.similarity.split_representativeness."""
    return (
        similarity.split_representativeness(
            load_table(spark, sf_dir, "embeddings")
        )
    )


@query(
    "k24_stratified_knn",
    f"""WITH scored AS (
  SELECT e.label AS label, e.vec_id AS vec_id, {_COSINE_SQL} AS cosine
  FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id <> q.vec_id
)
SELECT label, vec_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY cosine DESC, vec_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 3
ORDER BY label, rank""",
)
def k24_stratified_knn(spark, sf_dir):
    """Stratified retrieval: the top-3 nearest neighbours of one query
    vector from EVERY label group (operators/similarity.grouped_knn) —
    the per-source/per-shard quota shape a global top-k (k1) cannot
    express because one dominant group crowds out the rest. Map-side
    cosine against the broadcast-literal query, one shuffle on label
    for the k-bounded rank window; the query vector is a bounded
    single-row collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).head()
    if qrow is None:
        # vec_id=0 absent: the oracle's cross join against an empty
        # subquery yields no rows — 0 rows, stable schema
        return emb.select(
            "label",
            "vec_id",
            F.lit(None).cast("double").alias("cosine"),
            F.lit(None).cast("int").alias("rank"),
        ).filter(F.lit(False))
    raw = qrow["embedding"]
    # NULL components (or a fully NULL embedding) pass through as None:
    # grouped_knn's _vec_expr folds them to NULL cosines, which both
    # engines rank NULLS LAST — the oracle still emits rank<=3 rows per
    # label in that degenerate class (r8 ADVICE #1).
    qvec = (
        [None]
        if raw is None
        else [float(x) if x is not None else None for x in raw]
    )
    return similarity.grouped_knn(
        emb, qvec, k=3, exclude_ids=(0,)
    )
