"""Column names are names: a caller's id or vector column whose name holds
a backtick, a dot and a space reaches a dedup pair operator and the
similarity operators as that literal column, never as a struct path or a
parse error, and the answers equal those under a plain name."""

from __future__ import annotations

from market_data_pipeline_spark.operators import dedup, similarity

HOSTILE_ID = "doc `id`.v2 x"
HOSTILE_VEC = "emb.v `1` y"


def test_hostile_names_through_dedup_and_similarity(spark):
    docs = [
        (1, "the quick brown fox jumps over", "en"),
        (2, "the quick brown fox jumps high", "en"),
        (3, "nothing in common with the rest here", "en"),
        (4, "the quick brown fox jumps over", "en"),
    ]
    plain = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    hostile = plain.withColumnRenamed("doc_id", HOSTILE_ID)

    def pairs(df, id_col):
        out = dedup.ngram_jaccard_pairs(df, id_col=id_col, threshold=0.3)
        return sorted(map(tuple, out.collect()))

    want = pairs(plain, "doc_id")
    assert want and pairs(hostile, HOSTILE_ID) == want

    vecs = [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)]
    plain = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    hostile = plain.toDF(HOSTILE_ID, HOSTILE_VEC)
    query = [1.0, 2.0, 1.0]
    want = similarity.mmr_select(plain, query, k=4, pool=8)
    got = similarity.mmr_select(
        hostile, query, k=4, pool=8, id_col=HOSTILE_ID, vec_col=HOSTILE_VEC
    )
    assert got.columns == ["rank", HOSTILE_ID, "relevance", "mmr_score"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    for op, kw in (
        (similarity.cosine_near_dup_pairs, {"threshold": 0.9}),
        (similarity.knn_graph, {"k": 3}),
    ):
        want = sorted(map(tuple, op(plain, **kw).collect()))
        got = op(hostile, id_col=HOSTILE_ID, vec_col=HOSTILE_VEC, **kw)
        assert want and sorted(map(tuple, got.collect())) == want


def test_kmeans_lloyd_exact_dotted_id(spark):
    """The k5 centroid fit reads, orders by and returns a dotted id
    column as that column, and fits the same centroids as under a plain
    name."""
    vecs = [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(20)]
    plain = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    dotted = plain.withColumnRenamed("vec_id", "v.id")
    want = similarity.kmeans_lloyd_exact(plain, k=3, max_iter=2, sample_hex=None)
    got = similarity.kmeans_lloyd_exact(
        dotted, k=3, max_iter=2, id_col="v.id", sample_hex=None
    )
    assert got.columns == ["v.id", "embedding"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
