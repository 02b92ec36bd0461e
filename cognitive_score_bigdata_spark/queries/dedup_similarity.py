"""Registry entries for near-dup dedup and similarity-search operators
(the training-data-pipeline extensions, SURVEY §7 PR6).

LSH/sketch operators register without oracles (banded minhash buckets
aren't SQL); their correctness is pinned by tests against exact
formulations (tests/test_dedup_similarity.py). The exact formulations
that ARE portable SQL get full oracles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cognitive_score_bigdata_spark.io import load_table
from cognitive_score_bigdata_spark.operators.dedup import (
    minhash_candidate_pairs,
    simhash_candidate_pairs,
)
from cognitive_score_bigdata_spark.operators.similarity import (
    cosine_neardup_exact,
    cosine_neardup_lsh,
    cosine_topk_numpy,
    ivf_build,
    ivf_probe,
)
from cognitive_score_bigdata_spark.queries import register
from cognitive_score_bigdata_spark.session_cache import session_scoped

NEARDUP_THRESHOLD = 0.46  # testdata embeddings are random; pairs peak ~0.51

# IVF index build is a batch job, not a per-query cost: real systems
# persist the inverted file and probe it many times. One build per
# (session, corpus, n_cells), explicitly keyed so a new session or a
# different scale factor rebuilds.
_IVF_CACHE: dict[tuple, object] = {}


def ivf_index(spark: SparkSession, sf_dir: str, n_cells: int):
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return ivf_build(emb, n_cells=n_cells)

    return session_scoped(_IVF_CACHE, spark, (sf_dir, n_cells), build)


@register(
    "vector_cosine_neardup",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding)
          >= {NEARDUP_THRESHOLD}
    """,
    doc="embedding-cosine near-dup pairs, exact O(N²) baseline — ids "
    "only (cross-engine float widths differ; the pair SET is stable, "
    "nearest pair sits 3e-4 from the threshold)",
)
def vector_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_exact(emb, NEARDUP_THRESHOLD).select("id_a", "id_b")


@register(
    "vector_cosine_topk_fast",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                      c.vec_id ASC) AS BIGINT) AS rnk
    FROM embeddings q JOIN embeddings c ON q.vec_id < 5
                                       AND c.vec_id <> q.vec_id
    QUALIFY rnk <= 10
    """,
    doc="brute-force cosine top-k, Arrow/BLAS mapInPandas path — same "
    "answer as the expression version, 10-100x throughput at scale",
)
def vector_cosine_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_numpy(emb, queries, k=10).select(
        "query_id", "neighbor_id", "rnk"
    )


@register(
    "vector_ann_lsh_neardup",
    oracle=None,  # LSH recall is probabilistic; pinned vs exact in tests
    doc="sign-LSH blocked near-dup: bucket join + exact verify — the "
    "plan shape that survives 100 TB (no N² shuffle)",
)
def vector_ann_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_lsh(
        emb, NEARDUP_THRESHOLD, n_planes=6, n_tables=12
    ).select("id_a", "id_b")


@register(
    "vector_ann_ivf_topk",
    oracle=None,  # approximate by design; recall pinned vs exact in tests
    doc="IVF approximate top-k: seeded KMeans coarse quantizer, probe "
    "the 4 nearest of 16 cells per query — candidates shrink to "
    "n_probe/n_cells of the corpus",
)
def vector_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    index = ivf_index(spark, sf_dir, n_cells=16)
    return ivf_probe(index, queries, k=10, n_probe=4).select(
        "query_id", "neighbor_id", "rnk"
    )


@register(
    "dedup_minhash_pairs",
    oracle=None,  # banded-minhash candidates aren't SQL-expressible
    doc="MinHash+LSH near-dup candidates over documents (shingle → "
    "32 minhashes → 8 bands → bucket join); est_jaccard = sig agreement",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(docs, "doc_id", "text")


@register(
    "dedup_simhash_pairs",
    oracle=None,  # 64-bit sketch + chunk blocking isn't portable SQL
    doc="SimHash near-dup pairs over documents (64-bit sketch, 16-bit "
    "chunk blocking, Hamming ≤ 3 verify via bit_count)",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(docs, "doc_id", "text")


@register(
    "dedup_cluster_docs_star",
    oracle=None,  # iterative graph algorithm — pinned vs union-find in tests
    doc="near-dup clustering over the same LSH candidates as "
    "dedup_cluster_docs, through the same connected_components: a "
    "driver-side union-find while the edge set fits the driver, "
    "large-star/small-star contraction rounds (Kiveris et al. SoCC'14, "
    "O(log d) rounds for diameter d) above that; union-find parity in "
    "test_corpus.py",
)
def dedup_cluster_docs_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cognitive_score_bigdata_spark.operators.dedup import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text").filter(
        F.col("est_jaccard") >= 0.5
    )
    return connected_components(pairs, docs, "doc_id")


# dedup_incremental_newbatch moved to queries/round17_staging.py (r14):
# upgraded in place to the md5 signature family with a persisted banded
# index and a FULL DuckDB oracle (VERDICT r13 item 6). The xxhash64
# fast-path machinery (save/load_minhash_index, dedup_incremental)
# stays in operators/dedup.py, pinned by test_dedup_similarity.
