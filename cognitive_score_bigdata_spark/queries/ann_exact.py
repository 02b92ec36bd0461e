"""IVF plumbing under an exact-mode oracle (round 2+).

``ivf_topk`` with ``n_probe == n_cells`` probes every cell, so the
result is exactly brute-force top-k — which means the ENTIRE IVF
machinery (KMeans coarse quantizer, cell assignment, probe pruning,
per-cell candidate scoring, final merge) earns a DuckDB hash-match row,
not just the recall-vs-exact unit test.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cognitive_score_bigdata_spark.io import load_table
from cognitive_score_bigdata_spark.operators.similarity import ivf_probe
from cognitive_score_bigdata_spark.queries import register
from cognitive_score_bigdata_spark.queries.dedup_similarity import ivf_index


@register(
    "vector_ann_ivf_exact",
    oracle="""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                      c.vec_id ASC) AS BIGINT) AS rnk
    FROM embeddings q JOIN embeddings c ON q.vec_id < 5
                                       AND c.vec_id <> q.vec_id
    QUALIFY rnk <= 10
    """,
    doc="IVF top-k at n_probe=n_cells: probing every cell makes the "
    "approximate path exact, so the full quantize/probe/score/merge "
    "pipeline is oracle-checked hash-for-hash against brute force",
)
def vector_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    index = ivf_index(spark, sf_dir, n_cells=8)
    return ivf_probe(index, queries, k=10, n_probe=8).select(
        "query_id", "neighbor_id", "rnk"
    )


@register(
    "vector_ann_ivfpq_exact",
    oracle="""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                      c.vec_id ASC) AS BIGINT) AS rnk
    FROM embeddings q JOIN embeddings c ON q.vec_id < 5
                                       AND c.vec_id <> q.vec_id
    QUALIFY rnk <= 10
    """,
    doc="IVFADC at n_probe=n_cells and refine covering the whole corpus: "
    "every cell is probed AND the refine candidate budget k_top*refine "
    ">= N, so the full pipeline — coarse quantize, residual PQ encode, "
    "LUT-gather ADC scan, exact re-rank — degenerates to brute force and "
    "earns a DuckDB hash-match row (the vector_ann_ivf_exact pattern "
    "from round 2, extended to the compressed tier; VERDICT r3 item 6). "
    "The approximate probe modes stay rows-only, correctly",
)
def vector_ann_ivfpq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cognitive_score_bigdata_spark.operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    k_top = 10
    # refine budget covers the corpus: ADC keeps everything, the exact
    # re-rank IS brute force (corpus count is a metadata-only job here)
    refine = (emb.count() + k_top - 1) // k_top
    return ivfpq_topk(
        emb, queries, k_top=k_top, n_cells=8, n_probe=8, refine=refine
    ).select("query_id", "neighbor_id", "rnk")


@register(
    "dedup_semantic_exact",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings
      WHERE vec_id % 25 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
    """,
    doc="SemDeDup at n_cells=1: a single k-means cell makes the within-"
    "cell all-pairs stage exhaustive, so the blocked-Gram pair kernel is "
    "oracle-checked hash-for-hash against the naive quadratic join "
    "(VERDICT r3 item 9 — the exact-mode sibling for "
    "dedup_semantic_pairs, same planted-duplicate corpus). ids-only "
    "output; threshold margin verified non-degenerate (no pair within "
    "0.02 of 0.95 at either test SF, so float low bits cannot flip "
    "membership across engines)",
)
def dedup_semantic_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cognitive_score_bigdata_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    planted = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    return semantic_dedup_pairs(corpus, threshold=0.95, n_cells=1).select(
        "id_a", "id_b"
    )
