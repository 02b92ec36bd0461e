"""Corpus-preparation pipeline queries: vocabulary, TF-IDF, quality
funnel, duplicate clustering, embedding clustering, stratified sampling.

These are the operations a training-data pipeline runs over a raw corpus
between "crawl" and "tokenizer": build the vocabulary, score term
salience, funnel documents through quality filters, collapse near-dup
clusters to one survivor, cluster embeddings, and sample per stratum.
All counting/scoring paths are built-in expressions over an exploded
token table (scan → explode → hash-agg: linear, shuffle on token/doc
only); the clustering paths reuse the LSH candidate generator so no
O(n²) stage exists anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cognitive_score_bigdata_spark.functions import text as TX
from cognitive_score_bigdata_spark.io import fan_out, load_table
from cognitive_score_bigdata_spark.operators.dedup import (
    connected_components,
    minhash_candidate_pairs,
)
from cognitive_score_bigdata_spark.queries import register

VOCAB_K = 50


@register(
    "corpus_vocab_topk",
    oracle=f"""
    SELECT tok, COUNT(*) AS df
    FROM (SELECT DISTINCT doc_id,
                 unnest(string_split_regex(text, ' +')) AS tok
          FROM documents)
    GROUP BY tok
    ORDER BY df DESC, tok ASC
    LIMIT {VOCAB_K}
    """,
    doc="vocabulary head: top-k tokens by document frequency — "
    "explode(distinct tokens) + hash-agg + TakeOrdered; the first step "
    "of any tokenizer/vocab build",
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        fan_out(docs)
        .select(
            "doc_id",
            F.explode(F.array_distinct(TX.tokens("text"))).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(VOCAB_K)
    )


@register(
    "corpus_tfidf_topterm",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok
      FROM documents
    ),
    tfc AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
    dfc AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tfc.doc_id, tfc.tok,
             CAST(tfc.tf AS DOUBLE) * (SELECT n_docs FROM n) / dfc.df
               AS score,
             ROW_NUMBER() OVER (PARTITION BY tfc.doc_id
                                ORDER BY CAST(tfc.tf AS DOUBLE)
                                         * (SELECT n_docs FROM n) / dfc.df
                                         DESC, tfc.tok ASC) AS rn
      FROM tfc JOIN dfc USING (tok))
    SELECT doc_id, tok AS top_term, score
    FROM scored WHERE rn = 1
    """,
    doc="most salient term per document by TF-IDF with linear idf "
    "(tf·N/df — rational arithmetic on exact integers, so the ranking "
    "is bit-identical across engines; log-idf reorders identically for "
    "fixed tf but its transcendental low bits are not portable)",
)
def corpus_tfidf_topterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = fan_out(docs).select(
        "doc_id", F.explode(TX.tokens("text")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf").cast("double") * F.col("n_docs") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        tf.join(df, "tok")
        .join(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_term"), "score")
    )


@register(
    "corpus_filter_funnel",
    oracle="""
    WITH d AS (
      SELECT n_chars, lang,
             len(string_split_regex(text, ' +')) AS n_tok,
             len(list_distinct(string_split_regex(text, ' +'))) * 1.0
               / len(string_split_regex(text, ' +')) AS uniq_ratio
      FROM documents)
    SELECT 'a_raw' AS stage, COUNT(*) AS n FROM d
    UNION ALL
    SELECT 'b_len_ok', COUNT(*) FROM d WHERE n_chars >= 100
    UNION ALL
    SELECT 'c_tok_ok', COUNT(*) FROM d
    WHERE n_chars >= 100 AND n_tok >= 20
    UNION ALL
    SELECT 'd_uniq_ok', COUNT(*) FROM d
    WHERE n_chars >= 100 AND n_tok >= 20 AND uniq_ratio >= 0.4
    UNION ALL
    SELECT 'e_lang_ok', COUNT(*) FROM d
    WHERE n_chars >= 100 AND n_tok >= 20 AND uniq_ratio >= 0.4
      AND lang = 'en'
    """,
    doc="quality-filter funnel: survivor count after each cumulative "
    "cleaning stage (length → token budget → uniqueness → language) — "
    "the acceptance report a corpus-prep run emits; one scan, "
    "conditional counts",
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "n_chars",
        "lang",
        TX.token_count("text").alias("n_tok"),
        (
            TX.distinct_token_count("text").cast("double")
            / TX.token_count("text")
        ).alias("uniq_ratio"),
    )
    len_ok = F.col("n_chars") >= 100
    tok_ok = len_ok & (F.col("n_tok") >= 20)
    uniq_ok = tok_ok & (F.col("uniq_ratio") >= 0.4)
    lang_ok = uniq_ok & (F.col("lang") == "en")
    # One scan, five conditional counts, unpivoted to (stage, n) rows.
    agg = docs.agg(
        F.count(F.lit(1)).alias("a_raw"),
        F.count(F.when(len_ok, 1)).alias("b_len_ok"),
        F.count(F.when(tok_ok, 1)).alias("c_tok_ok"),
        F.count(F.when(uniq_ok, 1)).alias("d_uniq_ok"),
        F.count(F.when(lang_ok, 1)).alias("e_lang_ok"),
    )
    stack = ", ".join(
        f"'{s}', {s}"
        for s in ["a_raw", "b_len_ok", "c_tok_ok", "d_uniq_ok", "e_lang_ok"]
    )
    return agg.selectExpr(f"stack(5, {stack}) AS (stage, n)")


@register(
    "dedup_cluster_docs",
    oracle=None,  # iterative fixpoint — not SQL; pinned vs union-find in tests
    doc="near-dup cluster assignment: MinHash-LSH candidate pairs "
    "(est_jaccard >= 0.5) + connected components; cluster_id "
    "= smallest doc_id in the component = the canonical survivor",
)
def dedup_cluster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text").filter(
        F.col("est_jaccard") >= 0.5
    )
    return connected_components(pairs, docs, "doc_id")


@register(
    "vector_kmeans_cluster_sizes",
    oracle=None,  # iterative ML — cluster geometry pinned in tests
    doc="seeded MLlib KMeans over the embedding column, reported as "
    "(cluster, n) sizes — the coarse partitioner behind IVF and the "
    "standard embedding-space diversity report",
)
def vector_kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    vec = fan_out(
        emb.select(
            "vec_id", array_to_vector(F.col("embedding")).alias("__features")
        )
    )
    km = KMeans(k=8, seed=42, featuresCol="__features").fit(vec)
    return (
        km.transform(vec)
        .groupBy(F.col("prediction").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cluster")
    )


@register(
    "sample_stratified",
    oracle=None,  # seeded Bernoulli sampling is partitioning-dependent
    doc="per-stratum Bernoulli sampling (sampleBy on lang, seeded): "
    "balance a skewed corpus by downsampling the dominant language; "
    "fractions are exact in expectation, rows-only checked",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.3, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0}
    return docs.sampleBy("lang", fractions, seed=42).select(
        "doc_id", "lang", "source"
    )
