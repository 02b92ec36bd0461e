"""Round-12 queries: hash-checkable blocked semantic dedup.

``dedup_semantic_pairs_seeded`` — SemDeDup's BLOCKED path made fully
oracle-checkable (VERDICT r11 item 4). The family already has both ends
pinned: ``dedup_semantic_exact`` (n_cells=1: the within-cell pair
kernel is exhaustive, hash-green vs DuckDB's list_cosine_similarity)
and ``dedup_semantic_pairs`` (real k-means cells — rows-only, because
Lloyd iterations are seeded/iterative and not SQL). What neither pins
is the BLOCKING itself: that cell assignment routes every vector to
exactly one block and the per-cell kernel then finds exactly the
within-block pairs. This query closes that gap by making the cell
assignment deterministic AND SQL-expressible: the "centroids" are the
embeddings of eight fixed seed ids (vec_id % 60 == 7, vec_id < 480 —
present at every test SF), each vector assigns to the seed with the
highest cosine (tie -> lowest cell, measure-zero except for identical
vectors), and the output carries the cell id, so the DuckDB mirror
checks the full pipeline — assignment, blocking, within-cell threshold
— hash-for-hash, not just the final pair set.

Cross-engine float contract (same as the exact sibling): Spark assigns
in unit space via ``norm_assign_fn`` (d = |c|^2 - 2 v.c, strictly
decreasing in cosine when the seed matrix is unit-normalized, argmin
ties -> first/lowest cell), DuckDB via list_cosine_similarity DESC +
cell ASC; both decisions are threshold/argmax comparisons protected by
margins, pinned non-degenerate in tests/test_round12.py (no vector's
best-vs-second-best seed gap, and no pair's |cos - 0.95| gap, is
within float-noise distance of flipping).

At scale this is the same SemDeDup plan as the k-means sibling — the
quadratic stage is (N/k)^2 per cell via the blocked Gram kernel, ids
only cross the shuffle — with the quantizer swapped for a fixed seed
table, so the correctness evidence transfers to the production path
that differs ONLY in where the centroid matrix comes from.

Reference parity: curation-family extension (SURVEY §2-extras); the
reference has no embedding pipeline.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cognitive_score_bigdata_spark.io import fan_out, load_table
from cognitive_score_bigdata_spark.queries import register
from cognitive_score_bigdata_spark.session_cache import session_scoped

SEED_MOD = 60
SEED_REM = 7
SEED_MAX = 480  # 8 seeds at every test SF (embeddings has >= 500 rows)
SEM_THRESHOLD = 0.95


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The family's shared fixture: embeddings + every 25th vector
    re-ingested under a new id (stable, non-empty pair set)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    return emb.unionByName(planted)


def seeded_cells(corpus: DataFrame, seeds: DataFrame) -> DataFrame:
    """Assign every corpus vector to its nearest SEED embedding —
    ``ivf_build``'s fused normalize+assign Arrow pass against a frozen,
    deterministic centroid matrix (no Lloyd training). Seeds are
    ordered by vec_id; cell i = i-th smallest seed id. The seed
    collect is bounded (8 rows) — a build-artifact step, not per-row
    driver work."""
    from cognitive_score_bigdata_spark.operators.similarity import (
        IVF_CAND_SCHEMA,
        norm_assign_fn,
    )

    rows = seeds.select("vec_id", "embedding").collect()  # 8 rows
    rows.sort(key=lambda r: r.vec_id)
    C = np.array([r.embedding for r in rows], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return fan_out(corpus.select("vec_id", "embedding")).mapInPandas(
        norm_assign_fn(C, "vec_id", "embedding"), IVF_CAND_SCHEMA
    )


_SEEDED_CACHE: dict = {}


def _seeded_cand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached assignment table (build artifact, like the
    sibling's k-means quantization)."""

    def build() -> DataFrame:
        corpus = _planted_corpus(spark, sf_dir)
        seeds = corpus.filter(
            (F.col("vec_id") % SEED_MOD == SEED_REM)
            & (F.col("vec_id") < SEED_MAX)
        )
        return seeded_cells(corpus, seeds).persist()

    return session_scoped(_SEEDED_CACHE, spark, (sf_dir,), build)


@register(
    "dedup_semantic_pairs_seeded",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings
      WHERE vec_id % 25 = 0
    ),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
             embedding AS center
      FROM embeddings
      WHERE vec_id % {SEED_MOD} = {SEED_REM} AND vec_id < {SEED_MAX}
    ),
    assign AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT c.vec_id, c.embedding, s.cell,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY list_cosine_similarity(c.embedding, s.center)
                          DESC, s.cell ASC
               ) AS rn
        FROM corpus c CROSS JOIN seeds s
      ) WHERE rn = 1
    )
    SELECT CAST(a.cell AS BIGINT) AS cell,
           a.vec_id AS id_a, b.vec_id AS id_b
    FROM assign a JOIN assign b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding)
          >= {SEM_THRESHOLD}
    """,
    doc="SemDeDup blocked semantic dedup with a deterministic seeded "
    "quantizer: cell = nearest of 8 fixed seed embeddings (argmax "
    "cosine, tie -> lowest cell), near-dup pairs (cos >= 0.95) found "
    "only within cells by the blocked Gram kernel; output (cell, id_a, "
    "id_b) hash-checks assignment + blocking + threshold against the "
    "DuckDB mirror — the first oracle row for the family's BLOCKED "
    "path (the k-means sibling is rows-only by necessity)",
)
def dedup_semantic_pairs_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cognitive_score_bigdata_spark.operators.similarity import (
        IvfIndex,
        semantic_dedup_pairs,
    )

    cand = _seeded_cand(spark, sf_dir)
    idx = IvfIndex(cand, centers_df=None)
    pairs = semantic_dedup_pairs(threshold=SEM_THRESHOLD, index=idx)
    cells = cand.select(
        F.col("neighbor_id").alias("id_a"), F.col("cell").cast("long").alias("cell")
    )
    return pairs.join(cells, "id_a").select("cell", "id_a", "id_b")


# ---------------------------------------------------------------------------
# corpus_bpe_pipeline — the BPE loop closed end-to-end (VERDICT r11
# item 6): train -> encode with the JUST-TRAINED merges -> pack -> shard
# as ONE composed query, no driver hop for data (the only driver steps
# are the trainer's 1-row argmaxes and the prefix sum's numPartitions-row
# offsets — both bounded artifacts, not data).
#
# The key observation making "encode with the trained merges" free: the
# trainer's final state table (w, cnt, s) IS the encoded corpus — each
# distinct word's fully-merged symbol string. Token count per word =
# symbol count of s; per-doc counts come from the word->doc join (word-
# keyed shuffle, vocabulary-bounded build side); packing/sharding reuse
# the two-pass distributed prefix sum. Everything is symbols + integers
# — no floats — so the COMPOSITION hash-matches a CTE-for-CTE DuckDB
# mirror (the corpus_clean_pipeline pattern applied to the tokenizer
# family).
#
# Exhaustion robustness: the oracle's state steps use LEFT JOIN ON TRUE
# + COALESCE, so an exhausted step carries the state forward unchanged —
# exactly the Spark loop's early break — instead of emptying the chain
# (the train-only oracle can CROSS JOIN because it emits merges, not
# state).
# ---------------------------------------------------------------------------

SEQ_LEN = 512
TOKENS_PER_SHARD = 2_000


def _bpe_pipeline_oracle(k: int) -> str:
    from cognitive_score_bigdata_spark.queries.round12_staging import _D2

    parts = [
        f"""
    WITH words AS (
      SELECT w, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split_regex(text, ' +')) AS w FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    st0 AS MATERIALIZED (
      SELECT w, cnt,
             {_D2}||array_to_string(string_split(w, ''), {_D2})||{_D2} AS s
      FROM words
    )"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""",
    pairs{i} AS (
      SELECT p[1] AS a, p[2] AS b, SUM(cnt) AS total FROM (
        SELECT cnt,
               unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS p
        FROM (
          SELECT cnt, string_split(trim(s, chr(31)), {_D2}) AS toks
          FROM st{i - 1}
        )
      ) GROUP BY 1, 2
    ),
    best{i} AS MATERIALIZED (
      SELECT a, b FROM pairs{i}
      ORDER BY total DESC, a ASC, b ASC LIMIT 1
    ),
    st{i} AS MATERIALIZED (
      SELECT w, cnt,
             COALESCE(replace(s, chr(31)||a||{_D2}||b||chr(31),
                              chr(31)||a||b||chr(31)), s) AS s
      FROM st{i - 1} LEFT JOIN best{i} ON TRUE
    )"""
        )
    parts.append(
        f""",
    wtok AS (
      SELECT w,
             CAST(len(string_split(trim(s, chr(31)), {_D2})) AS BIGINT)
               AS wt
      FROM st{k}
    ),
    docw AS (
      SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w
      FROM documents
    ),
    sized AS (
      SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS n_tok
      FROM docw JOIN wtok USING (w)
      WHERE w <> '' GROUP BY doc_id
    ),
    pos AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
      FROM sized
    )
    SELECT doc_id, n_tok,
           CAST(s // {SEQ_LEN} AS BIGINT) AS first_seq,
           CAST((s + n_tok - 1) // {SEQ_LEN} AS BIGINT) AS last_seq,
           CAST(s // {TOKENS_PER_SHARD} AS BIGINT) AS shard
    FROM pos
    """
    )
    return "".join(parts)


def _register_bpe_pipeline() -> None:
    from cognitive_score_bigdata_spark.queries.round12_staging import (
        K_BPE_MERGES,
    )

    @register(
        "corpus_bpe_pipeline",
        oracle=_bpe_pipeline_oracle(K_BPE_MERGES),
        doc="the tokenizer family composed end-to-end: distributed BPE "
        "training (16 merge iterations over the word-frequency table), "
        "encoding under the JUST-trained merges (the trainer's final "
        "state IS the encoded vocabulary — zero extra merge "
        "applications), per-doc token counts via the vocabulary join, "
        "GPT-style sequence packing and token-budget shard assignment "
        "via the two-pass distributed prefix sum. Integer/symbol "
        "arithmetic only, hash-matched CTE-for-CTE against DuckDB "
        "(corpus_clean_pipeline's composition pattern); proves the "
        "train->encode->pack->shard artifacts compose without a "
        "data-sized driver hop",
    )
    def corpus_bpe_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cognitive_score_bigdata_spark.operators.sharding import (
            global_exclusive_prefix_sum,
        )
        from cognitive_score_bigdata_spark.queries.round12_staging import (
            _US,
            bpe_train_state,
            word_freq_table,
        )

        docs = load_table(spark, sf_dir, "documents")
        _, state = bpe_train_state(word_freq_table(docs), K_BPE_MERGES)
        core = F.expr("substring(s, 3, length(s) - 4)")
        wtok = state.select(
            "w", F.size(F.split(core, _US * 2)).cast("bigint").alias("wt")
        )
        docw = docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " +")).alias("w")
        ).filter(F.col("w") != "")
        sized = docw.join(wtok, "w").groupBy("doc_id").agg(
            F.sum("wt").cast("bigint").alias("n_tok")
        )
        pos = global_exclusive_prefix_sum(
            sized, "doc_id", "n_tok", out_col="__start"
        )
        start = F.col("__start")
        return pos.select(
            "doc_id",
            "n_tok",
            F.floor(start / SEQ_LEN).cast("bigint").alias("first_seq"),
            F.floor((start + F.col("n_tok") - 1) / SEQ_LEN)
            .cast("bigint")
            .alias("last_seq"),
            F.floor(start / TOKENS_PER_SHARD).cast("bigint").alias("shard"),
        )


_register_bpe_pipeline()
