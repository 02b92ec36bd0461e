"""Round-15 staged queries (the rounds-8-14 staging pattern: full hash
oracle, mirrored at two SFs, slope-measured before they ever enter a
driver window): hash-checkable sign-LSH near-dup candidates, and the
time-travel deletion audit over the delete-rewritten lake artifact.

``vector_ann_lsh_seeded`` — the seeded-quantizer transfer (§9ag)
applied to the LAST rows-only ANN family: sign-LSH. The production row
(``vector_ann_lsh_neardup``) draws random hyperplanes per table, which
no SQL engine can replay; this variant takes the hyperplanes from SIX
FIXED seed embeddings (vec_id % 60 == 11, < 360 — disjoint from the
8-cell quantizer seeds so the two artifacts stay independent), so the
signature is a pure function both engines compute: bit i of a vector's
bucket = (v · h_i >= 0). Candidates = same-bucket pairs (one table,
64 buckets), verified at the exact cosine threshold. The planted
duplicates (the family fixture) collide in every bucket by identity,
so recall of true duplicates is exercised, and the output carries the
bucket id — the DuckDB mirror re-derives signatures, bucketing AND
verification, hash-for-hash. Every sign decision is margin-pinned
(no |v · h| within float noise of 0) in tests/test_round15_staging.py.

``scan_time_travel_audit`` — the read-side closure of the r13 lake
lifecycle (§9ah): WHAT did the delete remove? Answered entirely from
retained snapshots — the manifest DIFF names the superseded files (in
v1, gone from v2) and the replacement files (new in v2), so the audit
reads ONLY those, never the untouched partitions: removed rows =
superseded files' rows anti-joined against replacement files' rows.
At 100 TB this is the snapshot-diff pattern of a transactional table
format (Delta CDF / Iceberg changelog shape, derived post-hoc from
plain snapshots): IO is proportional to the CHANGE, not the table.
Oracle = the delete predicate against the base table, so a row the
rewrite failed to drop, or an untouched row misreported as removed,
hash-mismatches.

Reference parity: ANN-family extension + lake audit over the
reference's corpus analytics surface (SURVEY §2-extras).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cognitive_score_bigdata_spark.io import load_table
from cognitive_score_bigdata_spark.queries import register

# --- vector_ann_lsh_seeded -------------------------------------------------

LSH_PLANE_MOD = 60
LSH_PLANE_REM = 11
LSH_PLANE_MAX = 360  # 6 hyperplanes at every test SF
LSH_THRESHOLD = 0.90  # verify threshold; planted exact dups sit at 1.0


_LSH_CAND_CACHE: dict = {}


def _lsh_cand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (neighbor_id, __c unit vector, cell=bucket) table:
    one Arrow pass computes unit vectors AND the 6-bit sign signature
    against the fixed plane matrix (sign(v . h) is scale-invariant, so
    raw-vector signs equal unit-vector signs) — the signlsh_buckets
    shape with the quantizer swapped for fixed seed embeddings, and the
    output shaped as an IVF candidate table so the blocked Gram kernel
    verifies within buckets exactly as it does within cells."""
    import numpy as np
    import pandas as pd

    from cognitive_score_bigdata_spark.io import fan_out
    from cognitive_score_bigdata_spark.operators.similarity import (
        IVF_CAND_SCHEMA,
    )
    from cognitive_score_bigdata_spark.queries.round12 import _planted_corpus
    from cognitive_score_bigdata_spark.session_cache import session_scoped

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        rows = (
            emb.filter(
                (F.col("vec_id") % LSH_PLANE_MOD == LSH_PLANE_REM)
                & (F.col("vec_id") < LSH_PLANE_MAX)
            )
            .select("vec_id", "embedding")
            .collect()
        )  # 6 rows — build artifact, not data
        rows.sort(key=lambda r: r.vec_id)
        P = np.array([r.embedding for r in rows], dtype=np.float64)
        weights = 1 << np.arange(len(rows))

        def assign(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.stack(pdf["embedding"].to_numpy()).astype(
                    np.float64
                )
                signs = (mat @ P.T) >= 0
                unit = mat / np.maximum(
                    np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
                )
                yield pd.DataFrame(
                    {
                        "neighbor_id": pdf["vec_id"],
                        "__c": list(unit),
                        "cell": (signs @ weights).astype(np.int32),
                    }
                )

        corpus = _planted_corpus(spark, sf_dir)
        return fan_out(corpus.select("vec_id", "embedding")).mapInPandas(
            assign, IVF_CAND_SCHEMA
        ).persist()

    return session_scoped(_LSH_CAND_CACHE, spark, (sf_dir,), build)


@register(
    "vector_ann_lsh_seeded",
    oracle=f"""
    WITH planes AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i,
             embedding AS h
      FROM embeddings
      WHERE vec_id % {LSH_PLANE_MOD} = {LSH_PLANE_REM}
        AND vec_id < {LSH_PLANE_MAX}
    ),
    corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings
      WHERE vec_id % 25 = 0
    ),
    sig AS (
      SELECT c.vec_id, c.embedding,
             CAST(SUM(CASE WHEN list_inner_product(c.embedding, p.h) >= 0
                           THEN 1 << p.i ELSE 0 END) AS BIGINT) AS bucket
      FROM corpus c CROSS JOIN planes p
      GROUP BY c.vec_id, c.embedding
    )
    SELECT a.bucket AS bucket, a.vec_id AS id_a, b.vec_id AS id_b
    FROM sig a JOIN sig b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding)
          >= {LSH_THRESHOLD}
    """,
    doc="sign-LSH near-dup candidates with a deterministic hyperplane "
    "set: bucket bit i = sign(v . h_i) against 6 fixed seed "
    "embeddings, same-bucket pairs verified at cosine >= 0.9 — every "
    "stage of the LSH pipeline (signature, bucket join, verify) "
    "hash-checks against the DuckDB mirror; the random-plane sibling "
    "(vector_ann_lsh_neardup, rows-only) differs only in where the "
    "hyperplanes come from. Planted duplicates collide in every "
    "bucket by identity — the recall path is exercised, not vacuous",
)
def vector_ann_lsh_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cognitive_score_bigdata_spark.operators.similarity import (
        IvfIndex,
        semantic_dedup_pairs,
    )

    cand = _lsh_cand(spark, sf_dir)
    pairs = semantic_dedup_pairs(threshold=LSH_THRESHOLD, index=IvfIndex(cand, None))
    buckets = cand.select(
        F.col("neighbor_id").alias("id_a"),
        F.col("cell").cast("bigint").alias("bucket"),
    )
    return pairs.join(buckets, "id_a").select("bucket", "id_a", "id_b")


# --- scan_time_travel_audit ------------------------------------------------


@register(
    "scan_time_travel_audit",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_removed,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM documents
    WHERE doc_id % 100 = 17
    GROUP BY lang
    """,
    doc="time-travel deletion audit: WHAT did the r13 delete-rewrite "
    "remove, answered from retained snapshots alone — the manifest "
    "diff names the superseded and replacement files, the audit reads "
    "ONLY those (IO proportional to the change, never the table; "
    "inputFiles pinned to the diff set), removed = superseded rows "
    "anti-joined against replacement rows. Oracle = the delete "
    "predicate against the base table, so an un-dropped victim or a "
    "misreported untouched row hash-mismatches",
)
def scan_time_travel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    import cognitive_score_bigdata_spark.operators.index_manifest as im
    from cognitive_score_bigdata_spark.queries.round14_staging import (
        rewrite_artifact,
    )

    path, _mx = rewrite_artifact(spark, sf_dir)
    pre = set(im._read_manifest_doc(path, version=1)["files"])
    post = set(im._read_manifest_doc(path, version=2)["files"])

    def read_files(files: set[str]) -> DataFrame:
        return spark.read.option("basePath", path).parquet(
            *[os.path.join(path, f) for f in sorted(files)]
        )

    superseded = read_files(pre - post)  # only the affected partition
    replacement = read_files(post - pre)
    removed = superseded.join(
        replacement.select("doc_id"), "doc_id", "left_anti"
    )
    return removed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_removed"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
