"""Embedding similarity search: exact baselines + LSH-bucketed scale path.

Three tiers, trading exactness for join size (all deterministic):

1. ``cosine_topk_exact`` / ``cosine_neardup_exact`` — brute force with
   built-in expressions (zip_with/aggregate). Exact, oracle-checkable,
   O(Q·N) / O(N²); fine when one side is small or broadcastable.
2. ``cosine_topk_numpy`` — same brute force but Arrow-batched
   ``mapInPandas`` doing a single BLAS matmul per batch against the
   broadcast query matrix: 10-100× the expression version's throughput;
   the right physical plan when Q is hundreds+.
3. ``signlsh_buckets`` / ``cosine_neardup_lsh`` — random-hyperplane sign
   LSH: vectors that agree on all p plane signs land in one of 2^p
   buckets; candidate pairs are generated only within buckets, turning
   O(N²) into a bucket-local join. Planes are derived from a seeded RNG,
   so bucketing is reproducible.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from cognitive_score_bigdata_spark.io import fan_out

# cosine_topk_numpy ships the collected query matrix inside the task
# closure; past this many query rows the driver collect / closure size is
# the wrong architecture and the bucketed ANN paths must be used.
MAX_QUERY_ROWS = 100_000

# Below this many vectors the unit-vector table (~1 KB/row) broadcasts to
# the verify join; above, it stays an equi-join (AQE can still upgrade).
BROADCAST_MAX_VECTOR_ROWS = 200_000


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


_DOT_VEC_UDF = None


def dot_vec(a: Column, b: Column) -> Column:
    """Vectorized row-wise dot product over two array columns.

    Catalyst's higher-order functions (zip_with/aggregate) evaluate
    interpreted, per element — ~µs each, which is the whole runtime once
    a verify stage touches 10^5+ candidate pairs × 128 dims. One einsum
    over the Arrow batch replaces all of it. (UDF object is created
    lazily: ``pandas_udf`` needs an active session, and this module must
    import without one.)
    """
    global _DOT_VEC_UDF
    if _DOT_VEC_UDF is None:

        @F.pandas_udf("double")
        def _udf(x: pd.Series, y: pd.Series) -> pd.Series:
            A = np.stack(x.to_numpy())
            B = np.stack(y.to_numpy())
            return pd.Series(np.einsum("ij,ij->i", A, B))

        _DOT_VEC_UDF = _udf
    return _DOT_VEC_UDF(a, b)


def unit_rows(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id_col, vec_col as unit-normalized array<double>): normalize each
    embedding ONCE, so every downstream cosine is a plain dot product.
    One linear Arrow pass — the shape to persist alongside a real corpus."""
    out_schema = f"{id_col} long, {vec_col} array<double>"

    def norm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: list(mat)}
            )

    return fan_out(vectors.select(id_col, vec_col)).mapInPandas(
        norm, out_schema
    )


def cosine_topk_exact(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query row: (query_id, neighbor_id, rnk,
    cos). Queries are broadcast; candidates stream through one pass."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__q")
    )
    c = fan_out(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__c")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine(F.col("__q"), F.col("__c")))
        # prune vector payloads before the rank shuffle (see ivf_topk)
        .select("query_id", "neighbor_id", "cos")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "cos")
    )


def cosine_topk_numpy(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k via Arrow-batched BLAS (mapInPandas).

    The query matrix is collected once (queries are small by contract)
    and closed over — Spark serializes it to executors with the task.
    Each candidate batch computes cos = C_norm @ Q_norm.T in one matmul,
    takes a partial top-k per partition, and a final exact top-k merge
    runs on the (tiny) union of partials.

    The "small by contract" assumption on ``queries`` is enforced: a
    query set past ``MAX_QUERY_ROWS`` would OOM the driver (and make the
    closure broadcast the bottleneck), so the collect is guarded and the
    caller is pointed at the bucketed paths instead of failing opaquely.
    """
    probe = queries.select(id_col).limit(MAX_QUERY_ROWS + 1).count()
    if probe > MAX_QUERY_ROWS:
        raise ValueError(
            f"cosine_topk_numpy collects the query matrix to the driver; "
            f"got > {MAX_QUERY_ROWS} query rows. For large query sets use "
            f"vector_ann_lsh_neardup / ann_ivf_topk (bucketed, no driver "
            f"collect) instead."
        )
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = "query_id long, neighbor_id long, cos double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            cos = c_mat @ q_mat.T  # (batch, Q)
            for j, qid in enumerate(q_ids):
                col = cos[:, j]
                mask = c_ids != qid
                ids, vals = c_ids[mask], col[mask]
                if len(ids) > k:  # partial top-k inside the partition
                    part = np.argpartition(-vals, k)[:k]
                    ids, vals = ids[part], vals[part]
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": ids, "cos": vals}
                )

    partials = fan_out(vectors.select(id_col, vec_col)).mapInPandas(
        score, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        partials.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "cos")
    )


def cosine_neardup_exact(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold, exact O(N²) formulation —
    the correctness oracle for the LSH path."""
    # Non-equi pair join plans as BroadcastNestedLoopJoin; the streamed
    # side's partitioning is the only parallelism, so fan it out.
    a = fan_out(
        vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__a"))
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__b")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("__a"), F.col("__b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def signlsh_buckets(
    vectors: DataFrame,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane sign LSH: (id, table, bucket) — one row per
    hash table (OR-amplification: p planes AND within a table, L tables
    OR across; recall = 1-(1-(1-θ/π)^p)^L, precision restored by exact
    verify downstream).

    Hyperplanes come from a seeded Gaussian RNG materialized inside the
    Arrow UDF — reproducible everywhere, nothing random at plan time.
    """
    out_schema = f"{id_col} long, tbl int, bucket int"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if planes is None:
                planes = np.random.RandomState(seed).randn(
                    mat.shape[1], n_tables * n_planes
                )
            signs = (mat @ planes) > 0  # (batch, L*p)
            signs = signs.reshape(len(mat), n_tables, n_planes)
            bucket = signs @ (1 << np.arange(n_planes))  # (batch, L)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, n_tables),
                    "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(ids)),
                    "bucket": bucket.reshape(-1).astype(np.int32),
                }
            )

    return fan_out(vectors.select(id_col, vec_col)).mapInPandas(
        assign, out_schema
    )


class IvfIndex:
    """A built IVF index: the cached inverted file (cell → unit vectors)
    plus the centroid table. At corpus scale both are persisted TABLES
    written by a batch build job; ``cached`` models that with a Spark
    cache so repeated probes don't re-run quantization."""

    def __init__(self, cand: DataFrame, centers_df: DataFrame):
        self.cand = cand  # (neighbor_id, __c unit array, cell)
        self.centers_df = centers_df  # (cell, center array<double>)

    def unpersist(self) -> None:
        self.cand.unpersist()


def _train_centroids(
    sample: np.ndarray, n_cells: int, seed: int, iters: int = 10
) -> np.ndarray:
    """Plain Lloyd k-means on a bounded in-memory sample — the FAISS
    recipe for IVF coarse quantizers (train on ~10^5 of 10^9 vectors).

    Deterministic: seeded init, argmin ties break to the lowest cell,
    empty cells reseed to the currently worst-fit point. One BLAS matmul
    per iteration; on a 100k × 128 sample this is milliseconds, versus
    one scheduled Spark job per iteration for a distributed trainer —
    scheduling overhead, not math, is what that would buy."""
    if len(sample) < n_cells:
        raise ValueError(
            f"IVF needs at least n_cells={n_cells} training vectors, "
            f"got {len(sample)}"
        )
    rng = np.random.RandomState(seed)
    C = sample[rng.choice(len(sample), n_cells, replace=False)].copy()
    for _ in range(iters):
        # dist² = |x|² + |c|² - 2x·c; |x|² is constant per row → drop it
        d = (C * C).sum(axis=1)[None, :] - 2.0 * (sample @ C.T)
        assign = d.argmin(axis=1)
        dmin = d[np.arange(len(sample)), assign]
        for j in range(n_cells):
            members = assign == j
            if members.any():
                C[j] = sample[members].mean(axis=0)
            else:
                far = int(dmin.argmax())
                C[j] = sample[far]
                dmin[far] = -np.inf
    return C


IVF_CAND_SCHEMA = "neighbor_id long, __c array<double>, cell int"


def norm_assign_fn(C: np.ndarray, id_col: str, vec_col: str):
    """The fused normalize+assign Arrow pass against a FIXED centroid
    matrix — shared by the initial build (freshly trained centroids)
    and incremental absorption (frozen centroids from the persisted
    index, ``queries/ivf_lifecycle.py``): chaining unit_rows into a
    second mapInPandas would cost a whole extra Python-worker stage for
    work that shares the same stacked matrix."""

    def norm_assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            d = (C * C).sum(axis=1)[None, :] - 2.0 * (mat @ C.T)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col],
                    "__c": list(mat),
                    "cell": d.argmin(axis=1).astype(np.int32),
                }
            )

    return norm_assign


def ivf_build(
    vectors: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Build the IVF index: train the coarse quantizer on a bounded
    driver-side sample, assign every vector to a cell with one Arrow
    pass against the broadcast centroid matrix, cache the inverted file.

    Everything runs in unit space (spherical quantization): normalize
    once, train/assign/probe/score on unit vectors, so euclidean cell
    distance is monotone in cosine and the verify is a plain dot.

    The collected training sample is capped at 100k rows (~50 MB at
    128 dims) — same driver-size contract as ``cosine_topk_numpy``.
    """
    # Training sample: collect RAW vectors (no Python stage runs just for
    # the sample) and normalize driver-side; sorted so collect order
    # can't perturb the seeded init.
    n = vectors.count()  # parquet metadata count — no data scan
    fit = vectors if n <= 100_000 else vectors.sample(
        fraction=100_000 / n, seed=seed
    )
    rows = fit.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[0])
    sample = np.array([r[1] for r in rows], dtype=np.float64)
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    C = _train_centroids(sample, n_cells, seed)

    cand = (
        fan_out(vectors.select(id_col, vec_col))
        .mapInPandas(norm_assign_fn(C, id_col, vec_col), IVF_CAND_SCHEMA)
        .persist()
    )
    centers_df = vectors.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "cell int, center array<double>",
    )
    return IvfIndex(cand, centers_df)


def ivf_probe(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a built index: per query, rank cells by centroid distance,
    score only the ``n_probe`` nearest cells' members. A query touches
    |N|·n_probe/n_cells candidates instead of |N|; recall rises with
    n_probe, and n_probe = n_cells degenerates to exact."""
    cand, centers_df = index.cand, index.centers_df
    # Query side is small by contract (it broadcasts below) — normalize
    # with expressions instead of unit_rows, saving a Python-worker stage
    # for a few hundred rows of work.
    unit_q = F.transform(
        _as_double(F.col(vec_col)), lambda x: x / l2_norm(F.col(vec_col))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), unit_q.alias("__q")
    )
    # rank cells per query by centroid distance, keep n_probe
    qc = (
        q.crossJoin(F.broadcast(centers_df))
        .withColumn(
            "__d",
            F.aggregate(
                F.zip_with(
                    _as_double(F.col("__q")),
                    F.col("center"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn(
            "__rc",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("__d"), F.asc("cell"))
            ),
        )
        .filter(F.col("__rc") <= n_probe)
        .select("query_id", "__q", "cell")
    )

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        F.broadcast(qc)
        .join(cand, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot_vec(F.col("__q"), F.col("__c")))
        # drop the vector payloads BEFORE the rank shuffle: sorting rows
        # that still carry two 1 KB arrays is 3× the whole query's cost
        .select("query_id", "neighbor_id", "cos")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "cos")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-shot IVF top-k: :func:`ivf_build` + :func:`ivf_probe`.

    For repeated probes against one corpus, build once and reuse the
    index (the registry queries do exactly that).
    """
    index = ivf_build(vectors, n_cells, seed, id_col, vec_col)
    return ivf_probe(index, queries, k, n_probe, id_col, vec_col)


def cosine_neardup_lsh(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via sign-LSH blocking + exact verify within bucket.

    Recall = 1-(1-(1-θ/π)^p)^L (tunable via planes/tables); precision =
    1 because every candidate is exactly verified. At 100 TB this is the
    difference between an impossible N² shuffle and a bucket-local join
    keyed on (table, bucket).
    """
    # Both self-join sides consume the bucket table and both verify
    # legs consume the unit table; the sides differ by column alias so
    # Spark reuses NEITHER exchange — without materialization the
    # sign-LSH hashing and the normalization each run TWICE (two
    # redundant full-corpus Arrow passes, seen as duplicate MapInPandas
    # nodes with zero ReusedExchange). Same lazy-checkpoint fix as the
    # winnowing fingerprints and the MMR candidate leg.
    b = signlsh_buckets(
        vectors, n_planes, n_tables, seed, id_col, vec_col
    ).localCheckpoint(eager=False)
    # Candidate generation moves IDS ONLY: the band self-join and the
    # dedup shuffle never carry embedding payloads (the earlier
    # formulation shipped two 1 KB arrays per candidate row through both
    # shuffles and was 5× slower for it). Vectors re-enter afterwards —
    # normalized once so the verify is a single vectorized dot — via a
    # broadcast when the corpus is small enough, else an equi-join.
    a = b.select("tbl", "bucket", F.col(id_col).alias("id_a"))
    c = b.select("tbl", "bucket", F.col(id_col).alias("id_b"))
    pairs = (
        a.join(c, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    u = unit_rows(vectors, id_col, vec_col).localCheckpoint(eager=False)
    ua = u.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__a"))
    ub = u.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__b"))
    if vectors.count() <= BROADCAST_MAX_VECTOR_ROWS:
        ua, ub = F.broadcast(ua), F.broadcast(ub)
    return (
        pairs.join(ua, "id_a")
        .join(ub, "id_b")
        .withColumn("cos", dot_vec(F.col("__a"), F.col("__b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_dedup_pairs(
    vectors: DataFrame | None = None,
    threshold: float = 0.95,
    n_cells: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: int = 1024,
    index: "IvfIndex | None" = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication pairs: (id_a, id_b, cos >= threshold) computed only
    WITHIN k-means clusters of the embedding space.

    This is the scale path for embedding near-dup at corpus size: the
    quadratic all-pairs stage runs per cluster ((N/k)² per group, never
    N²), clusters come from the same bounded-sample coarse quantizer the
    IVF index uses (driver-trained on <=100k rows, one fused
    normalize+assign Arrow pass), and the per-cluster Gram computation
    is a BLOCKED matmul (block x |cell| strips) so executor memory is
    bounded regardless of cluster size. Output is ids+cos only — no
    vector payload crosses the shuffle.

    Recall caveat (inherent to SemDeDup, documented in the paper): pairs
    whose members fall in different clusters are missed; duplicates are
    near-identical vectors, which land in the same cell except exactly
    on a Voronoi boundary. Raise n_cells for speed, lower it for recall.
    Pass a prebuilt ``index`` to reuse a session-cached quantization;
    the pairs then come from the index alone and ``vectors`` may be
    omitted.
    """
    if index is None and vectors is None:
        raise ValueError("semantic_dedup_pairs needs vectors or an index")
    idx = index if index is not None else ivf_build(
        vectors, n_cells=n_cells, seed=seed, id_col=id_col, vec_col=vec_col
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["neighbor_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack(pdf["__c"].to_numpy())[order]
        n = len(ids)
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_c: list[np.ndarray] = []
        jj = np.arange(n)[None, :]
        for s in range(0, n, block):
            blk = M[s : s + block]
            G = blk @ M.T
            ii = (s + np.arange(blk.shape[0]))[:, None]
            mask = (G >= threshold) & (jj > ii)
            ai, bj = np.nonzero(mask)
            out_a.append(ids[ai + s])
            out_b.append(ids[bj])
            out_c.append(G[ai, bj])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else [],
                "id_b": np.concatenate(out_b) if out_b else [],
                "cos": np.concatenate(out_c) if out_c else [],
            }
        )

    return idx.cand.groupBy("cell").applyInPandas(
        cell_pairs, "id_a long, id_b long, cos double"
    )
