"""Near-duplicate detection at corpus scale: MinHash-LSH and SimHash.

Exact dedup is a hash-groupBy (queries/textops.py `text_exact_dedup`);
these operators find *near* duplicates without comparing all O(n²) pairs,
which is the only formulation that survives a 100 TB corpus:

- **MinHash + LSH** (banding): shingle → k minhash signatures → b bands
  of r rows (k = b·r) → exact-match bucket join per band. Candidate pairs
  are generated only within buckets; P(candidate) ≈ 1-(1-s^r)^b gives the
  usual S-curve around the similarity threshold.
- **SimHash**: 64-bit sketch whose Hamming distance tracks cosine/Jaccard
  similarity of token sets; near-dup candidates = pairs agreeing on at
  least one of 4 16-bit chunks (any pair within Hamming distance 3 must
  agree on ≥1 chunk by pigeonhole).

Everything is built-in expressions (xxhash64 / transform / aggregate /
explode) — no Python in the row path, single shuffle per band join.
Signatures are deterministic (seeded hash salts), so results are stable
across runs and cluster layouts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StructField, StructType

from cognitive_score_bigdata_spark.io import fan_out
from cognitive_score_bigdata_spark.operators.graph import collect_if_small

DEFAULT_NUM_HASHES = 32
DEFAULT_BANDS = 8  # 8 bands x 4 rows -> threshold s ~ (1/b)^(1/r) ~ 0.6


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of a whitespace-tokenized document.

    Built by zipping the token array with its own shifted copies (one
    ``zip_with`` per gram position) — O(tokens) per document, versus the
    naive per-index ``slice`` formulation whose repeated array
    materialization dominated the MinHash pipeline. ``concat_ws`` skips
    the nulls that padding introduces, and the final slice trims the
    trailing short grams (docs shorter than ``n`` keep their single
    short shingle).
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " +")
    sh = toks
    for k in range(1, n):
        shifted = F.slice(
            toks, k + 1, F.greatest(F.size(toks) - k, F.lit(1))
        )
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(sh, 1, F.greatest(F.size(toks) - (n - 1), F.lit(1)))


def minhash_signature(
    shingle_col: Column, num_hashes: int = DEFAULT_NUM_HASHES
) -> Column:
    """k independent minhashes: min over shingles of salted xxhash64.

    The salt must be captured via a closure factory: a two-parameter
    lambda would be treated by ``F.transform`` as an (element, index)
    lambda and the index would silently replace the salt, collapsing all
    k hash functions into one.
    """

    def salted(i: int):
        # hash the string once, salt over the long — matches
        # minhash_sig_table bit-for-bit (see that function's rationale)
        return lambda s: F.xxhash64(F.xxhash64(s), F.lit(i))

    return F.array(
        *[
            F.array_min(F.transform(shingle_col, salted(i)))
            for i in range(num_hashes)
        ]
    )


def minhash_sig_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = 3,
) -> DataFrame:
    """(__id, __sig array<bigint>) via explode + 32-way MIN hash-agg.

    Preferred over the per-row array-fold (:func:`minhash_signature`)
    inside multi-consumer plans: the aggregation is a projection-collapse
    barrier, so downstream band hashes reference the computed column
    instead of inlining the whole signature expression once per band —
    and a vectorized partial-MIN hash agg is the shape that scales.
    """
    sh = fan_out(docs).select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("__s"),
    ).select(
        "__id",
        # hash the variable-length shingle string ONCE; the k hash
        # functions re-hash the fixed 8-byte long — k× cheaper than
        # k string hashes, same independence for minhash purposes
        F.xxhash64(F.col("__s")).alias("__h"),
    )
    aggs = [
        F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return (
        sh.groupBy("__id")
        .agg(*aggs)
        .select(
            "__id",
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("__sig"),
        )
    )


def minhash_banded(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(__id, __sig, band, bhash): one row per (doc, band) with the
    band's hash — the LSH bucket key table. Shared by the batch
    pair-generator and the persisted incremental index."""
    return sig.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(F.col("__sig"), b * rows + r + 1)
                                for r in range(rows)
                            ]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("__id", "__sig", "bk.band", "bk.bhash")


def save_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> None:
    """Persist the banded signature table as the corpus's dedup index —
    the batch-build artifact incremental dedup joins new arrivals
    against (signatures are computed ONCE per corpus lifetime, not per
    dedup run). Partitioned by band so an incremental probe prunes to
    the bands it actually touches."""
    banded = minhash_banded(
        minhash_sig_table(docs, id_col, text_col, num_hashes, shingle_n),
        bands,
        num_hashes // bands,
    )
    banded.write.mode("overwrite").partitionBy("band").parquet(path)


def load_minhash_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def dedup_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup pairs (new_id, corpus_id, est_jaccard ≥ threshold)
    between a NEW batch and the persisted corpus index.

    The new batch (a crawl increment — small next to the corpus) is
    signature-hashed, banded, and broadcast into an equi-join on
    (band, bhash) against the index: the corpus is touched once, by
    bucket key, with no corpus-side recompute and no corpus×corpus
    stage. Candidate pairs verify on signature agreement exactly like
    the batch path.
    """
    rows = num_hashes // bands
    new_banded = minhash_banded(
        minhash_sig_table(new_docs, id_col, text_col, num_hashes, shingle_n),
        bands,
        rows,
    ).select(
        F.col("__id").alias("new_id"),
        F.col("__sig").alias("new_sig"),
        "band",
        "bhash",
    )
    cand = (
        index.join(F.broadcast(new_banded), ["band", "bhash"])
        .select(
            "new_id",
            F.col("__id").alias("corpus_id"),
            "new_sig",
            F.col("__sig").alias("corpus_sig"),
        )
        .filter(F.col("new_id") != F.col("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("new_sig"), F.col("corpus_sig"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return cand.select(
        "new_id",
        "corpus_id",
        (agree.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= threshold)


def lsh_overflow_buckets(
    docs: DataFrame,
    max_bucket_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """Audit companion to ``minhash_candidate_pairs(max_bucket_size=B)``:
    the buckets that guard would reject, as (band, bhash, n_members).

    Run (and log) this when enabling the cap so dropped coverage is a
    recorded number, not a silent truncation — a hot bucket here almost
    always means boilerplate that exact dedup (text_exact_dedup) should
    have collapsed first."""
    rows = num_hashes // bands
    banded = minhash_banded(
        minhash_sig_table(docs, id_col, text_col, num_hashes, shingle_n),
        bands,
        rows,
    )
    return (
        banded.groupBy("band", "bhash")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > max_bucket_size)
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH-banded near-dup candidates: (id_a, id_b, est_jaccard).

    est_jaccard = fraction of agreeing minhash positions (unbiased
    estimator of the shingle-set Jaccard). Only pairs sharing at least
    one full band survive; the band join shuffles on (band, band_hash),
    never on raw text.

    ``max_bucket_size``: production skew guard. A bucket of identical
    boilerplate docs yields |bucket|² pairs no matter the formulation —
    one 10k-member bucket emits 50M pairs and its reducer is the job's
    straggler (or OOM) at 100 TB. With the cap set, buckets with more
    members are rejected whole: a bucket that hot carries no
    discriminative signal (its members are boilerplate near-copies that
    exact dedup should collapse first), and its docs still pair through
    their other ``bands-1`` buckets. Use :func:`lsh_overflow_buckets`
    to count what a given cap drops before turning it on.
    """
    rows = num_hashes // bands
    sig = minhash_sig_table(docs, id_col, text_col, num_hashes, shingle_n)
    banded = minhash_banded(sig, bands, rows)

    # Pairs are generated bucket-locally: one shuffle on (band, bhash),
    # collect the (few) members per bucket, emit ordered combinations.
    # This computes each signature exactly once — a banded self-join
    # would re-run the whole signature pipeline on both sides and add a
    # second shuffle.
    members = (
        banded.groupBy("band", "bhash")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("__id").alias("id"), F.col("__sig").alias("sig"))
                )
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    if max_bucket_size is not None:
        members = members.filter(F.size("ms") <= max_bucket_size)
    pairs = members.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ms"),
                    lambda m, i: F.transform(
                        F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                        lambda m2: F.struct(
                            m.id.alias("id_a"),
                            m2.id.alias("id_b"),
                            m.sig.alias("sig_a"),
                            m2.sig.alias("sig_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.*").dropDuplicates(["id_a", "id_b"])

    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return pairs.select(
        "id_a",
        "id_b",
        (agree.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


def simhash_sketch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash=None,
    n_bits: int = 64,
) -> DataFrame:
    """n_bits-wide SimHash per document: (id_col, simhash bigint).

    Per token: a 64-bit token hash → n_bits ±1 bit votes; sign of the
    per-position vote sum becomes the sketch bit. Shaped as explode →
    hash-aggregate (n_bits SUMs) so Catalyst runs it as one vectorized
    partial-agg + shuffle on the doc id — the layout that scales, unlike
    a per-row 64-step fold. Duplicate tokens vote multiple times
    (multiset weighting, standard).

    ``token_hash``: Column-producing callable for the per-token hash.
    Defaults to ``F.xxhash64`` (fastest, JVM-side). Pass an md5-based
    60-bit hash (with ``n_bits=60``) to make the sketch cross-engine
    reproducible — see ``dedup_simhash_pairs_md5``'s DuckDB oracle.
    """
    hash_fn = token_hash if token_hash is not None else F.xxhash64
    toks = fan_out(docs).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " +")).alias("__t")
    ).select(F.col(id_col), hash_fn(F.col("__t")).alias("__h"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"__v{i}")
            for i in range(n_bits)
        ]
    )
    sketch = None
    for i in range(n_bits):
        bit = F.when(
            F.col(f"__v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sketch = bit if sketch is None else sketch + bit
    return votes.select(F.col(id_col), sketch.alias("simhash"))


def simhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: (id_a, id_b, hamming).

    Blocking: 4 16-bit chunks; any pair with hamming ≤ 3 shares ≥1 exact
    chunk (pigeonhole), so the candidate join is equi on (chunk_idx,
    chunk_value) — one shuffle, no n² comparison. Final filter computes
    exact Hamming distance with bit_count(a XOR b).
    """
    sh = simhash_sketch(docs, id_col, text_col).select(
        F.col(id_col).alias("__id"), F.col("simhash").alias("__sh")
    )
    chunks = sh.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("ck"),
                        F.shiftright(F.col("__sh"), 16 * k)
                        .bitwiseAND(F.lit(0xFFFF).cast("long"))
                        .alias("cv"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("c"),
    ).select("__id", "__sh", "c.ck", "c.cv")

    # Pairs are generated bucket-locally, exactly like the MinHash band
    # join: one shuffle on (ck, cv), collect the members per bucket, emit
    # ordered combinations. The alias-self-join formulation this replaced
    # ran the explode→64-SUM sketch aggregation on BOTH join sides plus a
    # second shuffle; here the sketch is computed once.
    members = (
        chunks.groupBy("ck", "cv")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("__id").alias("id"), F.col("__sh").alias("sh"))
                )
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    pairs = members.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ms"),
                    lambda m, i: F.transform(
                        F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                        lambda m2: F.struct(
                            m.id.alias("id_a"),
                            m2.id.alias("id_b"),
                            m.sh.alias("sh_a"),
                            m2.sh.alias("sh_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.*").dropDuplicates(["id_a", "id_b"])

    hamming = F.bit_count(
        F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    ).cast("int")
    return (
        pairs.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Near-dup clusters: label every node with the MIN id reachable
    through the pair graph — the canonical "pick one survivor per
    duplicate cluster" step after candidate generation.

    ``pairs`` needs columns (id_a, id_b); ``nodes`` provides one row per
    ``id_col`` so singletons keep their own id as cluster label. Returns
    (id_col, cluster_id).

    Hybrid local finish (the GraphX/production pattern): while the
    deduplicated symmetric edge set does not fit the driver budget
    (``graph.LOCAL_FINISH_BYTES`` = 32 MiB ≈ 2M edges, checked by
    ``graph.collect_if_small``), each round runs one large-star and one
    small-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014): O(log d) rounds for a diameter-d
    component, so a 10^6-long chain needs ~20 rounds, not 10^6.
    Contraction shrinks the graph geometrically and preserves
    connectivity (hence min-id labels), so as soon as the remainder fits
    the driver, a union-find over the collected half-edges labels it in
    one collect instead of the long tail of tiny distributed rounds.
    Near-dup graphs that already fit never run a contraction round.

    Raises ``RuntimeError`` when ``max_iter`` rounds end with neither a
    fixpoint nor a local finish: the labels would not be the components.
    """
    sym = _symmetric(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(max_iter):
        sig = tuple(
            sym.agg(F.count(F.lit(1)), F.sum("src"), F.sum("dst")).collect()[0]
        )
        # the signature's edge count bounds the half-edges, so the size
        # check adds no job; Arrow, not a row collect: py4j Row
        # conversion measured 8x slower (1.33 s vs 0.17 s at 300k edges)
        half = collect_if_small(
            sym.filter(F.col("src") < F.col("dst")), rows=sig[0]
        )
        if half is not None:
            src, dst = (half[c].to_numpy().tolist() for c in ("src", "dst"))
            lab = _local_min_labels(list(zip(src, dst)))
            t = sym.schema["src"].dataType
            labels = F.broadcast(
                nodes.sparkSession.createDataFrame(
                    list(lab.items()),
                    StructType(
                        [StructField("node", t), StructField("label", t)]
                    ),
                )
            )
            break
        if sig == prev_sig:
            # fixpoint: every component is a star around its min id
            labels = sym.groupBy(F.col("src").alias("node")).agg(
                F.min("dst").alias("label")
            )
            break
        prev_sig = sig
        sym = _star_round(_star_round(sym, large=True), large=False)
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} "
            "contraction rounds; raise max_iter"
        )
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.least("node", F.coalesce("label", "node")).alias("cluster_id"),
        )
    )


def _local_min_labels(edge_rows: list[tuple]) -> dict:
    """Union-find with min-id labels over a driver-collected edge list:
    node → smallest id in its component. The local finisher for
    :func:`connected_components`."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by id so the root IS the min — no second pass
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent} | {
        r: r for r in set(map(find, parent)) if r not in parent
    }


def _symmetric(edges: DataFrame) -> DataFrame:
    return (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_round(sym: DataFrame, large: bool) -> DataFrame:
    """One large- or small-star operation over a symmetric edge list.

    m(u) = min(Γ(u) ∪ {u}). Large-star rewires every neighbor v > u to
    m(u); small-star rewires every neighbor v < u AND u itself to m(u).
    No per-node neighbor list is ever materialized — both phases are a
    hash-agg MIN plus an equi-join, so a celebrity node costs a wide
    shuffle partition, not an OOM-sized array.
    """
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    if large:
        moved = (
            sym.filter(F.col("dst") > F.col("src"))
            .join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
    else:
        moved = (
            sym.filter(F.col("dst") < F.col("src"))
            .join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(
                mins.select(F.col("src"), F.col("m").alias("dst"))
            )
        )
    return _symmetric(moved).localCheckpoint(eager=True)
