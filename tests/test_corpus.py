"""Corpus-pipeline operators: connected-components clustering pinned
against a pure-Python union-find over the same candidate pairs, and
seeded-KMeans determinism."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cognitive_score_bigdata_spark.io import load_table
from cognitive_score_bigdata_spark.operators import graph
from cognitive_score_bigdata_spark.operators.dedup import (
    connected_components,
    minhash_candidate_pairs,
)
from cognitive_score_bigdata_spark.queries import load_registry
from tests.conftest import SF_DIR


def _union_find_clusters(pairs, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # full path compression, then label = root (min id by construction)
    return {n: find(n) for n in nodes}


def test_connected_components_matches_union_find(spark):
    docs = load_table(spark, SF_DIR, "documents")
    pairs_df = minhash_candidate_pairs(docs, "doc_id", "text").filter(
        F.col("est_jaccard") >= 0.5
    )
    pairs = [(r.id_a, r.id_b) for r in pairs_df.collect()]
    nodes = [r.doc_id for r in docs.select("doc_id").collect()]
    assert pairs, "expected near-dup candidates in testdata"

    expected = _union_find_clusters(pairs, nodes)
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs_df, docs, "doc_id").collect()
    }
    assert got == expected


def test_connected_components_transitive_chain(spark):
    # a-b, b-c, and separately d-e: one 3-chain + one 2-cluster + singleton f
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 4)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "doc_id long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, nodes, "doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_star_contraction_matches_union_find(spark, monkeypatch):
    docs = load_table(spark, SF_DIR, "documents")
    pairs_df = minhash_candidate_pairs(docs, "doc_id", "text").filter(
        F.col("est_jaccard") >= 0.5
    )
    pairs = [(r.id_a, r.id_b) for r in pairs_df.collect()]
    nodes = [r.doc_id for r in docs.select("doc_id").collect()]
    expected = _union_find_clusters(pairs, nodes)
    # a zero driver budget: contraction rounds to the fixpoint, no
    # driver-side union-find
    monkeypatch.setattr(graph, "LOCAL_FINISH_BYTES", 0)
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs_df, docs, "doc_id").collect()
    }
    assert got == expected


def _path(spark, n):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    return pairs, nodes


def test_star_contraction_long_chain_logarithmic(spark, monkeypatch):
    """A 200-node path has diameter 199: min-label propagation would
    need 199 rounds, star contraction converges in O(log d) — within a
    12-round cap."""
    n = 200
    pairs, nodes = _path(spark, n)

    # a zero driver budget forces pure distributed contraction — the
    # O(log d) property must hold without the driver-side shortcut
    with monkeypatch.context() as m:
        m.setattr(graph, "LOCAL_FINISH_BYTES", 0)
        star = {
            r.doc_id: r.cluster_id
            for r in connected_components(
                pairs, nodes, "doc_id", max_iter=12
            ).collect()
        }
    assert star == {i: 0 for i in range(n)}

    # and the hybrid local finish must give the identical answer
    hybrid = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            pairs, nodes, "doc_id", max_iter=12
        ).collect()
    }
    assert hybrid == star


def test_connected_components_raises_without_fixpoint(spark, monkeypatch):
    """Three contraction rounds cannot close a 200-node path; the
    operator must say so instead of returning labels that are not the
    components."""
    pairs, nodes = _path(spark, 200)
    monkeypatch.setattr(graph, "LOCAL_FINISH_BYTES", 0)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(pairs, nodes, "doc_id", max_iter=3)


def test_kmeans_cluster_sizes_deterministic(spark):
    reg = load_registry()
    fn = reg["vector_kmeans_cluster_sizes"].fn
    a = [(r.cluster, r.n) for r in fn(spark, SF_DIR).collect()]
    b = [(r.cluster, r.n) for r in fn(spark, SF_DIR).collect()]
    assert a == b
    n_total = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(n for _, n in a) == n_total
    assert len(a) <= 8


def test_stratified_sample_respects_strata(spark):
    reg = load_registry()
    out = reg["sample_stratified"].fn(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents")
    by_lang = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # non-'en' strata keep fraction 1.0 — exact; 'en' is strictly downsampled
    for lang, n in full.items():
        if lang == "en":
            assert by_lang.get(lang, 0) < n
        else:
            assert by_lang[lang] == n


def test_bpe_round_trip_and_determinism(spark):
    """BPE: word-internal merges must round-trip (joining a word's
    tokens recovers the word), compress (fewer tokens than characters),
    be deterministic across partitionings, and actually use the learned
    merges (some multi-char token must exist)."""
    from cognitive_score_bigdata_spark.io import load_table
    from cognitive_score_bigdata_spark.operators.bpe import (
        _encode_word,
        bpe_encode,
        bpe_train,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    merges = bpe_train(docs, n_merges=64)
    assert merges, "training must learn merges on a repetitive corpus"
    ranks = {p: i for i, p in enumerate(merges)}

    # word-level round trip + compression on the actual vocabulary
    vocab = {
        w
        for r in docs.select("text").collect()
        for w in (r["text"] or "").split()
    }
    multi = 0
    for w in vocab:
        toks = _encode_word(w, ranks)
        assert "".join(toks) == w, (w, toks)
        assert len(toks) <= len(w)
        multi += any(len(t) > 1 for t in toks)
    assert multi > 0, "no merge ever applied"

    out = bpe_encode(docs, merges)
    rows = {r["doc_id"]: (r["n_bpe_tokens"], r["tokens_fp"]) for r in out.collect()}
    # char tokenization upper bound: n_bpe_tokens < total word chars
    some = docs.select("doc_id", "text").limit(20).collect()
    for r in some:
        n_chars = sum(len(w) for w in r["text"].split())
        assert rows[r["doc_id"]][0] < n_chars

    out7 = bpe_encode(docs.repartition(7), merges)
    rows7 = {r["doc_id"]: (r["n_bpe_tokens"], r["tokens_fp"]) for r in out7.collect()}
    assert rows7 == rows

    # training is deterministic too
    assert bpe_train(docs, n_merges=64) == merges


def test_connected_components_local_and_distributed_agree(spark, monkeypatch):
    """The hybrid local finish must be a pure optimization: forcing the
    distributed star-contraction path (a zero driver budget) yields
    exactly the same labels as the local union-find fast path."""
    from cognitive_score_bigdata_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (8, 9), (9, 3)],
        "id_a long, id_b long",
    )
    nodes = spark.range(10).select(F.col("id").alias("doc_id"))
    local = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(pairs, nodes, "doc_id").collect()
    }
    monkeypatch.setattr(graph, "LOCAL_FINISH_BYTES", 0)
    dist = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(pairs, nodes, "doc_id").collect()
    }
    assert local == dist
    assert (8, 3) in local and (9, 3) in local
    assert (2, 0) in local and (4, 4) in local
