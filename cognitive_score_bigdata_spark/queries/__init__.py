"""Query registry: every operator the engine claims, with its oracle.

Each :class:`QuerySpec` pairs a PySpark implementation (``fn(spark,
sf_dir) -> DataFrame``) with the ANSI-SQL string a DuckDB oracle runs on
the same parquet tables. The driver's correctness harness compares the two
by row count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- double aggregations go through an exact ``DECIMAL(28,6)`` accumulator on
  both sides (addition order then can't perturb low bits);
- top-k orderings always carry a unique tiebreaker column.

Specs with ``oracle=None`` are genuinely non-SQL-expressible (streaming
state, LSH, iterative algorithms); the driver records a weaker rows-only
check for those.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass, replace
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a query implementation to the global registry."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


# The driver's correctness ledgers, one CORRECTNESS_r<round>.json per
# round at the repo root, each mapping query name -> comparison row.
_REPO_ROOT = Path(__file__).resolve().parents[2]
_LEDGER_ROUND = re.compile(r"CORRECTNESS_r(\d+)\.json")


def committed_ledgers() -> list[Path]:
    return sorted(
        p
        for p in _REPO_ROOT.glob("CORRECTNESS_r*.json")
        if _LEDGER_ROUND.fullmatch(p.name)
    )


def ledger_keys(ledgers: Iterable[str | Path]) -> dict[str, int]:
    """Each ledgered query's driver-order key: the round of its most
    recent row if that row passed (value hash matched, or a rows-only
    ``no_oracle`` row), else -1 so a red query is re-checked first."""
    latest: dict[str, tuple[int, dict]] = {}
    for path in ledgers:
        rnd = int(_LEDGER_ROUND.fullmatch(Path(path).name).group(1))
        for name, row in json.loads(Path(path).read_text()).items():
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, row)
    return {
        name: rnd
        if row.get("hash_match") is True or row.get("err") == "no_oracle"
        else -1
        for name, (rnd, row) in latest.items()
    }


def driver_order(
    names: Iterable[str], ledgers: Iterable[str | Path]
) -> list[str]:
    """``names`` sorted by (ledger key, name): never-checked and red
    queries (key -1) first, then the stalest passes."""
    keys = ledger_keys(ledgers)
    return sorted(names, key=lambda n: (keys.get(n, -1), n))


# Why each rows-only (oracle=None) query CANNOT be value-hash-checked
# against DuckDB, and which driver-VERIFIED sibling pins the same
# machinery (VERDICT r4 item 4: every rows-only entry must name its
# coverage or be retired). Appended to the spec doc at load time;
# completeness pinned by tests/test_oracle_parity.py.
ROWS_ONLY_RATIONALE: dict[str, str] = {
    "vector_ann_ivfpq_topk": "probe mode is approximate by design "
    "(n_probe<n_cells drops true neighbors); machinery hash-verified by "
    "sibling vector_ann_ivfpq_exact (driver r4, n_probe=n_cells), "
    "recall>=0.7 pinned in test_pq",
    "agg_approx_distinct": "HLL estimate is engine-specific (different "
    "register layouts); exact sibling agg_distinct is driver-verified, "
    "error bound pinned in tests",
    "vector_ann_lsh_neardup": "sign-LSH recall is probabilistic (plane "
    "draws differ per engine); exact sibling vector_cosine_neardup "
    "(driver-verified) defines the target set, recall pinned in tests, "
    "and vector_ann_lsh_seeded (r13 birth) hash-verifies the LSH "
    "pipeline end-to-end — signature, bucket join, verify — via six "
    "fixed seed-embedding hyperplanes; the two paths differ only in "
    "where the plane matrix comes from",
    "vector_ann_ivf_topk": "probe mode approximate (Lloyd-trained "
    "quantizer is seeded/iterative, not SQL); exact sibling "
    "vector_ann_ivf_exact (driver r2, n_probe=n_cells) hash-verifies "
    "build/probe at full recall, and vector_ann_ivf_topk_seeded "
    "(r13 birth) hash-verifies the PROBE-mode pipeline end-to-end — "
    "assignment, cell choice, n_probe candidates, ranking — via the "
    "deterministic seeded quantizer; the two paths differ only in "
    "where the centroid matrix comes from",
    "dedup_minhash_pairs": "fast path on xxhash64 (JVM-internal hash, "
    "no DuckDB equivalent); the IDENTICAL shingle->min->band->bucket "
    "machinery is hash-verified by sibling dedup_minhash_pairs_md5 "
    "(driver r4, md5 two-hash scheme)",
    "dedup_simhash_pairs": "fast path on xxhash64; sketch/blocking/"
    "Hamming-verify machinery hash-verified by sibling "
    "dedup_simhash_pairs_md5 (driver r4)",
    "dedup_cluster_docs_star": "same xxhash64-LSH candidates and same "
    "connected_components as dedup_cluster_docs (see that entry); "
    "label parity vs union-find pinned in tests",
    "vector_ann_pq_topk": "ADC scores are approximations; the "
    "codebook/encode/LUT machinery is hash-verified by sibling "
    "vector_ann_ivfpq_exact (driver r4), recall pinned in test_pq",
    "dedup_cluster_docs": "clusters over xxhash64-LSH candidates (see "
    "dedup_minhash_pairs); exact-jaccard sibling dedup_cluster_exact "
    "(driver r3) hash-verifies the clustering composition",
    "vector_kmeans_cluster_sizes": "MLlib KMeans float iterations are "
    "engine-specific; k-means-as-partitioner machinery hash-verified "
    "via dedup_semantic_exact (driver r4, n_cells=1) and the IVF exact "
    "modes",
    "sample_stratified": "sampleBy's per-row RNG stream has no DuckDB "
    "equivalent; deterministic sibling sample_stratified_exact_k "
    "(driver r4) hash-verifies exact-k stratified selection",
    "agg_percentile_approx": "KLL-sketch quantiles are estimator-"
    "specific; exact siblings agg_exact_median_by_type / "
    "agg_percentile_bands (driver r4) are hash-verified, error bound "
    "pinned in tests",
    "sample_seeded": "F9 parity row: Bernoulli sampling rides Spark's "
    "per-partition RNG stream (engine-specific by nature); "
    "deterministic sibling sample_weighted_systematic (driver r4) "
    "hash-verifies exact weighted selection",
    "ml_score_batch": "GBT transform is model inference, not SQL; the "
    "deterministic serving prefix is hash-verified by sibling "
    "ml_feature_assembly (driver r3), model path pinned in test_ml",
    "dedup_semantic_pairs": "probe mode prunes by approximate cell "
    "assignment; sibling dedup_semantic_exact (driver r4, n_cells=1 = "
    "exhaustive) hash-verifies the Gram-matmul pair machinery, planted "
    "near-dups pinned in tests",
    "sketch_hll_group_users": "Datasketches HLL register values are "
    "library-specific; sibling sketch_hll_md5_users (driver r4) "
    "hash-verifies md5-auditable HLL register maintenance end-to-end, "
    "merge+bounds pinned in test_sketches",
    "sketch_theta_user_overlap": "Datasketches theta internals are "
    "library-specific; sibling sketch_kmv_overlap3 (driver r4) "
    "hash-verifies the KMV/theta-style set-algebra machinery, and "
    "sketch_theta_md5_overlap (r13 birth) hash-verifies the FULL "
    "theta contract — min-theta combine, below-theta intersection/"
    "union counts, scaled estimates — on md5-fixed hashes",
    "search_mmr_rerank_ivf": "IVF-probed candidate pool is approximate "
    "by design (n_probe<n_cells drops true neighbors before the "
    "greedy); exact sibling search_mmr_rerank (driver r11 birth row, "
    "hash-green) runs the byte-identical greedy tail over brute-force "
    "candidates, pool recall + selection agreement pinned in "
    "tests/test_retrieval.py",
    "search_hybrid_rrf_ivf": "the vector leg's IVF ranks are "
    "approximate by design (same ledger logic as search_mmr_rerank_"
    "ivf); exact sibling search_hybrid_rrf shares the BM25 leg and "
    "fusion code byte-for-byte, leg recall + fused-set agreement "
    "pinned in tests/test_retrieval.py",
    "agg_pandas_udaf_gmean": "geometric mean goes through exp/log "
    "transcendentals (cross-engine ulp drift by design of the check); "
    "the row exists for the grouped pandas-UDAF API surface, Arrow "
    "batch shape pinned in tests",
}


def load_registry() -> dict[str, QuerySpec]:
    """Import all query modules (side effect: they register) and return
    the registry in :func:`driver_order` over the committed ledgers.

    The driver checks the first 50 entries each round, so that window
    always fronts the queries it has never checked or last saw red,
    then those whose latest passing row is oldest.
    """
    from cognitive_score_bigdata_spark.queries import (  # noqa: F401
        aggregations,
        analytics,
        analytics_tpch,
        ann_exact,
        ann_pq,
        corpus,
        corpus_pipeline,
        dedup_md5,
        dedup_similarity,
        extensions,
        flagship,
        graphs,
        ivf_lifecycle,
        joins,
        mlops,
        multimodal_q,
        multimodal_real,
        mv_maintenance,
        projections,
        quality,
        retrieval,
        round3_additions,
        round4_staging,
        round4_staging2,
        round5,
        round6,
        round7,
        round8,
        round8_staging,
        round9,
        round10,
        round10_staging,
        round11_staging,
        round12,
        round12_staging,
        round13,
        round13_staging,
        round14_staging,
        round15_staging,
        round16_staging,
        round17_staging,
        round18_staging,
        round19_staging,
        round20_staging,
        round21_staging,
        scalar_funcs,
        setops,
        sharding,
        sketches,
        sketches_md5,
        spandedup,
        stats_events,
        subqueries,
        textclean,
        textjoins,
        textops,
        timeseries,
        tpch_rest,
        vector_crossover,
        vectorops,
        windows,
        windows_extra,
        windows_time,
    )

    for n, why in ROWS_ONLY_RATIONALE.items():
        spec = REGISTRY.get(n)
        if spec is not None and spec.oracle is None and why not in spec.doc:
            REGISTRY[n] = replace(spec, doc=f"{spec.doc} [rows-only: {why}]")
    return {n: REGISTRY[n] for n in driver_order(REGISTRY, committed_ledgers())}
