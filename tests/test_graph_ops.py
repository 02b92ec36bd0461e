"""Graph operators on synthetic graphs with known answers.

The registry queries (`graph_pagerank_copurchase`,
`graph_triangle_count`) get cross-engine value parity from the DuckDB
oracle; these tests pin the *algorithms* on graphs where the right
answer is known in closed form or computable by an independent
brute-force reimplementation — so an oracle bug can't hide a shared
mistake.
"""

from __future__ import annotations

import itertools

import pytest

from cognitive_score_bigdata_spark.operators import graph
from cognitive_score_bigdata_spark.operators.graph import (
    PR_BASE,
    PR_INIT,
    pagerank_fixed_point,
    triangle_count,
)


@pytest.fixture(params=["local", "broadcast"])
def min_path(request, monkeypatch):
    """Run a min fixpoint on the driver-side local finish, or (with a
    zero driver budget) on the distributed broadcast loop; the local
    case fails unless the local loop really ran."""
    if request.param == "broadcast":
        monkeypatch.setattr(graph, "LOCAL_FINISH_BYTES", 0)
        yield
        return
    calls = []
    local = graph._min_propagate_local
    monkeypatch.setattr(
        graph, "_min_propagate_local", lambda *a: calls.append(a) or local(*a)
    )
    yield
    assert calls, "the local loop never ran"


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in pairs], "src long, dst long"
    )


def _symmetrize(pairs):
    return [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]


def _brute_triangles(pairs):
    adj = set(frozenset(p) for p in pairs)
    nodes = sorted({x for p in pairs for x in p})
    return sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= adj
    )


def _brute_pagerank(pairs_directed, n_iters):
    """Independent pure-python reimplementation (integer micro-units)."""
    outdeg: dict[int, int] = {}
    for u, _ in pairs_directed:
        outdeg[u] = outdeg.get(u, 0) + 1
    r = {u: PR_INIT for u in outdeg}
    for _ in range(n_iters):
        nxt: dict[int, int] = {}
        for u, v in pairs_directed:
            nxt[v] = nxt.get(v, 0) + (r[u] * 17) // (20 * outdeg[u])
        r = {v: PR_BASE + s for v, s in nxt.items()}
    return r


# --- triangle counting ------------------------------------------------------


def test_triangles_k4(spark):
    k4 = list(itertools.combinations(range(4), 2))
    row = triangle_count(_edges_df(spark, k4)).collect()[0]
    assert (row.n_vertices, row.n_edges, row.n_triangles) == (4, 6, 4)


def test_triangles_path_has_none(spark):
    path = [(i, i + 1) for i in range(9)]
    row = triangle_count(_edges_df(spark, path)).collect()[0]
    assert (row.n_vertices, row.n_edges, row.n_triangles) == (10, 9, 0)


def test_triangles_star_has_none(spark):
    # the skew case the orientation exists for: hub degree n-1, 0 wedges
    # enumerated from the hub's low side, 0 triangles
    star = [(0, i) for i in range(1, 30)]
    row = triangle_count(_edges_df(spark, star)).collect()[0]
    assert row.n_triangles == 0


def test_triangles_match_bruteforce_on_dense_graph(spark):
    # deterministic pseudo-random graph: edge (u,v) iff hash-ish rule
    pairs = [
        (u, v)
        for u, v in itertools.combinations(range(20), 2)
        if (u * 7 + v * 13) % 3 == 0
    ]
    row = triangle_count(_edges_df(spark, pairs)).collect()[0]
    assert row.n_triangles == _brute_triangles(pairs)
    assert row.n_edges == len(pairs)


# --- PageRank ---------------------------------------------------------------


def test_pagerank_regular_graph_is_uniform_fixed_point(spark):
    """On any regular symmetric graph the uniform vector is an EXACT
    fixed point of the integer iteration: contribution = (1e6*17) div
    (20*d) summed over d in-neighbors = 850000, plus base 150000 = 1e6
    again — no drift, bit-exact."""
    k3 = _symmetrize(list(itertools.combinations(range(3), 2)))
    ranks = pagerank_fixed_point(_edges_df(spark, k3), n_iters=5).collect()
    assert {r.node for r in ranks} == {0, 1, 2}
    assert all(r.rank_micro == PR_INIT for r in ranks)


def test_pagerank_star_matches_bruteforce(spark):
    star = _symmetrize([(0, i) for i in range(1, 5)])
    got = {
        r.node: r.rank_micro
        for r in pagerank_fixed_point(
            _edges_df(spark, star), n_iters=5
        ).collect()
    }
    assert got == _brute_pagerank(star, 5)
    # hub outranks leaves, leaves tie exactly (integer determinism)
    assert got[0] > got[1]
    assert len({got[i] for i in range(1, 5)}) == 1


def test_pagerank_irregular_matches_bruteforce(spark):
    pairs = _symmetrize(
        [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 0), (4, 5), (5, 0)]
    )
    got = {
        r.node: r.rank_micro
        for r in pagerank_fixed_point(
            _edges_df(spark, pairs), n_iters=7
        ).collect()
    }
    assert got == _brute_pagerank(pairs, 7)


# --- min-label connected components -----------------------------------------


def test_minlabel_path_needs_depth(spark, min_path):
    """A 0-9 path: node 9 is 9 hops from the minimum, so 8 rounds have
    NOT converged (its label is still 1) while 9 rounds finish the job
    — the fixed-iteration semantics the oracle depends on, on both the
    local and the broadcast path."""
    from cognitive_score_bigdata_spark.operators.graph import (
        minlabel_components,
    )

    path = [(i, i + 1) for i in range(9)]
    eight = {
        r.node: r.lab
        for r in minlabel_components(_edges_df(spark, path), 8).collect()
    }
    nine = {
        r.node: r.lab
        for r in minlabel_components(_edges_df(spark, path), 9).collect()
    }
    assert eight[9] == 1 and nine[9] == 0
    assert all(v == 0 for v in nine.values())


def test_minlabel_two_components(spark):
    from cognitive_score_bigdata_spark.operators.graph import (
        minlabel_components,
    )

    pairs = [(0, 1), (1, 2), (10, 11), (11, 12), (12, 10)]
    got = {
        r.node: r.lab
        for r in minlabel_components(_edges_df(spark, pairs), 5).collect()
    }
    assert {got[0], got[1], got[2]} == {0}
    assert {got[10], got[11], got[12]} == {10}


def test_minlabel_converged_on_copurchase_graph(spark):
    """The registry query's semantic claim — 8 rounds = true components
    on the support>=2 co-purchase graph — holds iff more rounds change
    nothing."""
    import pyspark.sql.functions as F

    from cognitive_score_bigdata_spark.io import load_table
    from cognitive_score_bigdata_spark.operators.graph import (
        minlabel_components,
    )
    from tests.conftest import SF_DIR

    li = (
        load_table(spark, SF_DIR, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("src", "dst")
    )
    eight = minlabel_components(edges, 8).toPandas()
    twelve = minlabel_components(edges, 12).toPandas()
    m8 = dict(zip(eight.node, eight.lab))
    m12 = dict(zip(twelve.node, twelve.lab))
    assert m8 == m12


# --- bucketed-edge iteration mode (the >2M-node layout) ---------------------


def _random_sym_pairs(seed=11, n_nodes=24, n_edges=40):
    import random

    rng = random.Random(seed)
    pairs = {
        tuple(sorted(rng.sample(range(n_nodes), 2))) for _ in range(n_edges)
    }
    return sorted(pairs)


def test_pagerank_bucketed_mode_identical_ranks(spark):
    """edge_buckets changes the physical layout only: ranks must be
    bit-identical to the broadcast mode on the same graph."""
    pairs = _symmetrize(_random_sym_pairs())
    e = _edges_df(spark, pairs)
    base = {
        r["node"]: r["rank_micro"]
        for r in pagerank_fixed_point(e, n_iters=4).collect()
    }
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank_fixed_point(e, n_iters=4, edge_buckets=4).collect()
    }
    assert got == base and len(base) > 0


def test_minlabel_bucketed_mode_identical_labels(spark):
    from cognitive_score_bigdata_spark.operators.graph import (
        minlabel_components,
    )

    pairs = _random_sym_pairs(seed=5)
    e = _edges_df(spark, pairs)
    base = {
        r["node"]: r["lab"]
        for r in minlabel_components(e, n_iters=6).collect()
    }
    got = {
        r["node"]: r["lab"]
        for r in minlabel_components(e, n_iters=6, edge_buckets=4).collect()
    }
    assert got == base and len(base) > 0


def test_sssp_bucketed_mode_identical_dists(spark):
    import pyspark.sql.functions as F

    from cognitive_score_bigdata_spark.operators.graph import (
        sssp_fixed_rounds,
    )

    pairs = _symmetrize(_random_sym_pairs(seed=3))
    es = _edges_df(spark, pairs).withColumn(
        "w", (F.col("src") % 3 + F.col("dst") % 5 + 1).cast("bigint")
    )
    base = {
        r["node"]: r["dist"] for r in sssp_fixed_rounds(es, 5).collect()
    }
    got = {
        r["node"]: r["dist"]
        for r in sssp_fixed_rounds(es, 5, edge_buckets=4).collect()
    }
    assert got == base and len(base) > 0


def _brute_bellman_ford(wedges, n_rounds):
    """Fixed-round Bellman-Ford from the minimum source: the nodes
    reached within ``n_rounds`` hops, each with its shortest distance
    over paths of at most ``n_rounds`` edges."""
    dist = {min(u for u, _, _ in wedges): 0}
    for _ in range(n_rounds):
        nxt = dict(dist)
        for u, v, w in wedges:
            if u in dist:
                nxt[v] = min(nxt.get(v, dist[u] + w), dist[u] + w)
        dist = nxt
    return dist


@pytest.mark.parametrize("n_rounds", [2, 12])
def test_sssp_matches_brute_force_bellman_ford(spark, n_rounds, min_path):
    """SSSP against a pure-Python Bellman-Ford on the weighted graph of
    test_sssp_bucketed_mode_identical_dists, on both the local and the
    broadcast path: at 2 rounds some nodes are still unreached, at 12
    the distances have converged."""
    from cognitive_score_bigdata_spark.operators.graph import (
        sssp_fixed_rounds,
    )

    pairs = _symmetrize(_random_sym_pairs(seed=3))
    wedges = [(u, v, u % 3 + v % 5 + 1) for u, v in pairs]
    want = _brute_bellman_ford(wedges, n_rounds)
    converged = _brute_bellman_ford(wedges, n_rounds + 1)
    reachable = _brute_bellman_ford(wedges, len(pairs))
    if n_rounds == 2:
        assert len(want) < len(reachable)
    else:
        assert want == converged == reachable
    es = spark.createDataFrame(wedges, "src long, dst long, w long")
    got = {
        r["node"]: r["dist"]
        for r in sssp_fixed_rounds(es, n_rounds).collect()
    }
    assert got == want


def _min_graphs():
    """(edges, seed, n_iters) triples for the cross-path test."""
    import random

    rng = random.Random(17)
    # directed, weighted; nodes 20-24 are only ever a dst, and the seed
    # holds two nodes with different starting values plus node 99, which
    # has no edge and so drops out after the first round
    directed = sorted(
        {
            (rng.randrange(15), rng.randrange(25), rng.randrange(1, 9))
            for _ in range(60)
        }
    )
    yield directed, [(0, 5), (7, 0), (99, 1)], 4
    # unweighted min-label seeded in one of two components: the other
    # component is never reached
    pairs = _symmetrize(_random_sym_pairs(seed=9, n_nodes=12, n_edges=14))
    pairs += _symmetrize([(100 + i, 101 + i) for i in range(6)])
    yield pairs, [(n, n) for n in range(12)], 5
    # a weighted path longer than the round count
    yield [(i, i + 1, i % 4 + 1) for i in range(14)], [(0, 0)], 6


@pytest.mark.parametrize("case", range(3))
def test_min_propagate_paths_match_bucketed(spark, min_path, case):
    """The three plans of min_propagate return the same state: the local
    driver loop and the broadcast loop each equal the bucketed loop."""
    from cognitive_score_bigdata_spark.operators.graph import (
        min_propagate,
        self_looped_edges,
    )

    edges, seed, n = list(_min_graphs())[case]
    if len(edges[0]) == 3:
        e = spark.createDataFrame(edges, "src long, dst long, w long")
    else:
        e = _edges_df(spark, edges)
    init = spark.createDataFrame(seed, "node long, val long")

    def run(buckets=None):
        out = min_propagate(self_looped_edges(e, buckets), init, n, buckets)
        assert out.columns == ["node", "val"]
        return {r.node: r.val for r in out.collect()}

    got = run()
    assert got == run(4)
    nodes = {x for ed in edges for x in ed[:2]}
    if case == 0:
        assert got.keys() & set(range(20, 25))  # a dst-only node
        assert 99 not in got
    elif case == 1:
        assert not got.keys() & set(range(100, 107))
    else:
        assert got.keys() == set(range(n + 1)) < nodes


def test_min_propagate_overflow_raises(spark, min_path):
    """A distance plus a weight past BIGINT raises on both paths, as
    Spark's ANSI arithmetic does; it never wraps to a small minimum."""
    from pyspark.errors import ArithmeticException

    from cognitive_score_bigdata_spark.operators.graph import sssp_fixed_rounds

    big = 2**62
    es = spark.createDataFrame(
        [(0, 1, big), (1, 2, big), (2, 3, 1)], "src long, dst long, w long"
    )
    assert {r.node: r.dist for r in sssp_fixed_rounds(es, 1).collect()} == {
        0: 0,
        1: big,
    }
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        sssp_fixed_rounds(es, 2).collect()


def test_collect_if_small_counts_in_one_job(spark, tmp_path):
    """The gate's size check is one job over the frame's own plan (not
    the two a global-aggregate count takes under adaptive execution), and
    the collect is one more: two jobs on a scan frame."""
    from tests.conftest import jobs_started

    path = str(tmp_path / "edges")
    spark.range(500).selectExpr("id AS src", "id + 1 AS dst").write.parquet(path)
    edges = spark.read.parquet(path)
    with jobs_started(spark) as started:
        table = graph.collect_if_small(edges)
    assert table.num_rows == 500
    assert started == [2]


def test_skyline_matches_bruteforce(spark):
    """Skyline sweep vs brute-force dominance on a small set with ties
    on each coordinate and full-duplicate points (both must survive)."""
    import pyspark.sql.functions as F

    from cognitive_score_bigdata_spark.queries import load_registry

    pts = [
        (1, 10.0, 5), (2, 10.0, 5),   # duplicates: both survive
        (3, 10.0, 4),                  # dominated by 1/2 (same price)
        (4, 9.0, 3),                   # cheaper, smaller: survives
        (5, 12.0, 9), (6, 12.0, 9),
        (7, 11.0, 9),                  # dominates 5/6 (cheaper, same size)
        (8, 13.0, 8),                  # dominated by 5-7
        (9, 8.0, 1),
    ]
    df = spark.createDataFrame(
        pts, "p_partkey long, p_retailprice double, p_size int"
    )
    brute = {
        pk
        for pk, pr, sz in pts
        if not any(
            (qr <= pr and qs >= sz and (qr < pr or qs > sz))
            for _, qr, qs in pts
        )
    }
    import tempfile, os

    d = tempfile.mkdtemp(prefix="csb_sky_")
    df.write.parquet(os.path.join(d, "part.parquet"))
    got = {
        r["part_key"]
        for r in load_registry()["analytics_skyline_parts"]
        .fn(spark, d)
        .collect()
    }
    assert got == brute == {1, 2, 4, 7, 9}


def test_bucketize_edges_lifecycle_bounded_and_pin(spark):
    """bucketize_edges must not grow catalog/disk without bound
    (ADVICE r5): ad-hoc tables are LRU-dropped past _ADHOC_KEEP
    (catalog entry gone, temp dir gone), pinned tables survive.

    Order-independent (ADVICE r6): tables pinned by EARLIER tests in
    this Spark session (e.g. round5's graph_pagerank_bucketed artifact)
    are snapshotted before the test and excluded from the dropped scan,
    instead of exempting only the last pinned entry."""
    import os

    from cognitive_score_bigdata_spark.operators import graph as G

    pre_existing = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("csb_bkt_edges_")
    }
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    pinned = G.bucketize_edges(edges, "src", 2, pin=True)
    adhoc_names = []
    for _ in range(G._ADHOC_KEEP + 2):
        G.bucketize_edges(edges, "src", 2)
        adhoc_names = list(G._BKT_STATE["adhoc"])
    assert len(adhoc_names) == G._ADHOC_KEEP  # LRU bound holds
    live = {t.name for t in spark.catalog.listTables()}
    # pinned table still queryable, still in the catalog
    pin_name, pin_dir = G._BKT_STATE["pinned"][-1]
    all_pinned = {n for n, _d in G._BKT_STATE["pinned"]}
    assert pin_name in live and pinned.count() == 3
    assert os.path.isdir(pin_dir)
    # dropped ad-hoc tables are gone from the catalog (any pinned
    # table and any pre-test table is exempt, not just ours)
    dropped = [
        n
        for n in live
        if n.startswith("csb_bkt_edges_") and n not in adhoc_names
        and n not in all_pinned and n not in pre_existing
    ]
    assert not dropped


def test_bucketize_edges_live_scan_survives_eviction(spark):
    """ADVICE r6: a HELD ad-hoc scan must stay readable past the LRU
    bound — eviction skips entries whose returned DataFrame is still
    reachable (weakref gate), up to the _ADHOC_HARD backstop."""
    from cognitive_score_bigdata_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    held = G.bucketize_edges(edges, "src", 2)  # keep the scan alive
    for _ in range(G._ADHOC_KEEP + 3):
        G.bucketize_edges(edges, "src", 2)  # unreferenced -> evictable
    # the held scan's table was NOT dropped: executing it still works
    assert held.count() == 3
    # and the unreferenced churn still kept the state bounded
    assert len(G._BKT_STATE["adhoc"]) <= G._ADHOC_KEEP + 1


def test_bucketize_edges_backstop_prefers_dead_entries(spark):
    """ADVICE r7: past the _ADHOC_HARD backstop, eviction must drop
    DEAD (unreachable) entries first and touch a live one only if the
    count still exceeds the bound — the old single pass dropped the
    oldest entry even when live while younger dead entries existed,
    giving the holder a FileNotFoundException."""
    import gc

    from cognitive_score_bigdata_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    held = G.bucketize_edges(edges, "src", 2)  # OLDEST entry, kept live
    # fill to exactly the backstop with live entries (no eviction yet)
    live = [
        G.bucketize_edges(edges, "src", 2)
        for _ in range(G._ADHOC_HARD - 1)
    ]
    # kill the YOUNGEST few references -> dead entries behind `held`
    del live[-5:]
    gc.collect()
    # next call pushes the count past _ADHOC_HARD and runs eviction:
    # the dead entries must absorb it, not the live oldest
    live.append(G.bucketize_edges(edges, "src", 2))
    assert held.count() == 3  # oldest live scan still readable
    assert len(G._BKT_STATE["adhoc"]) <= G._ADHOC_HARD
    for df in live:
        assert df.count() == 3  # no live entry was sacrificed
