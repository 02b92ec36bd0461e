"""Distributed graph operators: fixed-point PageRank, the min
fixpoints (connected components, shortest paths), triangle counting.

DataFrame-level APIs over an edge list (``src``, ``dst``) so the
algorithms are testable on synthetic graphs with known closed-form
answers (K4, paths, stars — see ``tests/test_graph_ops.py``) and
reusable beyond the co-purchase queries in ``queries/graphs.py``.

Design notes:

- **Exact integer arithmetic.** PageRank ranks are BIGINT micro-units
  with ×17 integer-div 20·outdeg damping; the min fixpoints take MINs
  of integer labels and sums of integer weights; triangle counting is
  pure counting. No floats anywhere, so results are bit-identical
  across engines, partitionings, and scale factors — which is what
  lets the registry queries carry real DuckDB oracles for algorithms
  that are usually "approximately reproducible" at best.
- **One min loop.** :func:`min_propagate` is the only min fixpoint:
  :func:`minlabel_components` and :func:`sssp_fixed_rounds` only build
  its self-looped edge table (:func:`self_looped_edges`) and its seed.
  PageRank keeps its own loop — a sum over every in-edge, where every
  vertex changes every round.
- **Plan by size** (Pregelix's choice of physical plan from the data
  size). A min fixpoint whose edge table fits ``LOCAL_FINISH_BYTES``
  runs its rounds on the driver: a count and an Arrow collect of the
  edges (:func:`collect_if_small`), an Arrow collect of the seed, a
  numpy loop and one ``createDataFrame`` — instead of one Spark round
  trip per round. Above the budget the fixpoints broadcast the |V|-row
  state (ranks, labels, distances) into the edge list — edges never
  shuffle inside the loop, only the dst-keyed aggregate does. PageRank
  always takes the distributed loop.
- **Skew posture.** Triangle counting uses degree orientation: ranking
  nodes by (degree, id) and directing every edge low→high bounds
  out-degree at O(√E), so a celebrity node generates zero wedges from
  its low side instead of deg² of them.
- **Beyond the broadcast ceiling** (SURVEY §9h: ≳2M nodes ≈ 32 MB rank
  table, where Catalyst flips the rank join to SMJ and every iteration
  would re-shuffle the 100 TB-scale EDGE list): every fixpoint here
  takes ``edge_buckets=N`` to switch to the bucketed-edge layout —
  the loop-invariant edge table is written ONCE with
  ``bucketBy(N, src).sortBy(src)`` (:func:`bucketize_edges`), so each
  iteration's state join reads the bucketed scan with NO edge-side
  Exchange and shuffles only the |V|-row rank/dist/label table into
  the bucket partitioning. Map-side partial aggregation keeps the
  aggregate's shuffle |V|-bounded per partition too, so total
  per-iteration shuffle volume is O(|V|·P), independent of |E|. AQE
  skew-split handles supernode buckets. Plan-pinned in
  ``tests/test_plans.py`` with broadcast disabled; cross-mode parity
  pinned in ``tests/test_graph_ops.py``.

The near-duplicate clustering in ``operators/dedup.py`` is the
data-dependent counterpart: star contraction to a fixpoint, finished
by a driver-side union-find behind the same size gate.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile
import weakref

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.errors import ArithmeticException
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import IntegralType

PR_BASE = 150_000  # (1 - d) in micro-units, d = 0.85
PR_INIT = 1_000_000

# Driver budget of a local finish, at 8 bytes a column (every gated
# table is integral): 32 MiB is ~2M two-column edges, Spark's broadcast
# ceiling for the same tables.
LOCAL_FINISH_BYTES = 32 * 1024 * 1024


def count_rows(df: DataFrame) -> int:
    """``df``'s row count, as one Spark job over ``df``'s own physical
    plan. ``DataFrame.count()`` plans a global aggregate instead, which
    adaptive execution runs as two jobs (a partial aggregate, then a
    one-partition shuffle)."""
    return df._jdf.queryExecution().toRdd().count()


def collect_if_small(df: DataFrame, rows: int | None = None) -> pa.Table | None:
    """``df`` collected through Arrow when its rows take less than
    ``LOCAL_FINISH_BYTES``, else ``None`` (the caller's distributed path).

    ``rows`` is an upper bound on ``df``'s row count the caller already
    has; without it the rows are counted here (:func:`count_rows`), so
    the size check and the collect are two Spark jobs, and the collect
    reuses the plan, with any shuffle output, that the count ran. The
    budget is read at call time: at 0 every caller takes its
    distributed path."""
    if rows is None:
        rows = count_rows(df)
    if rows * 8 * len(df.columns) >= LOCAL_FINISH_BYTES:
        return None
    return df.toArrow()


_BUCKET_SEQ = itertools.count()

# Bookkeeping for tables bucketize_edges created, so repeated calls
# don't grow catalog + disk without bound: {"app": applicationId,
# "adhoc": OrderedDict(name -> (dir, weakref-to-scan)), "pinned":
# [(name, dir)]}. Ad-hoc tables (per-invocation fixpoint internals,
# consumed within the call) are LRU-bounded at _ADHOC_KEEP, but an
# entry whose returned scan DataFrame is still reachable (live
# weakref) is never evicted below the _ADHOC_HARD backstop — a caller
# holding the scan across many later bucketize_edges calls must not
# hit FileNotFoundException at execution time. Holding a DERIVED lazy
# plan without the scan object itself does not protect the files (the
# JVM plan does not keep the Python object alive) — such callers pass
# pin=True. Pinned tables live until the applicationId changes; on a
# new applicationId the old context's catalog entries died with it —
# only the temp dirs need removing.
_ADHOC_KEEP = 4
_ADHOC_HARD = 16
_BKT_STATE: dict = {"app": None, "adhoc": {}, "pinned": []}


def _drop_bucket_table(spark, name: str, path: str) -> None:
    try:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    except Exception:
        pass  # best-effort: session may already be stopped
    shutil.rmtree(path, ignore_errors=True)


def bucketize_edges(
    df: DataFrame, key: str = "src", n_buckets: int = 32, pin: bool = False
) -> DataFrame:
    """Materialize a loop-invariant edge table ONCE as a ``key``-bucketed,
    ``key``-sorted parquet table and return its re-read scan.

    The scan's output partitioning IS ``hashpartitioning(key,
    n_buckets)``, so an equi-join on ``key`` needs no Exchange on the
    edge side — the one-time bucket write replaces |iterations| edge
    shuffles. ``repartition(n, key)`` before the write yields one file
    per bucket, which lets the scan also report the sort order (multiple
    files per bucket would force a re-sort, though never a shuffle).

    Lifecycle: each call creates a fresh table; unpinned tables are
    dropped (catalog + temp dir) once more than ``_ADHOC_KEEP`` newer
    ones exist — callers consume the scan within the invocation, so the
    LRU margin is generous. Eviction is weakref-gated: an entry whose
    returned scan object is still reachable survives past the LRU bound
    (up to the ``_ADHOC_HARD`` backstop), so holding the scan keeps its
    files alive. Holding only a DERIVED lazy plan does not — the JVM
    plan doesn't keep the Python scan alive — so callers building
    multi-query lazy plans across invocations pass ``pin=True``
    (session-scoped build artifacts); pinned tables are cleaned only
    when a new applicationId appears. The write uses
    ``mode("overwrite")`` so a stale same-name metastore entry (pid
    reuse + counter reset against a persistent warehouse) can never
    fail the build.
    """
    spark = df.sparkSession
    app = spark.sparkContext.applicationId
    st = _BKT_STATE
    if st["app"] != app:
        # prior context's catalog is gone; reclaim its temp dirs
        for _n, entry in list(st["adhoc"].items()) + st["pinned"]:
            path = entry[0] if isinstance(entry, tuple) else entry
            shutil.rmtree(path, ignore_errors=True)
        st["adhoc"].clear()
        st["pinned"] = []
        st["app"] = app
    name = f"csb_bkt_edges_{os.getpid()}_{next(_BUCKET_SEQ)}"
    base = tempfile.mkdtemp(prefix="csb_graph_bkt_")
    (
        df.repartition(n_buckets, F.col(key))
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", f"{base}/{name}")
        .saveAsTable(name)
    )
    scan = spark.table(name)
    if pin:
        st["pinned"].append((name, base))
    else:
        st["adhoc"][name] = (base, weakref.ref(scan))
        if len(st["adhoc"]) > _ADHOC_KEEP:
            # oldest-first: drop unreachable scans down to the LRU
            # bound; live scans survive to the _ADHOC_HARD backstop.
            # Dead entries go first even past the backstop — a live
            # scan is dropped only when evicting every dead entry
            # still leaves the count above _ADHOC_HARD (ADVICE r7: the
            # old single pass could drop a live oldest entry while
            # younger dead entries existed).
            for old in list(st["adhoc"]):
                if len(st["adhoc"]) <= _ADHOC_KEEP:
                    break
                path, ref = st["adhoc"][old]
                if ref() is None:
                    del st["adhoc"][old]
                    _drop_bucket_table(spark, old, path)
            for old in list(st["adhoc"]):
                if len(st["adhoc"]) <= _ADHOC_HARD:
                    break
                path, ref = st["adhoc"][old]
                del st["adhoc"][old]
                _drop_bucket_table(spark, old, path)
    return scan


def fold_pagerank_edges(
    edges: DataFrame, weight_col: str | None = None
) -> DataFrame:
    """(src, dst, __w, d): edge list with weight and out-degree folded
    in — the loop-invariant table every PageRank iteration joins. A
    per-graph build artifact: callers running the fixpoint repeatedly
    (or in bucketed mode) should materialize/bucket it once and pass it
    back via ``prepared=True``."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    e = edges.select("src", "dst", w.cast("bigint").alias("__w"))
    deg = e.groupBy("src").agg(F.sum("__w").alias("d"))
    return e.join(deg, "src")


def pagerank_fixed_point(
    edges: DataFrame,
    n_iters: int = 5,
    weight_col: str | None = None,
    edge_buckets: int | None = None,
    prepared: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list, exact BIGINT micro-units.

    ``edges`` needs columns ``src`` and ``dst``. Every node must have at
    least one out-edge (symmetrize beforehand if the graph is
    undirected; dangling nodes would otherwise leak rank mass).
    Returns (node, rank_micro) for every node with an in-edge.

    Unweighted: r_{t+1}(v) = 150000 + Σ (r_t(u) * 17) div (20 * outdeg(u)).
    With ``weight_col`` (integer edge weights), rank flows proportional
    to weight: contribution = (r * 17 * w) div (20 * wdeg(u)) where
    wdeg = Σ out-weights — still all-BIGINT, still bit-exact.

    ``edge_buckets=None`` (default): the rank vector broadcasts into the
    edge list each iteration — right while |V| fits the broadcast
    threshold (~2M nodes at 32 MB). ``edge_buckets=N``: the degree-folded
    edge table is bucketed on ``src`` once and each iteration sort-merge
    joins the rank table INTO the bucket partitioning — the >2M-node
    layout where only the |V|-row rank table moves per iteration.
    Identical results either way (mode changes the physical plan only).
    ``prepared=True``: ``edges`` is already the
    :func:`fold_pagerank_edges` output (and already bucketed when
    ``edge_buckets`` is set) — the session-cached-artifact path, so
    repeated fixpoints skip the fold/bucket build.
    """
    if prepared:
        # caller supplies the fold_pagerank_edges output (bucketed when
        # edge_buckets is set) — the session-cached-artifact path
        ed = edges
    else:
        ed = fold_pagerank_edges(edges, weight_col)
        if edge_buckets is None:
            ed = ed.localCheckpoint(eager=False)
        else:
            ed = bucketize_edges(ed, "src", edge_buckets)

    # seed ranks from the folded table: distinct(src). In bucketed mode
    # the distinct rides the bucket partitioning — zero-exchange
    ranks = (
        ed.select("src")
        .distinct()
        .select(
            F.col("src").alias("node"),
            F.lit(PR_INIT).cast("bigint").alias("rank_micro"),
        )
    )
    for _ in range(n_iters):
        rank_side = F.broadcast(ranks) if edge_buckets is None else ranks
        contrib = ed.join(rank_side, ranks.node == ed.src).select(
            F.col("dst"),
            F.expr("(rank_micro * 17 * __w) div (20 * d)").alias("c"),
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(
                (F.lit(PR_BASE) + F.sum("c"))
                .cast("bigint")
                .alias("rank_micro")
            )
            .select(F.col("dst").alias("node"), "rank_micro")
        )
    return ranks


def _orient(edges: DataFrame):
    """Degree-oriented edge list: returns (e, deg, rk, oe) where oe has
    (lo, hi) vertex RANKS with rank(lo) < rank(hi), rank = row_number
    over (degree, id). The V-sized global window touches one row per
    vertex, never the edges."""
    e = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    rk = deg.select(
        "node",
        F.row_number()
        .over(Window.orderBy("d", "node"))
        .cast("bigint")
        .alias("r"),
    )
    ru = rk.select(F.col("node").alias("u"), F.col("r").alias("ru"))
    rv = rk.select(F.col("node").alias("v"), F.col("r").alias("rv"))
    oe = (
        e.join(F.broadcast(ru), "u")
        .join(F.broadcast(rv), "v")
        .select(
            F.least("ru", "rv").alias("lo"),
            F.greatest("ru", "rv").alias("hi"),
        )
        .localCheckpoint(eager=False)  # reused: adjacency build + probe
    )
    return e, deg, rk, oe


def triangle_count(
    edges: DataFrame | None = None, oriented: tuple | None = None
) -> DataFrame:
    """Global triangle count via degree orientation; 1-row DataFrame.

    ``edges`` needs columns ``src``/``dst`` holding each undirected edge
    exactly once (either direction). Returns (n_vertices, n_edges,
    n_triangles), all BIGINT. ``oriented``: a prebuilt
    :func:`_orient` tuple — the orientation is a per-graph build
    artifact (one global vertex window + one edge relabel join) that
    callers running several triangle-family queries on the same graph
    should build once and share (session-cached in the copurchase
    queries; ~1.5 s per avoided rebuild at sf0.1).
    """
    if (edges is None) == (oriented is None):
        raise ValueError("pass exactly one of edges / oriented")
    e, deg, rk, oe = oriented if oriented is not None else _orient(edges)
    # Edge-iterator with sorted out-adjacency arrays: each edge (lo,hi)
    # contributes |N+(lo) ∩ N+(hi)| triangles. 5x faster than the
    # explicit wedge join at sf0.1 (2.5 s vs 12 s, same count): the
    # Σ out_deg² wedge relation is never materialized or shuffled — the
    # intersection runs JVM-side per edge row. The orientation is what
    # makes the arrays safe to collect: out-degree is bounded by
    # O(sqrt E), so an adjacency array tops out around sqrt(2E) entries
    # even for a celebrity node (its low side keeps almost nothing).
    # no sort_array: array_intersect hashes the first array regardless
    # of order, so sorting buys nothing and costs O(d log d) per node
    # (measured 1.61 -> 1.49 s on the global count at sf0.1)
    adj = oe.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))
    al = adj.select("lo", F.col("nbrs").alias("nl"))
    ah = adj.select(F.col("lo").alias("hi"), F.col("nbrs").alias("nh"))
    # inner joins drop hi-nodes with no out-edges — their intersection
    # would be empty, so dropping the row leaves the count unchanged
    tri = (
        oe.join(al, "lo")
        .join(ah, "hi")
        .select(F.size(F.array_intersect("nl", "nh")).alias("c"))
        .groupBy()
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n"))
    )
    counts = e.groupBy().agg(F.count(F.lit(1)).alias("n_edges"))
    verts = rk.groupBy().agg(F.count(F.lit(1)).alias("n_vertices"))
    return (
        verts.crossJoin(counts)
        .crossJoin(tri)
        .select(
            F.col("n_vertices").cast("bigint").alias("n_vertices"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n").cast("bigint").alias("n_triangles"),
        )
    )


def min_propagate(
    edges: DataFrame,
    init: DataFrame,
    n_iters: int,
    edge_buckets: int | None = None,
) -> DataFrame:
    """Recursive min-aggregate over a fixed number of rounds: the one
    loop behind :func:`minlabel_components` and
    :func:`sssp_fixed_rounds` (RaSQL's recursive MIN; Pregel's
    message-then-min round).

    ``init`` is the seed state ``(node, <value>)``, at most one row per
    ``src`` node (every node, or the one source). Each round joins the
    state into ``edges`` on ``src`` and takes, per ``dst``, the MIN of
    the source's value, plus the edge's ``w`` when ``edges`` carries a
    ``w`` column. ``edges`` is the :func:`self_looped_edges` table, so
    every node's own value takes part in its min and a value never gets
    worse; a node no path reaches within ``n_iters`` hops is absent.
    Returns the state after ``n_iters`` rounds, with ``init``'s columns.
    A sum of ``w`` past the value type raises ``ArithmeticException``,
    as Spark's ANSI arithmetic does.

    Three plans, one result. When every column shares one integral type
    and the edge table fits ``LOCAL_FINISH_BYTES`` (:func:`collect_if_small`;
    the seed is no larger), the rounds run on the driver as a numpy
    loop (:func:`_min_propagate_local`) and the state comes back through
    ``createDataFrame``. Otherwise, per round the |V|-row state is
    broadcast into the edge table and one min-aggregate shuffles on
    ``dst``; edges never move. The state is read once per round, so the
    unrolled plan grows linearly, not 2^k-fold. ``edge_buckets=N``
    (``edges`` then being the bucketed scan) always runs distributed:
    the state sort-merge joins INTO the bucket partitioning — the
    >2M-node layout, see :func:`pagerank_fixed_point`.
    """
    val = init.columns[1]
    weighted = "w" in edges.columns
    cols = ["src", "dst", "w"] if weighted else ["src", "dst"]
    types = {edges.schema[c].dataType for c in cols} | {
        f.dataType for f in init.schema.fields
    }
    if (
        edge_buckets is None
        and n_iters > 0
        and len(types) == 1
        and isinstance(types.pop(), IntegralType)
    ):
        e = collect_if_small(edges.select(cols))
        # at most one seed row per src: the edge count bounds the seed
        s = None if e is None else init.toArrow()
        if s is not None and not any(c.null_count for c in e.columns + s.columns):
            return _min_propagate_local(init, e, s, n_iters)
    msg = F.col(val) + F.col("w") if weighted else F.col(val)
    state = init
    for _ in range(n_iters):
        side = F.broadcast(state) if edge_buckets is None else state
        state = (
            edges.join(side, state.node == edges.src)
            .groupBy("dst")
            .agg(F.min(msg).alias(val))
            .select(F.col("dst").alias("node"), val)
        )
    return state


def _min_propagate_local(
    init: DataFrame, e: pa.Table, s: pa.Table, n_iters: int
) -> DataFrame:
    """:func:`min_propagate`'s rounds over the collected edge table ``e``
    and seed ``s``: per round, the edges whose ``src`` holds a value send
    it (plus ``w``) to ``dst``, and each reached ``dst`` keeps the MIN.
    A boolean mask, not a sentinel value, says which nodes hold one."""
    src, dst, node, v = (
        c.to_numpy() for c in (e["src"], e["dst"], s.column(0), s.column(1))
    )
    w = e["w"].to_numpy() if "w" in e.column_names else None
    ids = np.unique(np.concatenate([src, dst, node]))
    src, dst, node = (np.searchsorted(ids, a) for a in (src, dst, node))
    top = np.iinfo(v.dtype).max
    have = np.zeros(len(ids), bool)
    have[node] = True
    cur = np.full(len(ids), top, v.dtype)
    np.minimum.at(cur, node, v)
    for _ in range(n_iters):
        live = have[src]
        msg = cur[src[live]]
        if w is not None:
            wl = w[live]
            tot = msg + wl  # wraps on overflow; caught below
            if ((msg ^ tot) & (wl ^ tot) < 0).any():
                raise ArithmeticException(
                    message="[ARITHMETIC_OVERFLOW] integer overflow in "
                    "min_propagate: a distance plus an edge weight "
                    "exceeds the value type"
                )
            msg = tot
        reached = dst[live]
        cur = np.full(len(ids), top, v.dtype)
        np.minimum.at(cur, reached, msg)
        have = np.zeros(len(ids), bool)
        have[reached] = True
    out = pa.table([ids[have], cur[have]], names=init.columns)
    return init.sparkSession.createDataFrame(out, init.schema)


def self_looped_edges(
    edges: DataFrame, edge_buckets: int | None = None
) -> DataFrame:
    """The loop-invariant table of :func:`min_propagate`: ``edges`` plus
    one self-loop per ``src`` node, of weight 0 when ``edges`` has a
    ``w`` column — the loop that keeps a node's current value in its
    min. Checkpointed lazily for the broadcast join; with
    ``edge_buckets=N``, written once bucketed on ``src``
    (:func:`bucketize_edges`)."""
    loops = edges.select("src").distinct().select(
        "src", F.col("src").alias("dst")
    )
    if "w" in edges.columns:
        zero = F.lit(0).cast(edges.schema["w"].dataType)
        loops = loops.withColumn("w", zero)
    looped = edges.unionAll(loops)
    if edge_buckets is None:
        return looped.localCheckpoint(eager=False)
    return bucketize_edges(looped, "src", edge_buckets)


def minlabel_components(
    edges: DataFrame,
    n_iters: int = 8,
    edge_buckets: int | None = None,
) -> DataFrame:
    """Connected components by min-label propagation, fixed iterations.

    ``edges`` needs ``src``/``dst`` with each undirected edge in ONE
    direction; symmetrization and self-loops are added here. Every node
    starts labeled with its own id; each round every node takes the
    minimum label among itself and its neighbors (:func:`min_propagate`).
    After ``n_iters`` rounds a node's label is the minimum node id
    within ``n_iters`` hops, so the result equals true connected
    components once ``n_iters`` reaches the label-propagation diameter
    (distance from each node to its component's minimum). Unlike the
    star-contraction operator in ``operators/dedup.py`` (O(log d)
    rounds, data-dependent), the fixed iteration count makes the output
    a pure function of the input — which is what lets the registry
    query carry an exact DuckDB oracle for a graph algorithm.
    Returns (node, lab).
    """
    e = edges.select("src", "dst")
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    withself = self_looped_edges(sym, edge_buckets)
    # self-loops make every node a src; on a bucketed scan the distinct
    # rides the bucket partitioning — zero-exchange
    labels = withself.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("lab")
    )
    return min_propagate(withself, labels, n_iters, edge_buckets)


def sssp_fixed_rounds(
    es: DataFrame,
    n_iters: int = 6,
    edge_buckets: int | None = None,
) -> DataFrame:
    """Bellman-Ford min-plus relaxation from ``min(src)``, fixed rounds.

    ``es`` needs ``src``/``dst``/``w`` (BIGINT weights, each directed
    edge once — symmetrize beforehand for undirected graphs). Returns
    (node, dist) for every node reached within ``n_iters`` hops; with
    integer weights and a fixed round count the output is a pure
    function of the input (exactly oracle-able, like
    :func:`minlabel_components`). The rounds are :func:`min_propagate`'s:
    a weight-0 self-loop on every node keeps its old distance, so no
    keep-old union is needed.
    """
    es = self_looped_edges(es.select("src", "dst", "w"), edge_buckets)
    dist = es.groupBy().agg(F.min("src").alias("node")).select(
        "node", F.lit(0).cast("bigint").alias("dist")
    )
    return min_propagate(es, dist, n_iters, edge_buckets)


def local_triangle_counts(
    edges: DataFrame | None = None, oriented: tuple | None = None
) -> DataFrame:
    """Per-node triangle participation: (node, n_triangles, degree).

    Same oriented edge-iterator as :func:`triangle_count`, but instead
    of counting intersections it EXPLODES them: each common neighbor w
    of oriented edge (lo, hi) witnesses triangle {lo, hi, w}, and all
    three corners get credit. Output volume is 3x the triangle count —
    linear in the answer, still no wedge relation materialized. Nodes
    in no triangle are absent (join back to ``deg`` for zeros).
    ``oriented``: prebuilt :func:`_orient` tuple (see
    :func:`triangle_count`).
    """
    if (edges is None) == (oriented is None):
        raise ValueError("pass exactly one of edges / oriented")
    _, deg, rk, oe = oriented if oriented is not None else _orient(edges)
    # no sort_array: array_intersect hashes the first array regardless
    # of order, so sorting buys nothing and costs O(d log d) per node
    # (measured 1.61 -> 1.49 s on the global count at sf0.1)
    adj = oe.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))
    al = adj.select("lo", F.col("nbrs").alias("nl"))
    ah = adj.select(F.col("lo").alias("hi"), F.col("nbrs").alias("nh"))
    tri = (
        oe.join(al, "lo")
        .join(ah, "hi")
        .select(
            "lo", "hi", F.explode(F.array_intersect("nl", "nh")).alias("w")
        )
    )
    # one explode of (lo, hi, w) per triangle — NOT a 3-way unionAll of
    # projections, whose branches each recompute the intersect join
    # (measured: the union formulation was the one superlinear row in
    # the scale sweep, 1.19 slope at 8x; single-pass explode fixed it)
    credit = (
        tri.select(
            F.explode(F.array(F.col("lo"), F.col("hi"), F.col("w"))).alias(
                "r"
            )
        )
        .groupBy("r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        credit.join(F.broadcast(rk), rk.r == credit.r)
        .join(F.broadcast(deg), "node")
        .select("node", "n_triangles", F.col("d").cast("bigint").alias("degree"))
    )
