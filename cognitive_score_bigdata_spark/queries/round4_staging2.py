"""Round-4 staging, part 2: co-location, scan, sampling, and
time-series patterns.

Built in round 3 after that round's driver window froze; the round-4
driver window fronted them. Every query here is oracle-checked. In
round 16 the module was split by domain (VERDICT r15 item 7) — the
graph family moved to ``queries/graphs.py``, the md5 minhash/simhash
pair generators to ``queries/dedup_md5.py``, the md5 sketches to
``queries/sketches_md5.py``, the statistical/event profiles to
``queries/stats_events.py``, and the text similarity joins to
``queries/textjoins.py`` — registry keys unchanged throughout.

Still here (each with its own doc= blurb):

- ``join_bucketed_colocated`` — the brief's "bucketing for co-located
  joins" pattern as a first-class query: both join sides are
  materialized as bucketed+sorted tables on the join key, so the
  sort-merge join runs with NO Exchange on either side (pinned in
  ``tests/test_plans.py``). At 100 TB this is THE way to make a
  repeatedly-joined fact/detail pair cheap: pay the bucket shuffle once
  at write time, never at query time.
- ``sample_weighted_systematic`` — weighted sampling by systematic
  (cumulative-weight stride) selection: exact integer prefix sums, so
  the selected set is deterministic and oracle-checkable — unlike
  u^(1/w) priority sampling, which needs pow/ln and dies on cross-engine
  ulp differences. Single global sort here; the two-pass distributed
  prefix sum in ``operators/sharding.py`` is the 100 TB path for the
  same cumsum.
- ``corpus_overlap_chunks`` — sliding-window sequence chunking with
  stride overlap (context-length prep for LLM training): tokens →
  integer chunk-start sequence → posexplode → slice/join. Expression
  only; narrow (no shuffle at all — pinned).
- ``scan_dpp_partitioned_join`` (dynamic partition pruning over a
  month-partitioned lake), ``market_basket_pairs`` (association
  pairs with integer-micro confidence/lift), ``join_interval_overlap``
  (hour-grid-binned interval join), ``window_trailing_30d_range``
  (time-RANGE window frame), ``agg_bucketed_no_shuffle``,
  ``timeseries_twap_per_user`` / ``timeseries_ohlc_hourly`` /
  ``timeseries_max_drawdown``, and the ALL-variant set ops.

Reference parity note: the reference (an AWS scoring stack,
`/root/reference/src/backend/main.py`) has none of these; this module
belongs to the brief's LLM-pipeline / scale-pattern extension surface.
"""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cognitive_score_bigdata_spark.io import load_table
from cognitive_score_bigdata_spark.queries import register
from cognitive_score_bigdata_spark.queries.graphs import copurchase_pairs
from cognitive_score_bigdata_spark.session_cache import session_scoped
from cognitive_score_bigdata_spark.queries._helpers import dsum, sql_dsum

# ---------------------------------------------------------------------------
# join_bucketed_colocated
# ---------------------------------------------------------------------------

N_BUCKETS = 8

# Bucketed-table materialization is keyed per (session, sf_dir): pay the
# one-time bucket shuffle once, reuse across calls — the same
# write-once/join-many economics the pattern has in production.
_BUCKET_CACHE: dict[tuple, tuple[str, str]] = {}


def bucketed_pair(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """orders + lineitem as bucketed/sorted tables on the order key.

    ``bucketBy(N, key).sortBy(key)`` + ``saveAsTable`` (external, temp
    path) is Spark's co-location primitive: both tables hash-partition
    rows into the same N buckets at WRITE time, so an equi-join on the
    key needs no Exchange at READ time — the sort-merge join zips
    bucket i with bucket i. ``tests/test_plans.py`` pins the
    no-Exchange property.
    """
    def build() -> tuple[str, str]:
        tag = f"{abs(hash((spark.sparkContext.applicationId, sf_dir))) % 10**8:08d}"
        names = (f"csb_bkt_orders_{tag}", f"csb_bkt_lineitem_{tag}")
        base = tempfile.mkdtemp(prefix="csb_bucketed_")
        for name, table, key_col in (
            (names[0], "orders", "o_orderkey"),
            (names[1], "lineitem", "l_orderkey"),
        ):
            (
                load_table(spark, sf_dir, table)
                .write.format("parquet")
                .bucketBy(N_BUCKETS, key_col)
                .sortBy(key_col)
                .option("path", f"{base}/{name}")
                .saveAsTable(name)
            )
        return names

    o, l = session_scoped(_BUCKET_CACHE, spark, (sf_dir,), build)
    return spark.table(o), spark.table(l)


@register(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderpriority
    """,
    doc="co-located join over bucketed tables: both sides written with "
    "bucketBy(8, orderkey).sortBy(orderkey), so the SMJ has no Exchange "
    "on either side (plan-pinned). Values identical to the plain join — "
    "bucketing changes the physical plan only. The one-time bucket "
    "write is session-cached, mirroring write-once/join-many economics",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = bucketed_pair(spark, sf_dir)
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
    )


# ---------------------------------------------------------------------------
# sample_weighted_systematic
# ---------------------------------------------------------------------------

N_SAMPLES = 50


@register(
    "sample_weighted_systematic",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, n_chars AS wt,
             SUM(n_chars) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n_chars) OVER () AS total
      FROM documents
    )
    SELECT doc_id, CAST(wt AS BIGINT) AS wt, CAST(cum AS BIGINT) AS cum
    FROM w
    WHERE cum // (total // {N_SAMPLES}) > (cum - wt) // (total // {N_SAMPLES})
    """,
    doc="systematic weighted sampling: row selected iff an integer "
    "multiple of step=total/K falls inside its cumulative-weight "
    "interval (cum-wt, cum]. Inclusion probability proportional to "
    "weight, zero randomness, all-BIGINT arithmetic — deterministic and "
    "exactly reproducible cross-engine, which u^(1/w) priority sampling "
    "(pow/ln) cannot promise at the top-k boundary. The ordered prefix "
    "sum is a single sort shuffle here; operators/sharding.py's "
    "two-pass distributed prefix sum is the same cumsum at 100 TB",
)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cognitive_score_bigdata_spark.operators.sharding import (
        systematic_weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("wt")
    )
    return systematic_weighted_sample(
        docs, weight_col="wt", order_col="doc_id", k=N_SAMPLES
    ).select("doc_id", F.col("wt").cast("bigint").alias("wt"), "cum")


# ---------------------------------------------------------------------------
# corpus_overlap_chunks
# ---------------------------------------------------------------------------

WIN = 8  # tokens per training sequence (small: testdata docs ~20 tokens)
STRIDE = 6  # overlap of WIN-STRIDE=2 tokens between neighbors


@register(
    "corpus_overlap_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
    ),
    spans AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_id,
             t[(u.i*{STRIDE}+1):(u.i*{STRIDE}+{WIN})] AS piece
      FROM toks,
           UNNEST(range(1 + (CASE WHEN len(t) > {WIN}
                                  THEN (len(t) - {WIN} + {STRIDE} - 1) // {STRIDE}
                                  ELSE 0 END))) AS u(i)
    )
    SELECT doc_id, chunk_id,
           CAST(len(piece) AS BIGINT) AS n_tokens,
           array_to_string(piece, ' ') AS chunk_text
    FROM spans
    """,
    doc="sliding-window sequence chunking (context-length prep for LLM "
    f"training): {WIN}-token windows at stride {STRIDE}, so neighbors "
    f"overlap by {WIN - STRIDE} tokens and no token is lost at chunk "
    "boundaries. Chunk count is pure integer arithmetic "
    "(1 + ceil((n-WIN)/STRIDE) via (x+S-1) div S), then "
    "sequence→posexplode→slice→array_join — expression-only and fully "
    "narrow: zero shuffles, scales embarrassingly. The stride-overlap "
    "shape is what sequence packing (corpus_pack_sequences) consumes "
    "upstream in a real pretraining pipeline",
)
def corpus_overlap_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " +")
    n = F.size(toks)
    n_chunks = F.lit(1) + F.when(
        n > WIN, F.expr(f"(size(split(text, ' +')) - {WIN} + {STRIDE - 1}) div {STRIDE}")
    ).otherwise(F.lit(0))
    return (
        docs.select(
            "doc_id",
            toks.alias("t"),
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")).alias("starts"),
        )
        .select(
            "doc_id", "t", F.explode("starts").alias("i")
        )
        .select(
            "doc_id",
            F.col("i").cast("bigint").alias("chunk_id"),
            F.slice(F.col("t"), F.col("i") * STRIDE + 1, WIN).alias("piece"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("piece").cast("bigint").alias("n_tokens"),
            F.array_join("piece", " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# scan_dpp_partitioned_join
# ---------------------------------------------------------------------------

JUMBO = 480_000  # o_totalprice threshold: keeps the dim month-set sparse

_PART_CACHE: dict[tuple, str] = {}


def partitioned_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem re-materialized as a ship-month-partitioned lake table.

    ``partitionBy("ship_month")`` is the other half of the lake-layout
    story next to :func:`bucketed_pair`: directory-level partitioning
    gives the scanner whole-partition skipping, and — the point of the
    query below — lets Catalyst inject a *dynamic* partition filter from
    the dimension side of a join at runtime.
    """
    def build() -> str:
        path = tempfile.mkdtemp(prefix="csb_dpp_") + "/lineitem"
        (
            load_table(spark, sf_dir, "lineitem")
            .withColumn(
                "ship_month", F.date_format("l_shipdate", "yyyy-MM")
            )
            .write.partitionBy("ship_month")
            .parquet(path)
        )
        return path

    return spark.read.parquet(
        session_scoped(_PART_CACHE, spark, (sf_dir,), build)
    )


@register(
    "scan_dpp_partitioned_join",
    oracle=f"""
    WITH fact AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             l_extendedprice, l_discount
      FROM lineitem
    ),
    dim AS (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
      FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > {JUMBO}
    )
    SELECT f.ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum("f.l_extendedprice * (1 - f.l_discount)", "revenue")}
    FROM fact f JOIN dim d ON d.ship_month = f.ship_month
    GROUP BY f.ship_month
    """,
    doc="dynamic partition pruning: the fact side is a ship-month-"
    "partitioned lake table, the dim side is a filtered month set "
    "derived from orders, and Catalyst turns the join key into a "
    "runtime PartitionFilter (dynamicpruning#N) on the fact SCAN — the "
    "scan never opens partitions the dim doesn't name. Plan-pinned in "
    "tests/test_plans.py. At 100 TB this is the difference between "
    "reading 3 months and reading 7 years; static pruning "
    "(tests/test_sinks.py) can't do it because the month set is only "
    "known after the dim filter runs",
)
def scan_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = partitioned_lineitem(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > JUMBO)
        )
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("ship_month")
        )
        .distinct()
    )
    return (
        fact.join(dim, "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
    )


# ---------------------------------------------------------------------------
# market_basket_pairs
# ---------------------------------------------------------------------------

MIN_SUPPORT = 2


@register(
    "market_basket_pairs",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    item AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS sup FROM li GROUP BY pk),
    pair AS (
      SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS sup_pair
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    )
    SELECT p.p1, p.p2, p.sup_pair,
           CAST((p.sup_pair * 1000000) // i1.sup AS BIGINT) AS conf_micro,
           CAST((p.sup_pair * (SELECT COUNT(*) FROM li) * 1000000)
                // (i1.sup * i2.sup) AS BIGINT) AS lift_micro
    FROM pair p
    JOIN item i1 ON i1.pk = p.p1
    JOIN item i2 ON i2.pk = p.p2
    WHERE p.sup_pair >= {MIN_SUPPORT}
    """,
    doc="market-basket association pairs: co-purchase support via the "
    "order-local self-join (bounded: ~items-per-order squared per "
    "order, never cross-order), confidence and lift in integer "
    "micro-units (sup_pair*1e6 div sup(p1); lift normalized by basket "
    "count) so both engines agree exactly without float division. The "
    "min-support filter is the a-priori prune that keeps output "
    "linear-ish at 100 TB; item supports broadcast back onto the pair "
    "table. NOTE lift's N = distinct (order, part) basket entries",
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
    )
    li = li.localCheckpoint(eager=False)  # reused: item supports, N
    item = li.groupBy("pk").agg(F.count(F.lit(1)).alias("sup"))
    pair = (
        copurchase_pairs(spark, sf_dir)
        .select("p1", "p2", F.col("sup").alias("sup_pair"))
        .filter(F.col("sup_pair") >= MIN_SUPPORT)
    )
    n_baskets = li.groupBy().agg(F.count(F.lit(1)).alias("n"))
    i1 = item.select(F.col("pk").alias("p1"), F.col("sup").alias("sup1"))
    i2 = item.select(F.col("pk").alias("p2"), F.col("sup").alias("sup2"))
    return (
        pair.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "p1",
            "p2",
            F.col("sup_pair").cast("bigint").alias("sup_pair"),
            # conf: sup_pair <= n_baskets, so the multiply stays in
            # BIGINT until ~9.2e12 baskets; lift multiplies TWO counts
            # (sup_pair * n ~ 1e22 at 100 TB order volume) and must go
            # through DECIMAL(38,0) — Spark's BIGINT multiply wraps
            # silently while the DuckDB oracle promotes to HUGEINT
            # (the fam_micro overflow class, ADVICE r8). Decimal `div`
            # truncates like integer div; all terms non-negative.
            F.expr("(sup_pair * 1000000) div sup1")
            .cast("bigint")
            .alias("conf_micro"),
            F.expr(
                "(CAST(sup_pair AS DECIMAL(38,0)) * n * 1000000)"
                " div (CAST(sup1 AS DECIMAL(38,0)) * sup2)"
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
    )


# ---------------------------------------------------------------------------
# join_interval_overlap
# ---------------------------------------------------------------------------


@register(
    "join_interval_overlap",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL '30 minutes' AS session_end
      FROM (SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked)
      GROUP BY user_id, sid
    ),
    hourly AS (
      SELECT date_trunc('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY n, hr) AS rn,
             count(*) OVER () AS cnt
      FROM hourly
    ),
    med AS (SELECT n AS med FROM ranked WHERE rn = (cnt + 1) // 2),
    incidents AS (
      SELECT hr FROM hourly, med WHERE 2 * hourly.n > 3 * med.med
    )
    SELECT s.user_id, s.session_start,
           CAST(COUNT(i.hr) AS BIGINT) AS n_incident_hours
    FROM sess s JOIN incidents i
      ON s.session_start < i.hr + INTERVAL '1 hour'
     AND s.session_end > i.hr
    GROUP BY s.user_id, s.session_start
    """,
    doc="interval-overlap join: per-user 30-min-gap session intervals x "
    "site-wide 'incident' hours (hourly volume 50% above the "
    "nearest-rank median — a relative, scale-invariant threshold). The "
    "oracle spells the naive inequality theta-join; the Spark side "
    "explodes each session into its covered hour grid and equi-joins "
    "on the bucket — the interval-binning rewrite that turns an "
    "O(sessions x incidents) nested loop into a hash join whose fan-out "
    "is bounded by session duration / bin width (what a range-join "
    "hint does under the hood, generalized here to interval-interval). "
    "Same trick as range_join_time_binned, which bins only one side",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cognitive_score_bigdata_spark.streaming.windows import session

    ev = load_table(spark, sf_dir, "events")
    sess = session(
        ev, "ts", "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("_n")]
    )
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    ranked = hourly.withColumn(
        "rn", F.row_number().over(Window.orderBy("n", "hr"))
    ).withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy()))
    med = ranked.filter(F.col("rn") == F.expr("(cnt + 1) div 2")).select(
        F.col("n").alias("med")
    )
    incidents = hourly.crossJoin(F.broadcast(med)).filter(
        2 * F.col("n") > 3 * F.col("med")
    ).select("hr")
    # bin each session to its covered hour grid; equi-join the grid
    covered = sess.select(
        "user_id",
        "session_start",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "session_start"),
                F.date_trunc(
                    "hour",
                    F.expr("session_end - INTERVAL 1 MICROSECOND"),
                ),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hr"),
    )
    return (
        covered.join(incidents, "hr")
        .groupBy("user_id", "session_start")
        .agg(F.count(F.lit(1)).alias("n_incident_hours"))
    )


# ---------------------------------------------------------------------------
# window_trailing_30d_range
# ---------------------------------------------------------------------------

TRAIL_SECS = 30 * 86400


@register(
    "window_trailing_30d_range",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
             AS trail_sum,
           CAST(COUNT(*) OVER w AS BIGINT) AS trail_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '{30 * 86400} seconds' PRECEDING
                           AND CURRENT ROW)
    """,
    doc="value-based (RANGE) window frame: per-user trailing-30-day "
    "running sum/count — the frame is bounded by event-TIME distance, "
    "not row count, so sparse and dense users get the same temporal "
    "semantics (a ROWS frame can't say that). Spark side orders by "
    "epoch seconds with rangeBetween(-2592000, 0); both engines treat "
    "range bounds inclusively and include all order-value ties, so "
    "results match exactly with the DECIMAL accumulator. One hash "
    "exchange on user_id + per-partition sort — same cost shape as "
    "every other keyed window at 100 TB",
)
def window_trailing_30d_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_sec", F.unix_timestamp(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-TRAIL_SECS, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
        .alias("trail_sum"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("trail_n"),
    )


# ---------------------------------------------------------------------------
# agg_bucketed_no_shuffle
# ---------------------------------------------------------------------------


@register(
    "agg_bucketed_no_shuffle",
    oracle=f"""
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_dsum("l_quantity", "total_qty")}
    FROM lineitem
    GROUP BY l_orderkey
    """,
    doc="the second dividend of the bucketed layout: a groupBy on the "
    "bucket key runs with ZERO Exchange — the scan is already hash-"
    "partitioned by l_orderkey, so partial and final aggregate fuse "
    "into one stage per bucket file (plan-pinned). Pre-shuffling data "
    "at write time pays off for every aggregate keyed on it, not just "
    "joins; values identical to the plain-parquet group-by oracle",
)
def agg_bucketed_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, lineitem = bucketed_pair(spark, sf_dir)
    return lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_quantity", "total_qty"),
    )


# ---------------------------------------------------------------------------
# timeseries_twap_per_user / timeseries_ohlc_hourly
# ---------------------------------------------------------------------------


@register(
    "timeseries_twap_per_user",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, ts,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    iv AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(19,6)) * 1000000 AS BIGINT)
               * (epoch_ms(nxt) - epoch_ms(ts)) AS wv,
             CAST(epoch_ms(nxt) - epoch_ms(ts) AS BIGINT) AS dur
      FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(dur) AS BIGINT) AS total_ms,
           CAST(SUM(wv) // SUM(dur) AS BIGINT) AS twap_micro
    FROM iv GROUP BY user_id
    HAVING SUM(dur) > 0
    """,
    doc="time-weighted average value per user (the step-function "
    "integral between observations divided by elapsed time — TWAP, the "
    "standard irregular-sampling average that a plain AVG gets wrong "
    "whenever sampling density correlates with value). Entirely "
    "integer: value in exact micro-units (via a DECIMAL(19,6) "
    "intermediate, so the double->int conversion rounds identically "
    "cross-engine), durations in ms, final integer division — a "
    "decimal->double cast here diverges by an ulp because DuckDB "
    "converts int128 decimals to double in two roundings where Spark "
    "rounds once (found by the parity gate, worth recording). One "
    "keyed window + one aggregate — the sessionization cost shape",
)
def timeseries_twap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("nxt", F.lead("ts").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    dur = (
        F.unix_millis(F.col("nxt").cast("timestamp"))
        - F.unix_millis(F.col("ts").cast("timestamp"))
    ).cast("bigint")
    value_micro = (
        F.col("value").cast("decimal(19,6)") * 1000000
    ).cast("bigint")
    iv = seq.select(
        "user_id",
        (value_micro * dur).alias("wv"),
        dur.alias("dur"),
    )
    return (
        iv.groupBy("user_id")
        .agg(
            F.sum("dur").cast("bigint").alias("total_ms"),
            F.expr("sum(wv) div sum(dur)").cast("bigint").alias("twap_micro"),
        )
        .filter(F.col("total_ms") > 0)
    )


@register(
    "timeseries_ohlc_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hr,
           MIN({'t': ts, 'e': event_id, 'v': value})['v'] AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX({'t': ts, 'e': event_id, 'v': value})['v'] AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    """,
    doc="OHLC bars (open/high/low/close per hour) — the market-data "
    "downsampling primitive: open/close are first/last VALUE by event "
    "time with event_id as the deterministic tiebreak, expressed as "
    "lexicographic MIN/MAX over a (ts, event_id, value) struct — "
    "order-insensitive, partial-agg friendly, no window, ONE shuffle. "
    "The min_by/arg_min formulations are nondeterministic under ties "
    "in both engines; the struct trick is the cross-engine-exact "
    "rewrite (same pattern as span-dedup's winner selection)",
)
def timeseries_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    st = F.struct("ts", "event_id", "value")
    return ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.min(st).getField("value").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(st).getField("value").alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# setop_intersect_all / setop_except_all  (multiset semantics)
# ---------------------------------------------------------------------------


@register(
    "setop_intersect_all",
    oracle="""
    SELECT user_id, CAST(FLOOR(value) AS BIGINT) AS v
    FROM events WHERE event_type = 'click'
    INTERSECT ALL
    SELECT user_id, CAST(FLOOR(value) AS BIGINT)
    FROM events WHERE event_type = 'view'
    """,
    doc="INTERSECT ALL — multiset intersection (each row survives "
    "min(count_left, count_right) times), vs the distinct-set "
    "intersect already covered by setop_intersect. Values bucketed to "
    "BIGINT so duplicates actually occur; Spark intersectAll "
    "implements the same bag semantics via a counted hash aggregate",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("value").cast("bigint").alias("v")
    )
    b = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("value").cast("bigint").alias("v")
    )
    return a.intersectAll(b)


@register(
    "setop_except_all",
    oracle="""
    SELECT user_id, CAST(FLOOR(value) AS BIGINT) AS v
    FROM events WHERE event_type = 'click'
    EXCEPT ALL
    SELECT user_id, CAST(FLOOR(value) AS BIGINT)
    FROM events WHERE event_type = 'view'
    """,
    doc="EXCEPT ALL — multiset difference (each row survives "
    "count_left - count_right times, floored at zero): the bag "
    "semantics a reconciliation/anti-delta job needs, where the "
    "distinct EXCEPT would hide duplicate-count drift entirely",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("value").cast("bigint").alias("v")
    )
    b = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("value").cast("bigint").alias("v")
    )
    return a.exceptAll(b)


# ---------------------------------------------------------------------------
# timeseries_max_drawdown
# ---------------------------------------------------------------------------


@register(
    "timeseries_max_drawdown",
    oracle="""
    WITH runmax AS (
      SELECT user_id, value,
             MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS peak
      FROM events
    )
    SELECT user_id,
           MAX(peak - value) AS max_drawdown,
           MAX(peak) AS peak_value
    FROM runmax GROUP BY user_id
    """,
    doc="maximum drawdown per user (largest drop from a running peak — "
    "the risk metric every monitoring dashboard wants on a value "
    "stream): running MAX window + one aggregate. Float-safe WITHOUT "
    "decimal tricks because the arithmetic is max/subtract only — no "
    "accumulation, so every engine computes the identical IEEE result "
    "on identical operands. Same two-exchange shape as the other keyed "
    "windows",
)
def timeseries_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runmax = ev.withColumn("peak", F.max("value").over(w))
    return runmax.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("value")).alias("max_drawdown"),
        F.max("peak").alias("peak_value"),
    )
