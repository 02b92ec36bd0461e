"""Serving-edge payload assembly (reference `/api/dashboard/stats` and
response projection, SURVEY §3.3 / S12, and the "Last Pulse" status
route, S8).

The reference renders SQL rows into JSON dicts in the FastAPI handler
(``src/backend/main.py:159-173``): status threshold, null→0 heart rate,
stringified timestamps, int-truncated average. This module is that edge
over the engine's relational tables. The dashboard keeps everything
heavy in the DataFrame plan; only its final ≤50 rows cross to the
driver. The status route answers from a point index of the state
snapshot, which costs Spark jobs once per snapshot (:func:`worker_status`);
a request then runs none, as the reference's is one key read.
"""

from __future__ import annotations

import threading
import weakref
from typing import Any

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from cognitive_score_bigdata_spark.operators.graph import collect_if_small, count_rows
from cognitive_score_bigdata_spark.streaming.pipeline import state_bucket

CRITICAL_THRESHOLD = 50


def dashboard_recent_checks(
    users: DataFrame,
    cognitive_scores: DataFrame,
    tracking_risks: DataFrame,
    limit: int = 50,
) -> DataFrame:
    """Query 1 (main.py:139-151): 3-table join, top-N by recency."""
    return (
        cognitive_scores.join(F.broadcast(users), "user_id")
        .join(tracking_risks, ["user_id", "timestamp"], "left")
        .select(
            "user_id",
            "cognitive_score",
            "timestamp",
            F.coalesce("heart_rate", F.lit(0)).alias("heart_rate"),
            F.when(F.col("cognitive_score") < CRITICAL_THRESHOLD, "Critical")
            .otherwise("Normal")
            .alias("status"),
        )
        .orderBy(F.desc("timestamp"), F.asc("user_id"))
        .limit(limit)
    )


def dashboard_stats(
    users: DataFrame,
    cognitive_scores: DataFrame,
    tracking_risks: DataFrame,
    limit: int = 50,
) -> dict[str, Any]:
    """The full `/api/dashboard/stats` payload (main.py:133-173):
    recent checks as JSON-ready dicts + the two scalar aggregates."""
    recent = dashboard_recent_checks(
        users, cognitive_scores, tracking_risks, limit
    )
    rows = [
        {
            "user_id": r["user_id"],
            "cognitive_score": r["cognitive_score"],
            # F11: timestamps cross the JSON edge as strings
            "timestamp": str(r["timestamp"]),
            "heart_rate": int(r["heart_rate"]),
            "status": r["status"],
        }
        for r in recent.collect()
    ]
    agg = cognitive_scores.agg(
        F.count(
            F.when(F.col("cognitive_score") < CRITICAL_THRESHOLD, 1)
        ).alias("critical_alerts"),
        F.avg("cognitive_score").alias("avg_score"),
    ).collect()[0]
    return {
        "recent_checks": rows,
        "critical_alerts": agg["critical_alerts"],
        # main.py:172: average is int-truncated at the edge
        "avg_cognitive_score": int(agg["avg_score"]) if rows else 0,
    }


# A user's latest snapshot comes first in this order. heart_rate and
# steps break timestamp ties deterministically: the DynamoDB reference
# never faces ties (its sort key is unique), but repeated calls here must
# return a stable row regardless.
LATEST_FIRST = ("timestamp", "heart_rate", "steps")


def status_lookup(wearables: DataFrame, user_id: str) -> DataFrame:
    """The S8 point-read as one Spark job: the user's most recent
    snapshot as a top-1 in :data:`LATEST_FIRST` order
    (TakeOrderedAndProject — never a global sort). :func:`worker_status`
    runs it per request on a snapshot too big for its index.

    Over the latest-state table (partitioned by ``n_buckets`` and
    ``bucket``) the lookup also filters on the key's bucket under each
    layout's own bucket count, ``bucket == state_bucket(lit(user_id),
    col("n_buckets"))``. The predicate references partition columns only,
    so Spark applies it as a partition filter and the scan opens one
    bucket's files per layout, without the reader knowing the count —
    the reference's DynamoDB ``query`` likewise touches only the key's
    partition. While an interrupted resize leaves two layouts, each holds
    the user in the bucket the predicate picks and the top-1 by event
    time answers. Frames without an ``n_buckets`` column are filtered on
    ``user_id`` alone.
    """
    pred = F.col("user_id") == user_id
    if "n_buckets" in wearables.columns:
        pred = pred & (
            F.col("bucket") == state_bucket(F.lit(user_id), F.col("n_buckets"))
        )
    return (
        wearables.filter(pred)
        .orderBy(*[F.desc(c) for c in LATEST_FIRST])
        .limit(1)
    )


# Status index per snapshot frame: user_id -> the user's latest
# (timestamp, heart_rate, steps) as a collected Row holds them, or None
# for a frame too big to index. Keyed weakly, so an index lives as long
# as its frame.
_INDEXES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_INDEX_LOCK = threading.Lock()


def _build_index(wearables: DataFrame) -> dict[str, tuple] | None:
    """Every user's latest snapshot, collected through the local-finish
    gate; None at or above ``graph.LOCAL_FINISH_BYTES``."""
    rank = F.row_number().over(
        Window.partitionBy("user_id").orderBy(*[F.desc(c) for c in LATEST_FIRST])
    )
    # the frame's rows bound the index's; counted without columns, a
    # parquet scan reads only its footers, where counting the index
    # would sort the whole frame
    t = collect_if_small(
        wearables.select("user_id", *LATEST_FIRST)
        .withColumn("_rank", rank)
        .filter("_rank = 1")
        .drop("_rank"),
        rows=count_rows(wearables.select()),
    )
    if t is None:
        return None
    # Arrow carries the instant; convert its microseconds as a collected
    # Row would (a naive datetime in the driver's local time), whatever
    # the session time zone
    ts_type = wearables.schema["timestamp"].dataType
    ts = [
        ts_type.fromInternal(us)
        for us in t["timestamp"].cast(pa.int64()).to_pylist()
    ]
    return dict(
        zip(
            t["user_id"].to_pylist(),
            zip(ts, t["heart_rate"].to_pylist(), t["steps"].to_pylist()),
        )
    )


def _status_index(wearables: DataFrame) -> dict[str, tuple] | None:
    with _INDEX_LOCK:
        if wearables not in _INDEXES:
            _INDEXES[wearables] = _build_index(wearables)
        return _INDEXES[wearables]


def worker_status(wearables: DataFrame, user_id: str) -> dict[str, Any]:
    """GET ``/api/worker/{user_id}/status`` — the "Last Pulse" payload
    (reference ``src/backend/main.py:73-81`` over the DynamoDB helper at
    ``:55-65``): the single most recent wearable snapshot for one user,
    int-cast at the edge, with the no-data-yet default row (heart rate /
    steps 0, timestamp None) rather than a 404.

    ``wearables`` is a snapshot. The first call on a frame object builds
    its index: each user's first row in :data:`LATEST_FIRST` order
    (``row_number() = 1`` per user), collected through
    ``graph.collect_if_small`` with the frame's row count as the bound,
    under a lock, so concurrent first calls build once. Every later call
    on the same frame is a dict lookup and runs no Spark job. A frame at
    or above ``graph.LOCAL_FINISH_BYTES`` is remembered as too big, and
    each call on it runs the bucket-pruned :func:`status_lookup` job
    instead. An indexed frame keeps answering
    from the state it was built on, so to see a later upsert, re-read
    the table and pass the new frame. The lookup path needs that too: a
    frame read from a path lists its files once, and re-running it after
    an upsert fails on the files the upsert replaced.
    """
    index = _status_index(wearables)
    if index is not None:
        latest = index.get(user_id)
    else:
        rows = status_lookup(wearables, user_id).select(*LATEST_FIRST).collect()
        latest = tuple(rows[0]) if rows else None
    if latest is None:
        return {
            "user_id": user_id,
            "last_heart_rate": 0,
            "last_steps": 0,
            "timestamp": None,
        }
    ts, heart_rate, steps = latest
    return {
        "user_id": user_id,
        "last_heart_rate": int(heart_rate or 0),
        "last_steps": int(steps or 0),
        # F11: timestamps cross the JSON edge as strings
        "timestamp": str(ts) if ts is not None else None,
    }
