"""Serving-edge payload assembly (reference `/api/dashboard/stats` and
response projection, SURVEY §3.3 / S12).

The reference renders SQL rows into JSON dicts in the FastAPI handler
(``src/backend/main.py:159-173``): status threshold, null→0 heart rate,
stringified timestamps, int-truncated average. This module is that edge,
as one function over the engine's relational tables — everything heavy
stays in the DataFrame plan; only the final ≤50 rows cross to the
driver.
"""

from __future__ import annotations

from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

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


def status_lookup(wearables: DataFrame, user_id: str) -> DataFrame:
    """The S8 point-read behind :func:`worker_status`: the user's most
    recent snapshot as a top-1 by event time (TakeOrderedAndProject —
    never a global sort).

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
    # heart_rate/steps break timestamp ties deterministically (the
    # DynamoDB reference never faces ties — its sort key is unique;
    # repeated calls here must return a stable row regardless)
    return (
        wearables.filter(pred)
        .orderBy(F.desc("timestamp"), F.desc("heart_rate"), F.desc("steps"))
        .limit(1)
    )


def worker_status(wearables: DataFrame, user_id: str) -> dict[str, Any]:
    """GET ``/api/worker/{user_id}/status`` — the "Last Pulse" payload
    (reference ``src/backend/main.py:73-81`` over the DynamoDB helper at
    ``:55-65``): the single most recent wearable snapshot for one user,
    int-cast at the edge, with the no-data-yet default row (heart rate /
    steps 0, timestamp None) rather than a 404.

    The scan side is the S8 point-read, see :func:`status_lookup`. Only
    one row crosses to the driver.
    """
    row = status_lookup(wearables, user_id).collect()
    if not row:
        return {
            "user_id": user_id,
            "last_heart_rate": 0,
            "last_steps": 0,
            "timestamp": None,
        }
    r = row[0]
    return {
        "user_id": user_id,
        "last_heart_rate": int(r["heart_rate"] or 0),
        "last_steps": int(r["steps"] or 0),
        # F11: timestamps cross the JSON edge as strings
        "timestamp": str(r["timestamp"]) if r["timestamp"] is not None else None,
    }
