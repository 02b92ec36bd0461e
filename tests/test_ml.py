"""ML pipeline tests (SURVEY §5 ML): seeded determinism, score range and
threshold behavior (setup_model.py:32-35 / main.py:106 contracts), model
save/load, latest-form-feature sourcing, end-to-end scoring job."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.ml import PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator

from cognitive_score_bigdata_spark.ml.pipeline import (
    CRITICAL_THRESHOLD,
    latest_form_features,
    score_requests,
    synth_training_frame,
    train,
)


@pytest.fixture(scope="module")
def model(spark):
    return train(spark, seed=42)


@pytest.fixture(scope="module")
def train_df(spark):
    return synth_training_frame(spark, seed=42)


def test_training_frame_deterministic(spark, train_df):
    again = synth_training_frame(spark, seed=42)
    a = train_df.agg(F.sum("cognitive_score")).collect()[0][0]
    b = again.agg(F.sum("cognitive_score")).collect()[0][0]
    assert a == b


def test_model_learns_signal(model, train_df):
    pred = model.transform(train_df)
    rmse = RegressionEvaluator(
        labelCol="cognitive_score", predictionCol="prediction", metricName="rmse"
    ).evaluate(pred)
    # label noise is U(-3,3) (σ≈1.7); the model must beat the σ≈12 of
    # predicting the mean by a wide margin
    assert rmse < 5.0, f"model failed to learn the synthetic signal: rmse={rmse}"


def test_score_range_and_threshold(spark, model, train_df):
    state = spark.createDataFrame(
        [("user-1", 80.0, 5000.0, 1500.0)],
        "user_id string, heart_rate double, steps double, calories double",
    )
    requests = train_df.select(
        "user_id",
        "sleep_duration",
        "stress_level",
        "caffeine_intake",
        "screen_time",
        "reaction_time",
        "memory_test_score",
        "exercise_frequency",
    ).limit(200)
    scored = score_requests(model, requests, state)
    rows = scored.collect()
    assert all(40 <= r["score"] <= 100 for r in rows)
    assert all(
        (r["status"] == "Critical") == (r["score"] < CRITICAL_THRESHOLD)
        or r["score"] >= CRITICAL_THRESHOLD
        for r in rows
    )
    statuses = {r["status"] for r in rows}
    assert statuses <= {"Critical", "Normal"}


def test_unknown_user_gets_defaults(spark, model):
    """A request for a user with no wearable state must still score
    (P7 default item, main.py:63-65)."""
    req = spark.createDataFrame(
        [("nobody", 7.0, 5, 100, 3.0, 250.0, 80, "Light")],
        "user_id string, sleep_duration double, stress_level int, "
        "caffeine_intake int, screen_time double, reaction_time double, "
        "memory_test_score int, exercise_frequency string",
    )
    empty_state = spark.createDataFrame(
        [],
        "user_id string, heart_rate double, steps double, calories double",
    )
    rows = score_requests(model, req, empty_state).collect()
    assert len(rows) == 1 and 40 <= rows[0]["score"] <= 100


def test_save_load_roundtrip(spark, model, train_df, tmp_path):
    path = str(tmp_path / "model")
    model.write().overwrite().save(path)
    loaded = PipelineModel.load(path)
    sample = train_df.limit(50)
    a = [r["prediction"] for r in model.transform(sample).collect()]
    b = [r["prediction"] for r in loaded.transform(sample).collect()]
    assert a == b


def test_latest_form_features(spark):
    events = spark.createDataFrame(
        [
            ("u1", "manual_entry_v1", "2024-01-01 10:00:00", 6.0, 3, 0, 2.0),
            ("u1", "manual_entry_v1", "2024-01-02 10:00:00", 8.0, 7, 100, 4.0),
            ("u1", "tracking_v1", "2024-01-03 10:00:00", None, None, None, None),
            ("u2", "manual_entry_v1", "2024-01-01 09:00:00", 5.0, 9, 200, 11.0),
        ],
        "user_id string, schema string, ts string, sleep_duration double, "
        "stress_level int, caffeine_intake int, screen_time double",
    ).withColumn("ts", F.to_timestamp("ts"))
    feats = {r["user_id"]: r for r in latest_form_features(events).collect()}
    assert feats["u1"]["sleep_duration"] == 8.0  # latest manual entry wins
    assert feats["u1"]["stress_level"] == 7
    assert feats["u2"]["caffeine_intake"] == 200


def test_streaming_scoring(spark, model, tmp_path):
    """§3.2 streaming form: manual-entry events on the stream are scored
    against the latest wearable state and appended to the scores table."""
    import json
    import os

    from cognitive_score_bigdata_spark.streaming.scoring import score_stream

    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "scores")
    os.makedirs(input_dir)

    # pre-existing wearable state for u1, in the hot path's one-bucket
    # layout (n_buckets=1/bucket=0)
    from decimal import Decimal

    spark.createDataFrame(
        [("u1", Decimal("82.000"), Decimal("7000.000"), Decimal("1400.000"), 1, 0)],
        "user_id string, heart_rate decimal(18,3), steps decimal(18,3), "
        "calories decimal(18,3), n_buckets int, bucket int",
    ).write.partitionBy("n_buckets", "bucket").parquet(state_dir)

    events = [
        {  # scorable request
            "user_id": "u1", "device_id": "phone_u1",
            "schema": "manual_entry_v1", "cognitive_predict": True,
            "sleep_duration": 7.5, "stress_level": 3,
            "caffeine_intake": 100, "screen_time": 2.5,
            "timestamp": "1700000100.0", "event_id": "m1",
        },
        {  # tracking event: must NOT be scored
            "user_id": "u2", "device_id": "dev_u2",
            "schema": "tracking_v1", "cognitive_predict": False,
            "steps": 5, "distance": 0.01, "heart_rate": 90, "calories": 3,
            "timestamp": "1700000101.0", "event_id": "t1",
        },
    ]
    with open(f"{input_dir}/b.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    q = score_stream(
        spark, model, input_dir, state_dir, out_dir, str(tmp_path / "chk")
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1
    assert rows[0]["user_id"] == "u1"
    assert 40 <= rows[0]["score"] <= 100
    assert rows[0]["status"] in ("Critical", "Normal")
