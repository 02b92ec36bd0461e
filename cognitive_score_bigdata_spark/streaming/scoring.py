"""Streaming prediction serving (SURVEY §3.2 as a streaming job).

The reference serves predictions request-by-request over HTTP
(``src/backend/main.py:84-127``); the Spark-native form is a scoring
stream: prediction requests arrive on the same event stream tagged
``manual_entry_v1`` with ``cognitive_predict=true``
(``gen_score_requests.py:38-39``), are joined per micro-batch to the
latest wearable state, run through the MLlib pipeline, and append to the
scores table — the batch scorer (`ml/pipeline.py`) applied inside
``foreachBatch`` so the exact same model/threshold code serves both
paths.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession

from cognitive_score_bigdata_spark.ml.pipeline import score_requests
from cognitive_score_bigdata_spark.streaming.pipeline import (
    enrich,
    read_event_stream,
    state_layouts,
)

# form fields the model consumes that can arrive on the stream; the
# remaining features (exercise_frequency etc.) default via the Imputer /
# handleInvalid='keep' stages
_FORM_DEFAULTS = {
    "reaction_time": 300.0,
    "memory_test_score": 50,
    "exercise_frequency": "None",
}


def score_stream(
    spark: SparkSession,
    model: PipelineModel,
    input_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Score manual-entry events as they arrive; append to the scores
    table. State is re-read per micro-batch so scoring always sees the
    newest wearable snapshot the hot path has written: the current layout
    of the latest-state table, or no state while there is no table yet.
    A table that is there but cannot be read fails the batch."""
    events = enrich(read_event_stream(spark, input_dir))
    requests = events.filter(
        (F.col("schema") == "manual_entry_v1")
        & F.col("cognitive_predict")
        & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        "sleep_duration",
        "stress_level",
        "caffeine_intake",
        "screen_time",
    )

    def score_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        sess = batch.sparkSession
        layouts = state_layouts(sess, state_dir)
        if layouts:
            state = sess.read.parquet(state_dir).filter(
                F.col("n_buckets") == max(layouts)
            )
        else:
            state = sess.createDataFrame(
                [],
                "user_id string, heart_rate decimal(18,3), "
                "steps decimal(18,3), calories decimal(18,3)",
            )
        reqs = batch
        for col, default in _FORM_DEFAULTS.items():
            reqs = reqs.withColumn(col, F.lit(default))
        scored = score_requests(model, reqs, state)
        scored.write.mode("append").parquet(out_dir)

    writer = (
        requests.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
