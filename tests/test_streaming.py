"""Streaming pipeline tests (SURVEY §2.9 T1-T7, §3.1): deterministic
file-source micro-batches exercising enrichment, routing, dual sink,
event-time latest-state, duplicate suppression, and idempotent re-merge."""

from __future__ import annotations

import json
import os
import pathlib
import re

import pyspark.sql.functions as F
import pytest
from py4j.protocol import Py4JJavaError

from cognitive_score_bigdata_spark.streaming import pipeline
from cognitive_score_bigdata_spark.streaming.pipeline import (
    EVENT_SCHEMA,
    enrich,
    route,
    run_ingest_pipeline,
    state_bucket,
    upsert_latest_state,
    write_raw_batch,
)

BASE_TS = 1_700_000_000.0


def _tracking(user, ts, hr, steps=100, cal=5, event_id=None):
    return {
        "user_id": user,
        "device_id": f"dev_{user[:8]}",
        "schema": "tracking_v1",
        "cognitive_predict": False,
        "steps": steps,
        "distance": 0.02,
        "heart_rate": hr,
        "calories": cal,
        "timestamp": str(ts),
        "event_id": event_id or f"ev-{user}-{ts}",
    }


def _manual(user, ts):
    return {
        "user_id": user,
        "device_id": f"phone_{user[:8]}",
        "schema": "manual_entry_v1",
        "cognitive_predict": True,
        "sleep_duration": 7.5,
        "stress_level": 4,
        "caffeine_intake": 100,
        "screen_time": 3.2,
        "timestamp": str(ts),
        "event_id": f"ev-m-{user}-{ts}",
    }


def _write_batch(dir_, name, events):
    path = os.path.join(dir_, name)
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


@pytest.fixture()
def dirs(tmp_path):
    d = {
        k: str(tmp_path / k) for k in ("input", "raw", "state", "chk", "chk2")
    }
    os.makedirs(d["input"])
    return d


def _run(spark, d):
    q = run_ingest_pipeline(
        spark, d["input"], d["raw"], d["state"], d["chk"], available_now=True
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_dual_sink_and_event_time_state(spark, dirs):
    events = [
        _tracking("alice", BASE_TS + 100, hr=70),
        _tracking("alice", BASE_TS + 300, hr=90),  # newest for alice
        _tracking("alice", BASE_TS + 200, hr=80),  # out of order
        _tracking("bob", BASE_TS + 50, hr=65),
        _manual("alice", BASE_TS + 400),  # manual entry: not state material
        {**_tracking("ghost", BASE_TS + 10, hr=99), "user_id": None},  # dropped
        _tracking("carol", BASE_TS + 10, hr=75, event_id="dup-1"),
        _tracking("carol", BASE_TS + 10, hr=75, event_id="dup-1"),  # duplicate
    ]
    _write_batch(dirs["input"], "batch1.json", events)
    _run(spark, dirs)

    # Cold path: raw lake is date-partitioned and keeps BOTH shapes
    raw = spark.read.parquet(dirs["raw"])
    assert "ingest_date" in raw.columns
    assert raw.filter(F.col("schema") == "manual_entry_v1").count() == 1
    # duplicate event_id suppressed before both sinks (T5)
    assert raw.filter(F.col("event_id") == "dup-1").count() == 1

    # Hot path: one row per user, event-time latest (not arrival order)
    state = spark.read.parquet(dirs["state"])
    rows = {r["user_id"]: r for r in state.collect()}
    assert set(rows) == {"alice", "bob", "carol"}  # null key dropped (P3)
    assert float(rows["alice"]["heart_rate"]) == 90.0  # ts+300 wins, not +200
    assert rows["alice"]["bucket"] is not None


def test_cross_batch_state_merge(spark, dirs):
    _write_batch(
        dirs["input"], "b1.json", [_tracking("alice", BASE_TS + 1000, hr=88)]
    )
    _run(spark, dirs)
    # second batch: one LATE event for alice (must lose) + one new user
    _write_batch(
        dirs["input"],
        "b2.json",
        [
            _tracking("alice", BASE_TS + 500, hr=60),
            _tracking("dave", BASE_TS + 2000, hr=77),
        ],
    )
    q = run_ingest_pipeline(
        spark, dirs["input"], dirs["raw"], dirs["state"], dirs["chk"]
    )
    q.awaitTermination(120)

    state = spark.read.parquet(dirs["state"])
    rows = {r["user_id"]: r for r in state.collect()}
    assert set(rows) == {"alice", "dave"}
    assert float(rows["alice"]["heart_rate"]) == 88.0  # late data lost (event time)
    assert float(rows["dave"]["heart_rate"]) == 77.0


def test_upsert_idempotent_replay(spark, dirs):
    """Replaying the same micro-batch must leave the state unchanged
    (foreachBatch may redeliver after failure)."""
    batch = enrich(
        spark.createDataFrame(
            [_tracking("erin", BASE_TS + 10, hr=81)], schema=EVENT_SCHEMA
        )
    )
    upsert_latest_state(spark, batch, dirs["state"])
    first = sorted(map(str, spark.read.parquet(dirs["state"]).collect()))
    upsert_latest_state(spark, batch, dirs["state"])  # replay
    second = sorted(map(str, spark.read.parquet(dirs["state"]).collect()))
    assert first == second


def _tracking_batch(spark, events):
    return enrich(spark.createDataFrame(events, schema=EVENT_SCHEMA))


def _buckets_of(spark, users, n):
    """Each user's bucket among ``n`` as a keyed reader computes it (from
    a literal)."""
    row = spark.range(1).select(
        *[state_bucket(F.lit(u), n).alias(u) for u in users]
    ).first()
    return row.asDict()


def _layout(state_dir):
    """{bucket count: {bucket dir: parquet file count}} of a state table."""
    out = {}
    for layout in os.listdir(state_dir):
        if layout.startswith("n_buckets="):
            root = os.path.join(state_dir, layout)
            out[int(layout.split("=")[1])] = {
                d: len([f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")])
                for d in os.listdir(root)
                if d.startswith("bucket=")
            }
    return out


def _parquet_bytes(state_dir):
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, names in os.walk(state_dir)
        for f in names
        if f.endswith(".parquet")
    )


def _statuses(spark, state_dir, users):
    """worker_status over the table and over the same rows without the
    layout columns, for each user."""
    from cognitive_score_bigdata_spark.serving import worker_status

    wearables = spark.read.parquet(state_dir).withColumnRenamed("ts", "timestamp")
    flat = wearables.drop("n_buckets", "bucket")
    return [(worker_status(wearables, u), worker_status(flat, u)) for u in users]


def test_state_table_bucket_layout(spark, dirs):
    """A new table gets one bucket: ``n_buckets=1/bucket=0`` holds one
    file after the first write and after a merge, and every stored row
    carries the layout a reader computes for its key."""
    users = [f"user-{i}" for i in range(200)]
    upsert_latest_state(
        spark,
        _tracking_batch(spark, [_tracking(u, BASE_TS + i, hr=60 + i) for i, u in enumerate(users)]),
        dirs["state"],
    )
    assert _layout(dirs["state"]) == {1: {"bucket=0": 1}}

    upsert_latest_state(
        spark,
        _tracking_batch(spark, [_tracking(u, BASE_TS + 1000, hr=99) for u in users[:5]]),
        dirs["state"],
    )
    assert _layout(dirs["state"]) == {1: {"bucket=0": 1}}
    rows = spark.read.parquet(dirs["state"]).collect()
    assert {r["user_id"]: (r["n_buckets"], r["bucket"]) for r in rows} == {
        u: (1, 0) for u in users
    }
    assert sorted(float(r["heart_rate"]) for r in rows if r["user_id"] in users[:5]) == [99.0] * 5


def test_state_table_doubles_its_buckets_as_it_grows(spark, dirs, monkeypatch):
    """Once the table's bytes pass STATE_BUCKET_BYTES a bucket, the next
    upsert rewrites it at twice the buckets: the old layout is gone, every
    user is stored once, in the bucket a reader computes, one file per
    bucket, and status reads agree with the unbucketed rows before and
    after."""
    users = [f"user-{i}" for i in range(200)]
    probe = [users[0], users[1], users[150], "nobody"]
    upsert_latest_state(
        spark,
        _tracking_batch(spark, [_tracking(u, BASE_TS + i, hr=60 + i) for i, u in enumerate(users)]),
        dirs["state"],
    )
    for got, flat in _statuses(spark, dirs["state"], probe):
        assert got == flat

    # half the table's bytes fit a bucket: two buckets, not one or four
    monkeypatch.setattr(pipeline, "STATE_BUCKET_BYTES", _parquet_bytes(dirs["state"]) * 3 // 4)
    # partition coalescing off, so the write runs in several tasks, as it
    # does on real batch sizes, and still makes one file per bucket
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        upsert_latest_state(
            spark,
            _tracking_batch(spark, [_tracking(u, BASE_TS + 1000, hr=99) for u in users[:2]]),
            dirs["state"],
        )
    finally:
        spark.conf.set(key, saved)

    assert _layout(dirs["state"]) == {2: {"bucket=0": 1, "bucket=1": 1}}
    rows = spark.read.parquet(dirs["state"]).collect()
    assert sorted(r["user_id"] for r in rows) == sorted(users)
    want = _buckets_of(spark, users, 2)
    assert {r["user_id"]: r["bucket"] for r in rows} == want
    statuses = _statuses(spark, dirs["state"], probe)
    for got, flat in statuses:
        assert got == flat
    assert [s[0]["last_heart_rate"] for s in statuses] == [99, 99, 210, 0]


def test_interrupted_resize_reads_right_and_heals(spark, dirs, monkeypatch, tmp_path):
    """A crash between a resize's write and its delete leaves the old,
    smaller layout beside the new one. Status reads still answer from
    the newest row, and the next upsert merges from the larger layout
    and leaves only one."""
    import shutil

    users = [f"user-{i}" for i in range(40)]
    upsert_latest_state(
        spark,
        _tracking_batch(spark, [_tracking(u, BASE_TS + i, hr=60) for i, u in enumerate(users)]),
        dirs["state"],
    )
    stale = str(tmp_path / "stale")
    shutil.copytree(os.path.join(dirs["state"], "n_buckets=1"), stale)
    monkeypatch.setattr(pipeline, "STATE_BUCKET_BYTES", _parquet_bytes(dirs["state"]) * 3 // 4)
    upsert_latest_state(
        spark,
        _tracking_batch(spark, [_tracking(u, BASE_TS + 1000, hr=99) for u in users[:3]]),
        dirs["state"],
    )
    shutil.copytree(stale, os.path.join(dirs["state"], "n_buckets=1"))
    assert sorted(_layout(dirs["state"])) == [1, 2]

    statuses = _statuses(spark, dirs["state"], users[:5] + ["nobody"])
    for got, flat in statuses:
        assert got == flat
    assert [s[0]["last_heart_rate"] for s in statuses] == [99, 99, 99, 60, 60, 0]

    upsert_latest_state(
        spark,
        _tracking_batch(spark, [_tracking(users[4], BASE_TS + 2000, hr=77)]),
        dirs["state"],
    )
    assert len(_layout(dirs["state"])) == 1
    rows = {r["user_id"]: r for r in spark.read.parquet(dirs["state"]).collect()}
    assert sorted(rows) == sorted(users)
    assert [float(rows[u]["heart_rate"]) for u in users[:5]] == [99.0, 99.0, 99.0, 60.0, 77.0]


@pytest.mark.parametrize(
    "damage, error",
    [("unreadable_part", Py4JJavaError), ("bucket_only_layout", ValueError)],
)
def test_upsert_raises_on_a_table_it_cannot_read(spark, dirs, damage, error):
    """Only an absent table is a new one. A table whose part file cannot
    be read, or laid out as ``bucket=k/`` without ``n_buckets=``, makes
    the upsert raise and leaves every file in place."""
    import shutil

    upsert_latest_state(
        spark,
        _tracking_batch(spark, [_tracking(f"user-{i}", BASE_TS + i, hr=60) for i in range(10)]),
        dirs["state"],
    )
    if damage == "unreadable_part":
        for root, _, names in os.walk(dirs["state"]):
            for f in names:
                if f.endswith(".parquet.crc"):
                    os.remove(os.path.join(root, f))
                elif f.endswith(".parquet"):
                    with open(os.path.join(root, f), "wb") as fh:
                        fh.write(b"not a parquet file")
    else:
        shutil.move(
            os.path.join(dirs["state"], "n_buckets=1", "bucket=0"),
            os.path.join(dirs["state"], "bucket=0"),
        )
        os.rmdir(os.path.join(dirs["state"], "n_buckets=1"))

    def files():
        return {
            os.path.join(root, f): pathlib.Path(root, f).read_bytes()
            for root, _, names in os.walk(dirs["state"])
            for f in names
            if not f.startswith(("_", "."))
        }

    before = files()
    with pytest.raises(error):
        upsert_latest_state(
            spark,
            _tracking_batch(spark, [_tracking("user-0", BASE_TS + 100, hr=99)]),
            dirs["state"],
        )
    assert files() == before


def test_upsert_merge_scans_only_touched_buckets(spark, dirs, monkeypatch):
    """An upsert that keeps the bucket count reads the existing table
    through a literal partition filter on the layout and the touched
    buckets, not the whole table. The table is first grown to four
    buckets; the batch is cached, as foreachBatch caches it."""
    from pyspark.sql import DataFrameWriter

    users = [f"user-{i}" for i in range(24)]
    batch = _tracking_batch(spark, [_tracking(u, BASE_TS + i, hr=60 + i) for i, u in enumerate(users)])
    upsert_latest_state(spark, batch, dirs["state"])
    with monkeypatch.context() as m:
        m.setattr(pipeline, "STATE_BUCKET_BYTES", _parquet_bytes(dirs["state"]) // 3)
        upsert_latest_state(spark, batch, dirs["state"])  # replay, at 4 buckets
    assert list(_layout(dirs["state"])) == [4]
    buckets = _buckets_of(spark, users, 4)
    touched = [users[0]] + [u for u in users if buckets[u] != buckets[users[0]]][:1]

    plans = []
    write_parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    batch = _tracking_batch(spark, [_tracking(u, BASE_TS + 100, hr=99) for u in touched])
    batch.persist()
    try:
        upsert_latest_state(spark, batch, dirs["state"])
    finally:
        batch.unpersist()

    (scan,) = [line for line in plans[0].splitlines() if "FileScan parquet" in line]
    pruned = re.search(
        r"PartitionFilters: \[isnotnull\(n_buckets#\d+\), \(n_buckets#\d+ = 4\), "
        r"bucket#\d+ IN \(([\d,]+)\)",
        scan,
    )
    assert pruned, scan
    assert {int(b) for b in pruned.group(1).split(",")} == {buckets[u] for u in touched}
    assert list(_layout(dirs["state"])) == [4]
    state = {r["user_id"]: r for r in spark.read.parquet(dirs["state"]).collect()}
    assert set(state) == set(users)
    assert [float(state[u]["heart_rate"]) for u in touched] == [99.0, 99.0]


def test_raw_batch_idempotent_replay(spark, dirs):
    """Replaying a raw-lake micro-batch write must not duplicate rows
    (failure between the write and the checkpoint commit redelivers),
    while distinct batch_ids accumulate."""
    batch = enrich(
        spark.createDataFrame(
            [_tracking("erin", BASE_TS + 10, hr=81)], schema=EVENT_SCHEMA
        )
    )
    write_raw_batch(batch, 0, dirs["raw"])
    write_raw_batch(batch, 0, dirs["raw"])  # replay of the same batch
    assert spark.read.parquet(dirs["raw"]).count() == 1
    write_raw_batch(batch, 1, dirs["raw"])  # a genuinely new batch
    assert spark.read.parquet(dirs["raw"]).count() == 2


def test_routing_and_enrichment(spark):
    incomplete = {
        "user_id": "zoe",
        "device_id": "dev_zoe",
        "schema": "tracking_v1",
        "cognitive_predict": False,
        "steps": 5,
        "distance": 0.01,
        "heart_rate": 100,
        "calories": 2,
        # no timestamp, no event_id → P9 must default both
    }
    df = enrich(
        spark.createDataFrame(
            [incomplete, _manual("yan", BASE_TS)], schema=EVENT_SCHEMA
        )
    )
    shapes = route(df)
    assert shapes["tracking_v1"].count() == 1
    assert shapes["manual_entry_v1"].count() == 1
    row = shapes["tracking_v1"].collect()[0]
    assert row["event_id"] is not None and row["ts"] is not None


def test_stateful_latest_state_stream(spark, tmp_path):
    """applyInPandasWithState latest-state (T4 state-store form): state
    survives across separate availableNow runs via the checkpoint, and
    event-time ordering beats arrival order."""
    import json
    import os

    from cognitive_score_bigdata_spark.streaming.pipeline import (
        enrich,
        read_event_stream,
    )
    from cognitive_score_bigdata_spark.streaming.stateful import (
        latest_state_stream,
    )

    input_dir, out_dir, chk = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "chk"),
    )
    os.makedirs(input_dir)

    def run_batch(events):
        n = len(os.listdir(input_dir))
        with open(f"{input_dir}/b{n}.json", "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")
        stream = latest_state_stream(enrich(read_event_stream(spark, input_dir)))

        def sink(batch, _):
            batch.write.mode("append").parquet(out_dir)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch([_tracking("u1", BASE_TS + 300, hr=90)])
    # second run: LATE event for u1 (must lose to checkpointed state)
    # plus a new user
    run_batch(
        [
            _tracking("u1", BASE_TS + 100, hr=60),
            _tracking("u2", BASE_TS + 400, hr=70),
        ]
    )

    out = spark.read.parquet(out_dir)
    # latest emitted row per user is the final state
    latest = {
        r["user_id"]: r
        for r in out.orderBy("ts_micros")
        .groupBy("user_id")
        .agg(
            F.max_by(F.struct("heart_rate", "ts_micros"), "ts_micros").alias("s")
        )
        .select("user_id", "s.heart_rate", "s.ts_micros")
        .collect()
    }
    assert latest["u1"]["heart_rate"] == 90.0  # late event did not regress state
    assert latest["u2"]["heart_rate"] == 70.0


def test_watermark_drops_late_events(spark, tmp_path):
    """T5/T6 in true streaming mode: with a 10-minute watermark and
    1-file micro-batches, an event arriving after its window's state was
    finalized AND evicted is dropped; append mode emits each finalized
    window exactly once.

    Spark semantics pinned here: a late row landing in the same batch
    where its window is finalized is still aggregated (state not yet
    evicted); only post-eviction arrivals are dropped — so the late file
    arrives one batch after the window's emission.
    """
    from cognitive_score_bigdata_spark.streaming.pipeline import (
        enrich,
        read_event_stream,
    )
    from cognitive_score_bigdata_spark.streaming.windows import (
        windowed_event_counts,
    )

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(input_dir)

    HOUR = 3600.0
    # file order = arrival order (one file per micro-batch); the file
    # source orders by modification time, so pin distinct mtimes or the
    # "late" file may be picked up before the watermark advances
    _write_batch(
        input_dir, "b0.json", [_tracking("u1", BASE_TS + 0 * HOUR, hr=70)]
    )
    _write_batch(
        input_dir,
        "b1.json",
        [_tracking("u1", BASE_TS + 2 * HOUR, hr=71)],  # advances watermark
    )
    _write_batch(
        input_dir,
        "b2.json",
        # advances further; first window is emitted+evicted this batch
        [_tracking("u1", BASE_TS + 2.5 * HOUR, hr=72)],
    )
    _write_batch(
        input_dir,
        "b3.json",
        [
            # hours-late event for the long-evicted first window → drop
            _tracking("u1", BASE_TS + 60, hr=73, event_id="late-1"),
            _tracking("u1", BASE_TS + 3 * HOUR, hr=74),
        ],
    )
    now = 1_700_000_000
    for i, name in enumerate(["b0.json", "b1.json", "b2.json", "b3.json"]):
        os.utime(f"{input_dir}/{name}", (now + 10 * i, now + 10 * i))

    events = enrich(
        read_event_stream(spark, input_dir, max_files_per_trigger=1)
    )
    counts = windowed_event_counts(
        events, duration="5 minutes", watermark="10 minutes"
    )

    def sink(batch, _):
        batch.write.mode("append").parquet(out_dir)

    q = (
        counts.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(out_dir).collect()
    by_window = {r["window_start"]: r["n_events"] for r in out}
    first_window = min(by_window)
    # the late event did NOT land in the first (already-finalized) window
    assert by_window[first_window] == 1
    # and each finalized window was emitted exactly once
    assert len(out) == len(by_window)


def test_parse_events_permissive_dead_letter_split(spark):
    """One malformed producer must not poison the batch: valid rows
    parse and keep their fields, garbage rows land in the dead-letter
    frame with their raw payload intact (for quarantine + replay), and
    rows missing the partition key (user_id) are quarantined too."""
    import json as _json

    import pyspark.sql.functions as F

    from cognitive_score_bigdata_spark.streaming.pipeline import (
        parse_events_permissive,
    )

    good = _json.dumps(
        {
            "user_id": "alice",
            "device_id": "d1",
            "schema": "tracking_v1",
            "cognitive_predict": False,
            "steps": 100,
            "timestamp": "1700000000.0",
        }
    )
    no_key = _json.dumps({"device_id": "d2", "schema": "tracking_v1"})
    garbage = "{not json at all"
    raw = spark.createDataFrame(
        [(good,), (no_key,), (garbage,)], "value string"
    )

    ok, dead = parse_events_permissive(raw)
    ok_rows = ok.collect()
    assert len(ok_rows) == 1 and ok_rows[0]["user_id"] == "alice"
    assert ok_rows[0]["steps"] == 100
    assert "_corrupt_record" not in ok.columns

    dead_rows = {r["raw_payload"] for r in dead.collect()}
    assert dead_rows == {no_key, garbage}


def test_aggregate_maintenance_counts_and_replay(spark, tmp_path):
    """Incremental aggregate view: per-(user, day) counts/sums over the
    backlog equal the batch answer, and a full replay (fresh checkpoint)
    leaves the view unchanged — per-epoch partial overwrite, associative
    fold."""
    from cognitive_score_bigdata_spark.streaming.aggregates import (
        compact_aggregate_partials,
        read_aggregate_view,
        run_aggregate_maintenance,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    events = [
        _tracking("alice", BASE_TS + 10, 70, steps=100),
        _tracking("alice", BASE_TS + 20, 71, steps=50),
        _tracking("bob", BASE_TS + 30, 80, steps=30),
        # next day (+86400s)
        _tracking("alice", BASE_TS + 86_500, 72, steps=10),
    ]
    with open(os.path.join(in_dir, "b1.json"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    partials = str(tmp_path / "partials")
    expected = {
        ("alice", "2023-11-14"): (2, 150),
        ("bob", "2023-11-14"): (1, 30),
        ("alice", "2023-11-15"): (1, 10),
    }

    def view_dict():
        return {
            (r["user_id"], str(r["day"])): (r["n_events"], r["sum_steps"])
            for r in read_aggregate_view(spark, partials).collect()
        }

    for run in (1, 2):  # run 2 = full replay with a new checkpoint
        q = run_aggregate_maintenance(
            spark, in_dir, partials, str(tmp_path / f"ckpt{run}")
        )
        q.awaitTermination(300)
        assert view_dict() == expected, f"run {run}"

    compacted = str(tmp_path / "compacted")
    compact_aggregate_partials(spark, partials, compacted)
    got = {
        (r["user_id"], str(r["day"])): (r["n_events"], r["sum_steps"])
        for r in read_aggregate_view(spark, compacted).collect()
    }
    assert got == expected


def test_transition_stream_state_carries_across_batches(spark, tmp_path):
    """Order-sensitive stateful streaming (streaming/transitions.py):
    with a two-file time-split drained one file per trigger, the
    boundary transition (a user's last event of batch 1 -> first event
    of batch 2) must come from the STATE STORE, and the full emitted
    set must equal the batch lag-window answer."""
    import json
    import os
    import time as _time

    from cognitive_score_bigdata_spark.streaming.transitions import (
        transition_stream,
    )

    rows = [
        # user 1: a->b in file1, then b->c, c->a in file2 (boundary b->c)
        (1, "a", 100, 1), (1, "b", 200, 2),
        (1, "c", 300, 3), (1, "a", 400, 4),
        # user 2: single event in file1, one more in file2 (boundary d->e)
        (2, "d", 150, 5), (2, "e", 250, 6),
    ]
    f1 = [r for r in rows if r[2] < 250]
    f2 = [r for r in rows if r[2] >= 250]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, batch in enumerate((f1, f2)):
        p = in_dir / f"part-{i}.json"
        p.write_text(
            "\n".join(
                json.dumps(
                    {
                        "user_id": u,
                        "event_type": t,
                        "ts_us": ts,
                        "event_id": e,
                    }
                )
                for u, t, ts, e in batch
            )
        )
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        _time.sleep(0.05)
    got = transition_stream(
        spark,
        str(in_dir),
        str(tmp_path / "ckpt"),
        query_name="csb_markov_test_carry",
        max_files_per_trigger=1,
    )
    pairs = {
        (r["user_id"], r["prev_type"], r["next_type"])
        for r in got.collect()
    }
    # batch answer: lag over (user, ts, id)
    expect = set()
    by_user: dict = {}
    for u, t, ts, e in sorted(rows, key=lambda r: (r[0], r[2], r[3])):
        if u in by_user:
            expect.add((u, by_user[u], t))
        by_user[u] = t
    assert pairs == expect == {
        (1, "a", "b"), (1, "b", "c"), (1, "c", "a"), (2, "d", "e"),
    }


def test_transition_stream_late_batch_does_not_regress_state(
    spark, tmp_path
):
    """A micro-batch wholly OLDER than the stored last event (late
    arrival across batches) must not overwrite the carried state: the
    next on-time batch chains off the max (ts_us, event_id) seen so
    far, not off the late batch's tail (ADVICE r5: state.update was
    unconditional, so one late batch corrupted all future boundaries).
    The late batch's own EMISSION is still the documented cross-batch
    reorder limit — only state monotonicity is pinned here."""
    import json
    import os
    import time as _time

    from cognitive_score_bigdata_spark.streaming.transitions import (
        transition_stream,
    )

    files = [
        [(1, "a", 100, 1), (1, "b", 200, 2)],  # on-time: state -> b@200
        [(1, "x", 50, 0)],  # LATE: entirely before b@200
        [(1, "c", 300, 3)],  # on-time: must chain b->c, NOT x->c
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, batch in enumerate(files):
        p = in_dir / f"part-{i}.json"
        p.write_text(
            "\n".join(
                json.dumps(
                    {
                        "user_id": u,
                        "event_type": t,
                        "ts_us": ts,
                        "event_id": e,
                    }
                )
                for u, t, ts, e in batch
            )
        )
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        _time.sleep(0.05)
    got = transition_stream(
        spark,
        str(in_dir),
        str(tmp_path / "ckpt"),
        query_name="csb_markov_test_late",
        max_files_per_trigger=1,
    )
    pairs = {(r["prev_type"], r["next_type"]) for r in got.collect()}
    assert ("b", "c") in pairs  # chained off the non-regressed state
    assert ("x", "c") not in pairs  # the late tail did NOT become state
