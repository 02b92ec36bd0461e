"""Serving-edge tests: the dashboard payload contract
(main.py:133-173 parity — shapes, thresholds, null handling, string
timestamps, int truncation)."""

from __future__ import annotations

import datetime
import os
import shutil
import threading

import pytest

from cognitive_score_bigdata_spark import serving
from cognitive_score_bigdata_spark.operators import graph
from cognitive_score_bigdata_spark.serving import dashboard_stats, worker_status
from cognitive_score_bigdata_spark.streaming import pipeline
from tests.conftest import jobs_started


def test_dashboard_payload_contract(spark):
    users = spark.createDataFrame(
        [("u1", datetime.date(1990, 1, 1), "Keto"),
         ("u2", datetime.date(1985, 5, 5), "Vegan")],
        "user_id string, date_of_birth date, diet_type string",
    )
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    cs = spark.createDataFrame(
        [
            ("c1", "u1", "e1", ts, 42),                      # critical
            ("c2", "u2", "e2", ts.replace(hour=13), 88),     # normal
            ("c3", "u1", "e3", ts.replace(hour=14), 49),     # critical
        ],
        "cs_id string, user_id string, event_id string, "
        "timestamp timestamp, cognitive_score int",
    )
    tr = spark.createDataFrame(
        [("t1", "u1", "e1", ts, 95)],  # exact-ts match only for c1
        "tr_id string, user_id string, event_id string, "
        "timestamp timestamp, heart_rate int",
    )

    payload = dashboard_stats(users, cs, tr)

    assert payload["critical_alerts"] == 2
    assert payload["avg_cognitive_score"] == int((42 + 88 + 49) / 3)
    checks = payload["recent_checks"]
    assert len(checks) == 3
    assert checks[0]["timestamp"] > checks[-1]["timestamp"]  # recency order
    by_id = {(c["user_id"], c["cognitive_score"]): c for c in checks}
    assert by_id[("u1", 42)]["heart_rate"] == 95  # joined at exact ts
    assert by_id[("u1", 49)]["heart_rate"] == 0  # null → 0 default
    assert by_id[("u1", 42)]["status"] == "Critical"
    assert by_id[("u2", 88)]["status"] == "Normal"
    assert isinstance(checks[0]["timestamp"], str)  # JSON edge: strings


def test_dashboard_empty_tables(spark):
    users = spark.createDataFrame(
        [], "user_id string, date_of_birth date, diet_type string"
    )
    cs = spark.createDataFrame(
        [],
        "cs_id string, user_id string, event_id string, "
        "timestamp timestamp, cognitive_score int",
    )
    tr = spark.createDataFrame(
        [],
        "tr_id string, user_id string, event_id string, "
        "timestamp timestamp, heart_rate int",
    )
    payload = dashboard_stats(users, cs, tr)
    assert payload == {
        "recent_checks": [],
        "critical_alerts": 0,
        "avg_cognitive_score": 0,
    }


def test_http_serving_edge(spark):
    """The stdlib HTTP edge must serve the exact dashboard payload the
    engine assembles, route predict POSTs with JSON bodies, and 404 / 400
    cleanly (reference main.py:84-173 endpoints)."""
    import json
    import urllib.error
    import urllib.request

    from cognitive_score_bigdata_spark.serving_http import ServingServer

    users = spark.createDataFrame(
        [("u1", datetime.date(1990, 1, 1), "Keto")],
        "user_id string, date_of_birth date, diet_type string",
    )
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    cs = spark.createDataFrame(
        [("c1", "u1", "e1", ts, 42)],
        "cs_id string, user_id string, event_id string, "
        "timestamp timestamp, cognitive_score int",
    )
    tr = spark.createDataFrame(
        [],
        "tr_id string, user_id string, event_id string, "
        "timestamp timestamp, heart_rate int",
    )

    expected = dashboard_stats(users, cs, tr)
    scores = {"u1": {"user_id": "u1", "cognitive_score": 42.0, "status": "Critical"}}

    def predict(req):
        return scores[req["user_id"]]  # KeyError → 404

    with ServingServer(lambda: dashboard_stats(users, cs, tr), predict) as url:
        got = json.loads(urllib.request.urlopen(f"{url}/api/dashboard/stats").read())
        assert got == expected

        req = urllib.request.Request(
            f"{url}/api/predict",
            data=json.dumps({"user_id": "u1"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        assert json.loads(urllib.request.urlopen(req).read())["status"] == "Critical"

        for bad_url, data, want in [
            (f"{url}/nope", None, 404),
            (f"{url}/api/predict", json.dumps({"user_id": "ghost"}).encode(), 404),
            (f"{url}/api/predict", b"not json{", 400),
        ]:
            try:
                urllib.request.urlopen(
                    urllib.request.Request(bad_url, data=data)
                    if data is not None
                    else bad_url
                )
                raise AssertionError(f"{bad_url} should have errored")
            except urllib.error.HTTPError as e:
                assert e.code == want


def test_worker_status_contract(spark):
    """`GET /api/worker/{user_id}/status` parity (main.py:73-81): latest
    wearable snapshot per user with int casts, string timestamp, and the
    default payload — not a 404 — for a user with no data yet."""
    import json
    import urllib.request

    from cognitive_score_bigdata_spark.serving import worker_status
    from cognitive_score_bigdata_spark.serving_http import ServingServer

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    wearables = spark.createDataFrame(
        [
            ("u1", ts, 61, 1000),
            ("u1", ts.replace(hour=14), 72, 4300),   # latest for u1
            ("u1", ts.replace(hour=13), 65, 2000),
            ("u2", ts, None, None),                  # null readings -> 0
        ],
        "user_id string, timestamp timestamp, heart_rate int, steps int",
    )

    got = worker_status(wearables, "u1")
    assert got == {
        "user_id": "u1",
        "last_heart_rate": 72,
        "last_steps": 4300,
        "timestamp": "2024-01-01 14:00:00",
    }
    assert worker_status(wearables, "u2") == {
        "user_id": "u2",
        "last_heart_rate": 0,
        "last_steps": 0,
        "timestamp": "2024-01-01 12:00:00",
    }
    # missing user: default row, mirroring the reference's dynamo helper
    assert worker_status(wearables, "nobody") == {
        "user_id": "nobody",
        "last_heart_rate": 0,
        "last_steps": 0,
        "timestamp": None,
    }

    with ServingServer(
        lambda: {}, worker_status_fn=lambda uid: worker_status(wearables, uid)
    ) as url:
        got = json.loads(urllib.request.urlopen(f"{url}/health").read())
        assert got == {"status": "healthy"}  # main.py:70-71
        got = json.loads(
            urllib.request.urlopen(f"{url}/api/worker/u1/status").read()
        )
        assert got["last_heart_rate"] == 72 and got["last_steps"] == 4300
        got = json.loads(
            urllib.request.urlopen(f"{url}/api/worker/ghost/status").read()
        )
        assert got == {
            "user_id": "ghost",
            "last_heart_rate": 0,
            "last_steps": 0,
            "timestamp": None,
        }


def test_worker_status_timestamp_tie_is_deterministic(spark):
    """ADVICE r4: on timestamp ties the returned snapshot must be stable
    across runs/partitionings (the DynamoDB reference has a unique sort
    key; we add heart_rate/steps as explicit tiebreakers)."""
    import datetime

    from cognitive_score_bigdata_spark.serving import worker_status

    ts = datetime.datetime(2024, 3, 1, 9, 0, 0)
    rows = [("u1", ts, hr, hr * 10) for hr in (55, 90, 71)]
    for nparts in (1, 3):
        wearables = spark.createDataFrame(
            rows,
            "user_id string, timestamp timestamp, "
            "heart_rate int, steps int",
        ).repartition(nparts)
        got = worker_status(wearables, "u1")
        assert got["last_heart_rate"] == 90 and got["last_steps"] == 900


def test_worker_status_prunes_to_the_users_bucket(spark, tmp_path, monkeypatch):
    """Over the bucketed latest-state table the lookup scans only the
    user's bucket, without being told the bucket count, and returns the
    same payload as over the same rows without the layout columns: for a
    present user, a user with null readings and a missing user. The
    table is grown to four buckets so that pruning has files to skip."""
    import os
    import re

    from cognitive_score_bigdata_spark.serving import status_lookup, worker_status
    from cognitive_score_bigdata_spark.streaming import pipeline

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    batch = spark.createDataFrame(
        [
            ("u1", "tracking_v1", ts, 61, 1000, 5),
            ("u1", "tracking_v1", ts.replace(hour=14), 72, 4300, 6),
            ("u2", "tracking_v1", ts, None, None, None),
        ]
        + [(f"u{i}", "tracking_v1", ts, 60 + i, i, 1) for i in range(3, 200)],
        "user_id string, schema string, ts timestamp, heart_rate int, "
        "steps int, calories int",
    )
    state_dir = str(tmp_path / "state")
    pipeline.upsert_latest_state(spark, batch, state_dir)
    size = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, names in os.walk(state_dir)
        for f in names
        if f.endswith(".parquet")
    )
    monkeypatch.setattr(pipeline, "STATE_BUCKET_BYTES", size // 3)
    pipeline.upsert_latest_state(spark, batch, state_dir)  # replay, at 4 buckets
    assert os.listdir(state_dir).count("n_buckets=4") == 1
    wearables = spark.read.parquet(state_dir).withColumnRenamed("ts", "timestamp")

    for uid in ("u1", "u2", "nobody"):
        assert worker_status(wearables, uid) == worker_status(
            wearables.drop("n_buckets", "bucket"), uid
        ), uid
    assert worker_status(wearables, "u1") == {
        "user_id": "u1",
        "last_heart_rate": 72,
        "last_steps": 4300,
        "timestamp": "2024-01-01 14:00:00",
    }
    assert worker_status(wearables, "u2")["last_heart_rate"] == 0

    lookup = status_lookup(wearables, "u1")
    assert lookup.collect()[0]["user_id"] == "u1"
    leaves = lookup._jdf.queryExecution().executedPlan().collectLeaves()
    (scan,) = [leaves.apply(i) for i in range(leaves.size())]
    assert re.search(
        r"PartitionFilters: \[[^\]]*\(bucket#\d+ = cast\(pmod\(", scan.toString()
    ), scan.toString()
    assert scan.metrics().apply("numFiles").value() == 1


def test_http_route_that_raises_answers_500(spark):
    """A route callable that raises gets a JSON 500, not a dropped
    connection; predict's KeyError stays a 404, and the server keeps
    serving after either."""
    import json
    import urllib.error
    import urllib.request

    from cognitive_score_bigdata_spark.serving_http import ServingServer

    def broken_status(uid):
        raise RuntimeError("state table unreadable")

    def predict(req):
        if req["user_id"] == "ghost":
            raise KeyError(req["user_id"])
        raise ValueError("model not loaded")

    def post(url, body):
        return urllib.request.Request(
            f"{url}/api/predict", data=json.dumps(body).encode()
        )

    with ServingServer(None, predict, broken_status) as url:
        for req, want in [
            (f"{url}/api/worker/u1/status", 500),
            (post(url, {"user_id": "u1"}), 500),
            (post(url, {"user_id": "ghost"}), 404),
            (f"{url}/api/dashboard/stats", 404),  # no stats callable
        ]:
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(req)
            assert e.value.code == want
            assert "detail" in json.loads(e.value.read())
        assert json.loads(urllib.request.urlopen(f"{url}/health").read()) == {
            "status": "healthy"
        }


# -- both status paths: the per-snapshot index and the per-call lookup --


@pytest.fixture(params=["index", "lookup"])
def status_path(request, monkeypatch):
    """Answer status reads from the per-snapshot index, or (with a zero
    driver budget) with one bucket-pruned lookup job per call; each case
    fails unless its own path answered."""
    calls = []
    lookup = serving.status_lookup
    monkeypatch.setattr(
        serving, "status_lookup", lambda *a: calls.append(a) or lookup(*a)
    )
    if request.param == "lookup":
        monkeypatch.setattr(graph, "LOCAL_FINISH_BYTES", 0)
    yield request.param
    assert bool(calls) == (request.param == "lookup"), calls


def _payload(uid, hr, steps, ts):
    return {"user_id": uid, "last_heart_rate": hr, "last_steps": steps, "timestamp": ts}


def _state_batch(spark, rows):
    return spark.createDataFrame(
        [(u, "tracking_v1", ts, hr, steps, 1) for u, ts, hr, steps in rows],
        "user_id string, schema string, ts timestamp, heart_rate int, "
        "steps int, calories int",
    )


def _read_state(spark, state_dir):
    return spark.read.parquet(state_dir).withColumnRenamed("ts", "timestamp")


def _parquet_bytes(state_dir):
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, names in os.walk(state_dir)
        for f in names
        if f.endswith(".parquet")
    )


TS = datetime.datetime(2024, 1, 1, 12, 0, 0)


def test_status_paths_agree_on_a_bucketed_table(spark, tmp_path, monkeypatch, status_path):
    """A 4-bucket table answers a present user, a user with null
    readings and a missing user, the same as its rows without the
    layout columns."""
    rows = [
        ("u1", TS, 61, 1000),
        ("u1", TS.replace(hour=14), 72, 4300),
        ("u2", TS, None, None),
    ] + [(f"u{i}", TS, 60 + i, i) for i in range(3, 200)]
    state_dir = str(tmp_path / "state")
    pipeline.upsert_latest_state(spark, _state_batch(spark, rows), state_dir)
    monkeypatch.setattr(pipeline, "STATE_BUCKET_BYTES", _parquet_bytes(state_dir) // 3)
    pipeline.upsert_latest_state(spark, _state_batch(spark, rows), state_dir)
    assert os.listdir(state_dir).count("n_buckets=4") == 1
    wearables = _read_state(spark, state_dir)
    flat = wearables.drop("n_buckets", "bucket")

    want = {
        "u1": _payload("u1", 72, 4300, "2024-01-01 14:00:00"),
        "u2": _payload("u2", 0, 0, "2024-01-01 12:00:00"),
        "u7": _payload("u7", 67, 7, "2024-01-01 12:00:00"),
        "nobody": _payload("nobody", 0, 0, None),
    }
    for uid, payload in want.items():
        assert worker_status(wearables, uid) == payload, uid
        assert worker_status(flat, uid) == payload, uid


def test_status_paths_agree_across_an_interrupted_resize(
    spark, tmp_path, monkeypatch, status_path
):
    """With two ``n_buckets=`` layouts left by a crashed resize, each
    user answers from their newest row in either layout."""
    users = [f"user-{i}" for i in range(40)]
    state_dir = str(tmp_path / "state")
    pipeline.upsert_latest_state(
        spark, _state_batch(spark, [(u, TS, 60, 100) for u in users]), state_dir
    )
    stale = str(tmp_path / "stale")
    shutil.copytree(os.path.join(state_dir, "n_buckets=1"), stale)
    monkeypatch.setattr(pipeline, "STATE_BUCKET_BYTES", _parquet_bytes(state_dir) * 3 // 4)
    later = TS.replace(hour=13)
    pipeline.upsert_latest_state(
        spark, _state_batch(spark, [(u, later, 99, 200) for u in users[:3]]), state_dir
    )
    shutil.copytree(stale, os.path.join(state_dir, "n_buckets=1"))
    assert sorted(os.listdir(state_dir)) == ["n_buckets=1", "n_buckets=2"]
    wearables = _read_state(spark, state_dir)

    for u in users[:3]:
        assert worker_status(wearables, u) == _payload(u, 99, 200, "2024-01-01 13:00:00")
    for u in users[3:6]:
        assert worker_status(wearables, u) == _payload(u, 60, 100, "2024-01-01 12:00:00")
    assert worker_status(wearables, "nobody") == _payload("nobody", 0, 0, None)


def test_status_paths_break_timestamp_ties_alike(spark, status_path):
    """Rows that tie on the timestamp resolve by heart rate, then steps,
    on either path and whatever the partitioning."""
    rows = [("u1", TS, hr, steps) for hr, steps in ((55, 1), (90, 7), (90, 9), (71, 3))]
    for nparts in (1, 3):
        wearables = spark.createDataFrame(
            rows, "user_id string, timestamp timestamp, heart_rate int, steps int"
        ).repartition(nparts)
        assert worker_status(wearables, "u1") == _payload("u1", 90, 9, "2024-01-01 12:00:00")


def test_status_paths_convert_microseconds_as_a_row_does(spark, status_path, monkeypatch):
    """The payload's timestamp string is the one a collected Row gives,
    to the microsecond, when the session time zone, the driver's local
    time zone and UTC all differ."""
    import time

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        with monkeypatch.context() as m:
            m.setenv("TZ", "America/New_York")
            time.tzset()
            wearables = spark.sql(
                "SELECT * FROM VALUES "
                "('u1', TIMESTAMP'2024-01-01 14:00:00.123456', 72, 4300), "
                "('u1', TIMESTAMP'2024-01-01 13:59:59.999999', 65, 2000), "
                "('u2', TIMESTAMP'1969-12-31 23:59:59.000001', 50, 10) "
                "AS t(user_id, timestamp, heart_rate, steps)"
            )
            for uid in ("u1", "u2"):
                (row,) = (
                    wearables.filter(f"user_id = '{uid}'")
                    .orderBy(wearables.timestamp.desc())
                    .limit(1)
                    .collect()
                )
                got = worker_status(wearables, uid)
                assert got["timestamp"] == str(row["timestamp"]), uid
                assert got["timestamp"].endswith((".123456", ".000001")), got
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
        time.tzset()


def test_status_snapshot_keeps_its_answer_after_an_upsert(spark, tmp_path):
    """An indexed frame answers from the state it was built on; a fresh
    read of the table sees the upsert."""
    state_dir = str(tmp_path / "state")
    pipeline.upsert_latest_state(spark, _state_batch(spark, [("u1", TS, 61, 1000)]), state_dir)
    old = _read_state(spark, state_dir)
    before = _payload("u1", 61, 1000, "2024-01-01 12:00:00")
    assert worker_status(old, "u1") == before
    pipeline.upsert_latest_state(
        spark, _state_batch(spark, [("u1", TS.replace(hour=15), 80, 5000)]), state_dir
    )
    assert worker_status(old, "u1") == before
    assert worker_status(_read_state(spark, state_dir), "u1") == _payload(
        "u1", 80, 5000, "2024-01-01 15:00:00"
    )


def _wearables(spark, n_users=50):
    return spark.createDataFrame(
        [(f"u{i}", TS, 60 + i % 40, i) for i in range(n_users)],
        "user_id string, timestamp timestamp, heart_rate int, steps int",
    )


def test_status_index_serves_without_jobs_and_builds_once(spark):
    """Concurrent first calls on one frame start only one build's jobs,
    and every later call starts none."""
    with jobs_started(spark) as solo:
        assert worker_status(_wearables(spark), "u3")["last_steps"] == 3
    assert solo[0] > 0

    wearables = _wearables(spark)
    barrier = threading.Barrier(2)
    started, got = {}, {}

    def first_call(uid):
        with jobs_started(spark) as n:
            barrier.wait()
            got[uid] = worker_status(wearables, uid)
        started[uid] = n[0]

    threads = [threading.Thread(target=first_call, args=(u,)) for u in ("u1", "u2")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sum(started.values()) == solo[0], started
    assert [got[u]["last_steps"] for u in ("u1", "u2")] == [1, 2]
    with jobs_started(spark) as later:
        for i in range(10):
            assert worker_status(wearables, f"u{i}")["last_steps"] == i
    assert later == [0]


def test_status_lookup_runs_one_job_per_call_above_the_budget(spark, monkeypatch):
    """At a zero driver budget the frame is counted once, then every
    call runs one lookup job, as before the index."""
    monkeypatch.setattr(graph, "LOCAL_FINISH_BYTES", 0)
    wearables = _wearables(spark)
    worker_status(wearables, "u0")
    for i in range(1, 4):
        with jobs_started(spark) as started:
            assert worker_status(wearables, f"u{i}")["last_steps"] == i
        assert started == [1]


def test_session_scoped_cache_evicts_stale_appids():
    """session_cache.session_scoped keys by applicationId (id(spark) can
    be recycled by the allocator) and drops other-session entries on
    rebuild."""
    class _Ctx:
        def __init__(self, app):
            self.applicationId = app

    class _S:
        def __init__(self, app):
            self.sparkContext = _Ctx(app)

    from cognitive_score_bigdata_spark.session_cache import session_scoped

    store: dict = {}
    s1, s2 = _S("app-1"), _S("app-2")
    assert session_scoped(store, s1, ("x",), lambda: 1) == 1
    assert session_scoped(store, s1, ("x",), lambda: 2) == 1  # cached
    assert session_scoped(store, s2, ("x",), lambda: 3) == 3  # new session
    assert list(store) == [("app-2", "x")]  # app-1 entry evicted
