"""Serving-edge tests: the dashboard payload contract
(main.py:133-173 parity — shapes, thresholds, null handling, string
timestamps, int truncation)."""

from __future__ import annotations

import datetime

from cognitive_score_bigdata_spark.serving import dashboard_stats


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
