"""The driver-window order is computed from the committed correctness
ledgers: never-checked and last-red queries first, then the stalest
passes. No Spark session."""

from __future__ import annotations

import hashlib
import json
import random

from cognitive_score_bigdata_spark.queries import (
    committed_ledgers,
    driver_order,
    ledger_keys,
    load_registry,
)

WINDOW = 50

# sha256 of json.dumps({name: oracle} over sorted names, sort_keys=True):
# the registry's keys and oracle strings before the order was computed.
ORACLE_MAP_SHA256 = "c563fc1f546a8e17eaefec6a0ba3225c8deaf98bfefa3a7ecb39c5dc31ce400a"

R16_BIRTHS = [
    "vector_ann_ivfbq_stream_topk",
    "vector_ann_ivf_delete_topk",
    "vector_ann_ivf_delete_readd_topk",
    "vector_ann_ivf_delete_rewrite_topk",
    "vector_ann_ivf_filtered_topk",
    "vector_ann_ivf_compact_dead_topk",
]

GREEN = {"hash_match": True, "err": None}
RED = {"hash_match": False, "err": None}
ROWS_ONLY = {"hash_match": None, "err": "no_oracle"}


def _ledgers(tmp_path, rounds: dict[int, dict[str, dict]]) -> list:
    paths = []
    for rnd, rows in rounds.items():
        path = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
        path.write_text(json.dumps(rows))
        paths.append(path)
    return paths


def _synthetic(tmp_path):
    ledgers = _ledgers(
        tmp_path,
        {
            1: {"a_old": GREEN, "b_fixed": RED, "c_broke": GREEN},
            2: {"b_fixed": GREEN, "d_rows_only": ROWS_ONLY},
            3: {"c_broke": RED, "e_new": GREEN},
        },
    )
    names = ["a_old", "b_fixed", "c_broke", "d_rows_only", "e_new", "z_never"]
    return names, ledgers


def test_unchecked_and_red_rank_ahead_of_every_pass(tmp_path):
    names, ledgers = _synthetic(tmp_path)
    assert ledger_keys(ledgers) == {
        "a_old": 1,
        "b_fixed": 2,
        "c_broke": -1,
        "d_rows_only": 2,
        "e_new": 3,
    }
    assert driver_order(names, ledgers) == [
        "c_broke",
        "z_never",
        "a_old",
        "b_fixed",
        "d_rows_only",
        "e_new",
    ]


def test_only_round_named_files_are_ledgers(tmp_path, monkeypatch):
    from cognitive_score_bigdata_spark import queries

    ledgers = _ledgers(tmp_path, {1: {"a": GREEN}})
    (tmp_path / "CORRECTNESS_r02_c8.json").write_text(json.dumps({"a": RED}))
    monkeypatch.setattr(queries, "_REPO_ROOT", tmp_path)
    assert committed_ledgers() == ledgers


def test_no_ledgers_orders_by_name():
    assert driver_order(["b", "c", "a"], []) == ["a", "b", "c"]


def test_window_never_holds_a_fresher_check_than_the_rest():
    order = list(load_registry())
    keys = ledger_keys(committed_ledgers())
    seq = [keys.get(n, -1) for n in order]
    for k in range(1, len(seq)):
        assert max(seq[:k]) <= min(seq[k:]), (k, order[k - 1])


def test_order_ignores_input_and_ledger_order(tmp_path):
    names, ledgers = _synthetic(tmp_path)
    committed = committed_ledgers()
    registry_names = list(load_registry())
    expected = driver_order(names, ledgers)
    expected_registry = driver_order(registry_names, committed)
    rng = random.Random(0)
    for _ in range(5):
        rng.shuffle(names)
        rng.shuffle(ledgers)
        rng.shuffle(registry_names)
        rng.shuffle(committed)
        assert driver_order(names, ledgers) == expected
        assert driver_order(registry_names, committed) == expected_registry


def test_window_fronts_the_unchecked_r16_births():
    keys = ledger_keys(committed_ledgers())
    window = list(load_registry())[:WINDOW]
    # once a committed ledger passes a birth, it may leave the window
    assert {n for n in R16_BIRTHS if keys.get(n, -1) < 0} <= set(window)


def test_registry_keys_and_oracles_unchanged():
    registry = load_registry()
    assert len(registry) == 276
    oracles = {n: registry[n].oracle for n in sorted(registry)}
    digest = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode())
    assert digest.hexdigest() == ORACLE_MAP_SHA256
