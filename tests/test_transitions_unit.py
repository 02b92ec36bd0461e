"""Unit pins for the r16-vectorized `_emit_transitions` state function
(streaming/transitions.py): the numpy rewrite must reproduce the pandas
form's emission and state semantics exactly — ordering by (ts_us,
event_id), state-carried first transition, monotone state update, and
the empty/single-row edge cases. Spark-free: GroupState is mocked, so
this runs in milliseconds and pins the kernel itself (the stream-level
behavior is covered by test_streaming.py's drain/carryover tests)."""

from __future__ import annotations

import pandas as pd

from cognitive_score_bigdata_spark.streaming.transitions import (
    _emit_transitions,
)


class _FakeState:
    def __init__(self, value=None):
        self._v = value
        self.updates = []

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)
        self.updates.append(tuple(v))


def _run(frames, state):
    out = list(_emit_transitions((7,), iter(frames), state))
    return pd.concat(out) if out else pd.DataFrame(
        columns=["user_id", "prev_type", "next_type"]
    )


def _pdf(rows):
    return pd.DataFrame(rows, columns=["user_id", "event_type", "ts_us", "event_id"])


def test_orders_by_ts_then_event_id_and_updates_state():
    batch = _pdf(
        [
            (7, "c", 30, 1),
            (7, "a", 10, 2),
            (7, "b", 10, 1),  # same ts as 'a': event_id breaks the tie
        ]
    )
    st = _FakeState()
    out = _run([batch], st)
    # sorted order: (10,1)=b, (10,2)=a, (30,1)=c -> transitions b->a, a->c
    assert list(zip(out["prev_type"], out["next_type"])) == [
        ("b", "a"),
        ("a", "c"),
    ]
    assert (out["user_id"] == 7).all()
    assert st.get == (30, 1, "c")


def test_state_seeds_first_transition_and_multiframe_concat():
    st = _FakeState((5, 9, "x"))
    out = _run([_pdf([(7, "a", 10, 1)]), _pdf([(7, "b", 20, 1)])], st)
    assert list(zip(out["prev_type"], out["next_type"])) == [
        ("x", "a"),
        ("a", "b"),
    ]
    assert st.get == (20, 1, "b")


def test_late_batch_does_not_regress_state():
    st = _FakeState((100, 1, "z"))
    out = _run([_pdf([(7, "a", 10, 1), (7, "b", 20, 1)])], st)
    # emission still happens (documented cross-batch reorder limit is
    # emission-side), but state keeps the max (ts_us, event_id)
    assert list(zip(out["prev_type"], out["next_type"])) == [
        ("z", "a"),
        ("a", "b"),
    ]
    assert st.get == (100, 1, "z")
    assert st.updates == []


def test_single_event_no_state_emits_nothing_but_updates_state():
    st = _FakeState()
    out = _run([_pdf([(7, "a", 10, 1)])], st)
    assert out.empty
    assert st.get == (10, 1, "a")


def test_null_prev_type_is_suppressed_like_the_pandas_form():
    # ADVICE r16: a null event_type mid-batch must not emit a transition
    # with prev_type=null — the pandas form dropna'd those rows; the
    # vectorized kernel must too. The null still participates as a NEXT
    # (a->None is emitted by neither form? it was: dropna was only on
    # prev_type, so a->None IS emitted) and still advances state.
    st = _FakeState()
    out = _run([_pdf([(7, "a", 10, 1), (7, None, 20, 1), (7, "b", 30, 1)])], st)
    # pandas form: transitions (a->None), (None->b); dropna(prev) keeps
    # only (a->None)
    assert list(zip(out["prev_type"], out["next_type"])) == [("a", None)]
    assert st.get == (30, 1, "b")


def test_all_null_prev_after_mask_emits_nothing():
    st = _FakeState((5, 1, None))  # state carries a null last type
    out = _run([_pdf([(7, "a", 10, 1)])], st)
    assert out.empty  # the only transition (None->a) has null prev
    assert st.get == (10, 1, "a")


def test_null_last_event_carries_a_null_not_the_string_none():
    # a batch that ends with a null event_type stores a real null, so
    # the next batch emits no transition out of a fake "None" type
    st = _FakeState()
    out = _run([_pdf([(7, "a", 10, 1), (7, None, 20, 1)])], st)
    assert list(zip(out["prev_type"], out["next_type"])) == [("a", None)]
    assert st.get == (20, 1, None)
    out = _run([_pdf([(7, "b", 30, 1), (7, "c", 40, 1)])], st)
    assert list(zip(out["prev_type"], out["next_type"])) == [("b", "c")]
    assert st.get == (40, 1, "c")


def test_all_empty_frames_is_a_noop():
    st = _FakeState((1, 1, "a"))
    out = _run([_pdf([]).astype({"ts_us": "int64", "event_id": "int64"})], st)
    assert out.empty
    assert st.get == (1, 1, "a") and st.updates == []
