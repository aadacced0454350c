"""Alert threshold semantics + state machine + distributed backtest
(SURVEY §2.10; ref packages/api/src/tasks/checkAlerts/index.ts)."""

from __future__ import annotations

from datetime import datetime

import pytest

from hyperdx_spark.alerts import (
    AlertConfig,
    AlertState,
    GroupHistory,
    ThresholdType,
    backtest,
    does_exceed_threshold,
    evaluate,
)

T = datetime


def cfg(**kw):
    return AlertConfig(threshold=10, **kw)


def test_threshold_operators():
    assert does_exceed_threshold(cfg(), 10)                      # above = >=
    assert not does_exceed_threshold(cfg(threshold_type=ThresholdType.ABOVE_EXCLUSIVE), 10)
    assert does_exceed_threshold(cfg(threshold_type=ThresholdType.BELOW), 9)
    assert not does_exceed_threshold(cfg(threshold_type=ThresholdType.BELOW), 10)
    assert does_exceed_threshold(cfg(threshold_type=ThresholdType.BELOW_OR_EQUAL), 10)
    assert does_exceed_threshold(cfg(threshold_type=ThresholdType.EQUAL), 10)
    assert does_exceed_threshold(cfg(threshold_type=ThresholdType.NOT_EQUAL), 11)
    b = cfg(threshold_type=ThresholdType.BETWEEN, threshold_max=20)
    assert does_exceed_threshold(b, 15) and not does_exceed_threshold(b, 21)
    nb = cfg(threshold_type=ThresholdType.NOT_BETWEEN, threshold_max=20)
    assert does_exceed_threshold(nb, 21) and not does_exceed_threshold(nb, 15)
    with pytest.raises(ValueError):
        does_exceed_threshold(cfg(threshold_type=ThresholdType.BETWEEN), 5)


# Full doesExceedThreshold matrix from checkAlerts.int.test.ts:72-970 —
# every zero / negative / decimal / boundary expectation, transcribed.
# Tuples: (type, threshold, threshold_max, value, expected).
_TT = ThresholdType
_THRESHOLD_MATRIX = [
    # ABOVE (>=): basic + zero + negative + decimal
    (_TT.ABOVE, 10, None, 11, True), (_TT.ABOVE, 10, None, 10, True),
    (_TT.ABOVE, 10, None, 9, False),
    (_TT.ABOVE, 0, None, 1, True), (_TT.ABOVE, 0, None, 0, True),
    (_TT.ABOVE, 0, None, -1, False),
    (_TT.ABOVE, -5, None, -3, True), (_TT.ABOVE, -5, None, -5, True),
    (_TT.ABOVE, -5, None, -7, False),
    (_TT.ABOVE, 10.5, None, 11.0, True), (_TT.ABOVE, 10.5, None, 10.5, True),
    (_TT.ABOVE, 10.5, None, 10.0, False),
    # BELOW (<)
    (_TT.BELOW, 10, None, 9, True), (_TT.BELOW, 10, None, 10, False),
    (_TT.BELOW, 10, None, 11, False),
    (_TT.BELOW, 0, None, -1, True), (_TT.BELOW, 0, None, 0, False),
    (_TT.BELOW, 0, None, 1, False),
    (_TT.BELOW, -5, None, -7, True), (_TT.BELOW, -5, None, -5, False),
    (_TT.BELOW, -5, None, -3, False),
    (_TT.BELOW, 10.5, None, 10.0, True), (_TT.BELOW, 10.5, None, 10.5, False),
    (_TT.BELOW, 10.5, None, 11.0, False),
    # ABOVE_EXCLUSIVE (>)
    (_TT.ABOVE_EXCLUSIVE, 10, None, 11, True),
    (_TT.ABOVE_EXCLUSIVE, 10, None, 10, False),
    (_TT.ABOVE_EXCLUSIVE, 10, None, 9, False),
    (_TT.ABOVE_EXCLUSIVE, 0, None, 1, True),
    (_TT.ABOVE_EXCLUSIVE, 0, None, 0, False),
    (_TT.ABOVE_EXCLUSIVE, 0, None, -1, False),
    (_TT.ABOVE_EXCLUSIVE, -5, None, -3, True),
    (_TT.ABOVE_EXCLUSIVE, -5, None, -5, False),
    (_TT.ABOVE_EXCLUSIVE, -5, None, -7, False),
    (_TT.ABOVE_EXCLUSIVE, 10.5, None, 11.0, True),
    (_TT.ABOVE_EXCLUSIVE, 10.5, None, 10.5, False),
    (_TT.ABOVE_EXCLUSIVE, 10.5, None, 10.0, False),
    # BELOW_OR_EQUAL (<=)
    (_TT.BELOW_OR_EQUAL, 10, None, 9, True),
    (_TT.BELOW_OR_EQUAL, 10, None, 10, True),
    (_TT.BELOW_OR_EQUAL, 10, None, 11, False),
    (_TT.BELOW_OR_EQUAL, 0, None, -1, True),
    (_TT.BELOW_OR_EQUAL, 0, None, 0, True),
    (_TT.BELOW_OR_EQUAL, 0, None, 1, False),
    (_TT.BELOW_OR_EQUAL, -5, None, -7, True),
    (_TT.BELOW_OR_EQUAL, -5, None, -5, True),
    (_TT.BELOW_OR_EQUAL, -5, None, -3, False),
    (_TT.BELOW_OR_EQUAL, 10.5, None, 10.0, True),
    (_TT.BELOW_OR_EQUAL, 10.5, None, 10.5, True),
    (_TT.BELOW_OR_EQUAL, 10.5, None, 11.0, False),
    # EQUAL / NOT_EQUAL
    (_TT.EQUAL, 10, None, 10, True), (_TT.EQUAL, 10, None, 11, False),
    (_TT.EQUAL, 10, None, 9, False),
    (_TT.EQUAL, 0, None, 0, True), (_TT.EQUAL, 0, None, 1, False),
    (_TT.EQUAL, 0, None, -1, False),
    (_TT.EQUAL, -5, None, -5, True), (_TT.EQUAL, -5, None, -3, False),
    (_TT.EQUAL, 10.5, None, 10.5, True), (_TT.EQUAL, 10.5, None, 10.0, False),
    (_TT.NOT_EQUAL, 10, None, 11, True), (_TT.NOT_EQUAL, 10, None, 10, False),
    (_TT.NOT_EQUAL, 0, None, 1, True), (_TT.NOT_EQUAL, 0, None, 0, False),
    (_TT.NOT_EQUAL, -5, None, -3, True), (_TT.NOT_EQUAL, -5, None, -5, False),
    (_TT.NOT_EQUAL, 10.5, None, 10.0, True),
    (_TT.NOT_EQUAL, 10.5, None, 10.5, False),
    # BETWEEN (bounds inclusive)
    (_TT.BETWEEN, 10, 20, 15, True), (_TT.BETWEEN, 10, 20, 10, True),
    (_TT.BETWEEN, 10, 20, 20, True), (_TT.BETWEEN, 10, 20, 9, False),
    (_TT.BETWEEN, 10, 20, 21, False),
    (_TT.BETWEEN, -1, 1, 0, True), (_TT.BETWEEN, 0, 0, 0, True),
    (_TT.BETWEEN, 1, 5, 0, False),
    (_TT.BETWEEN, -10, -5, -7, True), (_TT.BETWEEN, -10, -5, -10, True),
    (_TT.BETWEEN, -10, -5, -5, True), (_TT.BETWEEN, -10, -5, -11, False),
    (_TT.BETWEEN, 10.0, 11.0, 10.5, True),
    (_TT.BETWEEN, 10.0, 11.0, 9.9, False),
    (_TT.BETWEEN, 5, 5, 5, True),  # threshold == thresholdMax == value
    # NOT_BETWEEN (bounds inclusive on the inside)
    (_TT.NOT_BETWEEN, 10, 20, 9, True), (_TT.NOT_BETWEEN, 10, 20, 21, True),
    (_TT.NOT_BETWEEN, 10, 20, 15, False),
    (_TT.NOT_BETWEEN, 10, 20, 10, False),
    (_TT.NOT_BETWEEN, 10, 20, 20, False),
    (_TT.NOT_BETWEEN, -1, 1, 0, False), (_TT.NOT_BETWEEN, 1, 5, 0, True),
    (_TT.NOT_BETWEEN, -5, -1, 0, True),
    (_TT.NOT_BETWEEN, -10, -5, -11, True),
    (_TT.NOT_BETWEEN, -10, -5, -4, True),
    (_TT.NOT_BETWEEN, -10, -5, -7, False),
    (_TT.NOT_BETWEEN, 10.0, 11.0, 9.9, True),
    (_TT.NOT_BETWEEN, 10.0, 11.0, 10.5, False),
]


def test_threshold_matrix_reference_twin():
    """checkAlerts.int.test.ts doesExceedThreshold — full transcription."""
    for tt, t, tmax, v, want in _THRESHOLD_MATRIX:
        c = AlertConfig(threshold=t, threshold_type=tt, threshold_max=tmax)
        assert does_exceed_threshold(c, v) is want, (tt, t, tmax, v)


def test_threshold_matrix_column_variant_agrees(spark):
    """threshold_column (the distributed predicate) must decide every
    matrix case identically to the scalar path. One frame holds every
    matrix value and one select carries one predicate column per config,
    so the whole matrix is one Spark job."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from hyperdx_spark.alerts import threshold_column

    by_cfg = defaultdict(list)
    for tt, t, tmax, v, want in _THRESHOLD_MATRIX:
        by_cfg[(tt, t, tmax)].append((float(v), want))
    values = sorted({v for cases in by_cfg.values() for v, _ in cases})
    hits = spark.createDataFrame([(v,) for v in values], "v double").select(
        "v",
        *(
            threshold_column(
                AlertConfig(threshold=t, threshold_type=tt, threshold_max=tmax),
                F.col("v"),
            ).alias(f"c{i}")
            for i, (tt, t, tmax) in enumerate(by_cfg)
        ),
    )
    got = {r["v"]: r for r in hits.collect()}
    for i, ((tt, t, tmax), cases) in enumerate(by_cfg.items()):
        for v, want in cases:
            assert got[v][f"c{i}"] is want, (tt, t, tmax, v)


def test_threshold_max_required_message():
    """The throw matches /thresholdMax is required/ (int.test.ts:798-808,
    962-970) for BOTH range types."""
    for tt in (_TT.BETWEEN, _TT.NOT_BETWEEN):
        with pytest.raises(ValueError, match="thresholdMax is required"):
            does_exceed_threshold(
                AlertConfig(threshold=5, threshold_type=tt), 7
            )


def test_evaluate_fires_and_resolves():
    c = cfg(window_minutes=1)
    rows = [
        {"__timestamp": T(2024, 1, 1, 0, 0), "value": 5},
        {"__timestamp": T(2024, 1, 1, 0, 1), "value": 50},
        {"__timestamp": T(2024, 1, 1, 0, 2), "value": 3},
    ]
    hist, notes = evaluate(
        rows, c, date_range=(T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 3))
    )
    # breach-then-resolve WITHIN one run sends BOTH notifications — the
    # reference injects a mock fired previous after an in-run ALERT so the
    # resolve check catches it (index.ts:1396-1404; int test :6057 pins
    # postMessageToWebhook called exactly twice)
    assert [n.state for n in notes] == [AlertState.ALERT, AlertState.OK]
    assert notes[0].value == 50 and notes[0].bucket_start == T(2024, 1, 1, 0, 1)
    assert notes[1].value == 3 and notes[1].bucket_start == T(2024, 1, 1, 0, 2)
    assert hist[""].state == AlertState.OK  # last bucket resolved it

    # a previously-fired group that is now OK emits a resolve notification
    prev = {"": GroupHistory(state=AlertState.ALERT, fired=True)}
    hist2, notes2 = evaluate(
        [{"__timestamp": T(2024, 1, 1, 0, 0), "value": 1}],
        c,
        date_range=(T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1)),
        previous=prev,
    )
    assert [n.state for n in notes2] == [AlertState.OK]


def test_evaluate_consecutive_windows_pending():
    c = cfg(window_minutes=1, num_consecutive_windows=3)
    rows = [{"__timestamp": T(2024, 1, 1, 0, 0), "value": 99}]
    # no prior alerting windows -> PENDING, nothing fires
    hist, notes = evaluate(
        rows, c, date_range=(T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1))
    )
    assert hist[""].state == AlertState.PENDING and notes == []
    # two prior ALERT/PENDING windows -> fires
    hist, notes = evaluate(
        rows, c,
        date_range=(T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1)),
        recent_states={"": [AlertState.PENDING, AlertState.ALERT]},
    )
    assert hist[""].state == AlertState.ALERT and len(notes) == 1


def test_evaluate_empty_bucket_zero_semantics():
    # BELOW 10: an empty bucket evaluates value 0 -> alert
    c = AlertConfig(threshold=10, threshold_type=ThresholdType.BELOW, window_minutes=1)
    hist, notes = evaluate(
        [], c, date_range=(T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 2))
    )
    assert hist[""].state == AlertState.ALERT
    # ONE notification per group per run, latest breach context (the
    # reference's latestAlertContext is overwritten per bucket and sent
    # once in the transitions loop — index.ts:1316-1324, 1385-1407)
    assert len(notes) == 1
    assert notes[0].state == AlertState.ALERT
    assert notes[0].bucket_start == T(2024, 1, 1, 0, 1)
    # both zero-filled buckets still land in the history
    assert [v for _b, v in hist[""].last_values] == [0.0, 0.0]


def test_zero_fill_below_threshold_ungrouped():
    """int.test.ts:6457 — non-grouped BELOW alert: a period WITH data at the
    threshold stays OK; the next, empty period zero-fills and fires."""
    c = AlertConfig(threshold=1, threshold_type=ThresholdType.BELOW,
                    window_minutes=1)
    rng1 = (T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1))
    hist1, notes1 = evaluate(
        [{"__timestamp": T(2024, 1, 1, 0, 0), "value": 1}], c, date_range=rng1
    )
    assert hist1[""].state == AlertState.OK and notes1 == []
    rng2 = (T(2024, 1, 1, 0, 1), T(2024, 1, 1, 0, 2))
    hist2, notes2 = evaluate([], c, date_range=rng2, previous=hist1)
    assert hist2[""].state == AlertState.ALERT
    assert [(n.state, n.value) for n in notes2] == [(AlertState.ALERT, 0.0)]


def test_zero_fill_auto_resolves_above_alert_ungrouped():
    """int.test.ts:6705 — ABOVE alert fired in period 1; period 2 has no
    data, zero does not breach, the zero-filled OK history auto-resolves
    (exactly two notifications across both runs)."""
    c = AlertConfig(threshold=1, window_minutes=1)
    rng1 = (T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1))
    hist1, notes1 = evaluate(
        [{"__timestamp": T(2024, 1, 1, 0, 0), "value": 2}], c, date_range=rng1
    )
    assert hist1[""].state == AlertState.ALERT
    assert hist1[""].counts == 1 and hist1[""].last_values == [(rng1[0], 2.0)]
    assert [n.state for n in notes1] == [AlertState.ALERT]
    rng2 = (T(2024, 1, 1, 0, 1), T(2024, 1, 1, 0, 2))
    hist2, notes2 = evaluate([], c, date_range=rng2, previous=hist1)
    assert hist2[""].state == AlertState.OK and hist2[""].counts == 0
    # the zero-filled bucket lands in lastValues (count 0 at bucket start)
    assert hist2[""].last_values == [(rng2[0], 0.0)]
    assert [(n.state, n.value, n.bucket_start) for n in notes2] == [
        (AlertState.OK, 0.0, rng2[0])
    ]


def test_zero_fill_auto_resolves_grouped_above_alerts():
    """int.test.ts:6824 — grouped ABOVE alerts fired for two groups; the
    next period has no data at all: the empty bucket creates NO zero
    history (previously-alerting groups defer to missing-group handling),
    each group gets an OK history at the range start and resolves."""
    c = AlertConfig(threshold=1, window_minutes=1)
    rng1 = (T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1))
    rows = [
        {"__timestamp": rng1[0], "value": 3, "svc": "api"},
        {"__timestamp": rng1[0], "value": 2, "svc": "app"},
    ]
    hist1, notes1 = evaluate(rows, c, date_range=rng1, group_keys=["svc"])
    assert {g: h.state for g, h in hist1.items()} == {
        "svc:api": AlertState.ALERT, "svc:app": AlertState.ALERT,
    }
    assert sorted(n.group for n in notes1) == ["svc:api", "svc:app"]
    rng2 = (T(2024, 1, 1, 0, 1), T(2024, 1, 1, 0, 2))
    hist2, notes2 = evaluate(
        [], c, date_range=rng2, group_keys=["svc"], previous=hist1
    )
    # no '' zero history — only the two resolved groups
    assert sorted(hist2) == ["svc:api", "svc:app"]
    for g in ("svc:api", "svc:app"):
        assert hist2[g].state == AlertState.OK
        assert hist2[g].last_values == [(rng2[0], 0.0)]
    assert sorted((n.state, n.group) for n in notes2) == [
        (AlertState.OK, "svc:api"), (AlertState.OK, "svc:app"),
    ]


def test_zero_fill_grouped_below_no_alert_when_some_groups_present():
    """int.test.ts:7034 — a grouped BELOW alert must NOT fire off zero-fill
    when the period has data for some groups (the bucket is not empty, so
    no '' zero history exists)."""
    c = AlertConfig(threshold=1, threshold_type=ThresholdType.BELOW,
                    window_minutes=1)
    rng = (T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1))
    rows = [
        {"__timestamp": rng[0], "value": 1, "svc": "api"},
        {"__timestamp": rng[0], "value": 1, "svc": "app"},
    ]
    hist, notes = evaluate(rows, c, date_range=rng, group_keys=["svc"])
    assert sorted(hist) == ["svc:api", "svc:app"] and notes == []
    assert all(h.state == AlertState.OK for h in hist.values())


def test_zero_fill_grouped_below_alerts_when_no_data_for_any_group():
    """int.test.ts:7169 — same grouped BELOW alert DOES fire (one ungrouped
    notification) when the period has no data for any group."""
    c = AlertConfig(threshold=1, threshold_type=ThresholdType.BELOW,
                    window_minutes=1)
    rng = (T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1))
    hist, notes = evaluate([], c, date_range=rng, group_keys=["svc"])
    assert sorted(hist) == [""] and hist[""].state == AlertState.ALERT
    assert [(n.state, n.group, n.value) for n in notes] == [
        (AlertState.ALERT, "", 0.0)
    ]


def test_grouped_mixed_transitions_renotifies_and_resolves():
    """int.test.ts:5529 — one group stays ALERT (re-notifies every tick it
    keeps breaching), the other resolves to OK."""
    c = AlertConfig(threshold=1, window_minutes=1)
    prev = {
        "svc:api": GroupHistory(state=AlertState.ALERT, fired=True),
        "svc:app": GroupHistory(state=AlertState.ALERT, fired=True),
    }
    rng = (T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1))
    rows = [
        {"__timestamp": rng[0], "value": 5, "svc": "api"},
        {"__timestamp": rng[0], "value": 0, "svc": "app"},
    ]
    hist, notes = evaluate(
        rows, c, date_range=rng, group_keys=["svc"], previous=prev
    )
    assert hist["svc:api"].state == AlertState.ALERT
    assert hist["svc:app"].state == AlertState.OK
    assert sorted((n.state, n.group) for n in notes) == [
        (AlertState.ALERT, "svc:api"), (AlertState.OK, "svc:app"),
    ]


def test_missing_group_history_created_even_when_not_fired():
    """index.ts:1345-1370 — the OK history for a missing group is created
    whenever it was ALERT/PENDING (regardless of fired); only the
    NOTIFICATION requires previous fired !== false."""
    c = AlertConfig(threshold=1, window_minutes=1)
    prev = {"svc:api": GroupHistory(state=AlertState.PENDING, fired=False)}
    rng = (T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1))
    hist, notes = evaluate(
        [], c, date_range=rng, group_keys=["svc"], previous=prev
    )
    assert hist["svc:api"].state == AlertState.OK
    assert hist["svc:api"].last_values == [(rng[0], 0.0)]
    assert notes == []  # not fired before -> no resolve notification


def test_evaluate_grouped_worst_case_in_bucket():
    c = cfg(window_minutes=1)
    rows = [
        {"__timestamp": T(2024, 1, 1, 0, 0), "value": 50, "svc": "a"},
        {"__timestamp": T(2024, 1, 1, 0, 0), "value": 1, "svc": "a"},
        {"__timestamp": T(2024, 1, 1, 0, 0), "value": 2, "svc": "b"},
    ]
    hist, notes = evaluate(
        rows, c,
        date_range=(T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1)),
        group_keys=["svc"],
    )
    assert hist["svc:a"].state == AlertState.ALERT  # worst case kept
    assert hist["svc:b"].state == AlertState.OK


def test_backtest_streaks(spark):
    c = AlertConfig(threshold=10, num_consecutive_windows=2, window_minutes=1)
    rows = [
        (T(2024, 1, 1, 0, 0), 50.0),   # exceeds, streak 1 -> PENDING
        (T(2024, 1, 1, 0, 1), 60.0),   # streak 2 -> ALERT
        (T(2024, 1, 1, 0, 2), 1.0),    # OK
        (T(2024, 1, 1, 0, 3), 70.0),   # streak 1 -> PENDING
        (T(2024, 1, 1, 0, 4), 80.0),   # streak 2 -> ALERT
        (T(2024, 1, 1, 0, 5), 90.0),   # streak 3 -> ALERT
    ]
    df = spark.createDataFrame(rows, "__timestamp timestamp, value double")
    out = {r["__timestamp"].minute: r for r in backtest(df, c).collect()}
    assert [out[m]["state"] for m in range(6)] == [
        "PENDING", "ALERT", "OK", "PENDING", "ALERT", "ALERT",
    ]
    assert [out[m]["streak"] for m in range(6)] == [1, 2, 0, 1, 2, 3]


def test_backtest_grouped(spark):
    c = AlertConfig(threshold=10, num_consecutive_windows=1, window_minutes=1)
    rows = [
        (T(2024, 1, 1, 0, 0), 50.0, "a"),
        (T(2024, 1, 1, 0, 0), 5.0, "b"),
        (T(2024, 1, 1, 0, 1), 50.0, "b"),
    ]
    df = spark.createDataFrame(rows, "__timestamp timestamp, value double, svc string")
    out = {(r["svc"], r["__timestamp"].minute): r["state"]
           for r in backtest(df, c, group_cols=["svc"]).collect()}
    assert out[("a", 0)] == "ALERT"
    assert out[("b", 0)] == "OK"
    assert out[("b", 1)] == "ALERT"


def test_notifications_to_webhook_messages():
    """End-to-end alert -> webhook bridge: fired notifications become Slack
    and generic payloads with state-appropriate titles and bucket links."""
    import json
    from datetime import datetime

    from hyperdx_spark.alerts import AlertState, Notification, notification_messages
    from hyperdx_spark.webhooks import generic_payload, slack_payload

    notes = [
        Notification(
            state=AlertState.ALERT, group="api", value=42.0,
            bucket_start=datetime(2024, 1, 1, 10, 0),
        ),
        Notification(
            state=AlertState.OK, group="api", value=0.0,
            bucket_start=datetime(2024, 1, 1, 11, 0),
        ),
    ]
    msgs = notification_messages(
        notes, search_name="prod errors",
        link_base="https://app/search/abc", granularity_seconds=3600,
    )
    assert msgs[0].title.startswith("\U0001f6a8 ")
    assert msgs[1].title.startswith("✅ ")
    assert "from=1704103200000" in msgs[0].hdx_link
    p = slack_payload(msgs[0])
    # JS prints the number 42.0 as "42" (template.ts `${value} lines found`)
    assert "42 lines found" in p["text"]
    doc = json.loads(generic_payload(msgs[0]))
    assert "ALERT" in doc["text"] and "api" in doc["text"]


def test_silenced_alert_suppresses_notifications_not_state():
    """Silencing parity (checkAlerts/index.ts:1050-1066): while silenced
    the state machine advances (ALERT state reached) but no notification
    fires; once the silence expires the same evaluation notifies."""
    from datetime import datetime

    from hyperdx_spark.alerts import AlertConfig, AlertState, evaluate

    rows = [{"__timestamp": datetime(2024, 1, 1, 0, 0), "value": 100.0}]
    rng = (datetime(2024, 1, 1), datetime(2024, 1, 1, 0, 5))
    silenced = AlertConfig(threshold=50,
                           silenced_until=datetime(2024, 6, 1))
    hist, notes = evaluate(rows, silenced, date_range=rng,
                           now=datetime(2024, 1, 2))
    assert hist[""].state == AlertState.ALERT  # evaluation still ran
    assert notes == []                          # channel muted
    expired = AlertConfig(threshold=50,
                          silenced_until=datetime(2024, 1, 1, 12))
    hist2, notes2 = evaluate(rows, expired, date_range=rng,
                             now=datetime(2024, 1, 2))
    assert hist2[""].state == AlertState.ALERT
    assert len(notes2) == 1 and notes2[0].state == AlertState.ALERT


def test_get_scheduled_window_start():
    """Twins of checkAlerts.int.test.ts:1063-1101."""
    from datetime import datetime, timezone

    from hyperdx_spark.alerts import get_scheduled_window_start as f

    utc = timezone.utc
    now = datetime(2024, 1, 1, 12, 13, 45, tzinfo=utc)
    assert f(now, 5, 0) == datetime(2024, 1, 1, 12, 10, tzinfo=utc)
    assert f(now, 5, 2) == datetime(2024, 1, 1, 12, 12, tzinfo=utc)
    assert f(datetime(2024, 1, 1, 12, 11, 59, tzinfo=utc), 5, 2) == datetime(
        2024, 1, 1, 12, 7, tzinfo=utc
    )
    anchor = datetime(2024, 1, 1, 12, 2, 30, tzinfo=utc)
    assert f(now, 5, 0, anchor) == datetime(2024, 1, 1, 12, 12, 30, tzinfo=utc)
    # scheduleStartAt wins over offset alignment
    assert f(now, 5, 2, anchor) == datetime(2024, 1, 1, 12, 12, 30, tzinfo=utc)


def test_calc_alert_date_range():
    from datetime import datetime, timedelta, timezone

    from hyperdx_spark.alerts import calc_alert_date_range

    utc = timezone.utc
    end = datetime(2024, 1, 2, tzinfo=utc)
    # 50-window cap: 5-minute windows over 10 hours -> clipped to 250 min
    start, end2 = calc_alert_date_range(end - timedelta(hours=10), end, 5)
    assert end2 == end
    assert (end - start) == timedelta(minutes=50 * 5)
    # lookback cap: 60-minute windows over 3 days -> clipped to 24h... the
    # 50-window cap (50h) applies first, then the 24h lookback wins
    start, _ = calc_alert_date_range(end - timedelta(days=3), end, 60)
    assert (end - start) == timedelta(hours=24)
    # sub-15-minute windows cap at 6h
    start, _ = calc_alert_date_range(end - timedelta(hours=10), end, 10)
    assert (end - start) == timedelta(hours=6)
    # in-bounds ranges pass through untouched
    start, _ = calc_alert_date_range(end - timedelta(hours=2), end, 15)
    assert (end - start) == timedelta(hours=2)


def test_parse_alert_data():
    """Twins of checkAlerts.int.test.ts:972-1061."""
    from hyperdx_spark.alerts import parse_alert_data

    row = {"ts": "2023-11-16T22:12:00.000Z", "ServiceName": "web",
           "SeverityText": "error", "cnt": 5}
    value, fields = parse_alert_data(row, value_cols={"cnt"}, timestamp_col="ts")
    assert value == 5
    assert fields == [("ServiceName", "web"), ("SeverityText", "error")]
    # legacy "k:v, k:v" group string is byte-identical
    assert ", ".join(f"{k}:{v}" for k, v in fields) == \
        "ServiceName:web, SeverityText:error"
    # colon-bearing values survive the attribute dict
    row2 = {"ts": "t", "url": "https://example.com/path", "cnt": 5}
    _, f2 = parse_alert_data(row2, value_cols={"cnt"}, timestamp_col="ts")
    assert dict(f2) == {"url": "https://example.com/path"}
    # numeric field values coerce to strings
    _, f3 = parse_alert_data(
        {"ts": "t", "StatusCode": 500, "cnt": 5},
        value_cols={"cnt"}, timestamp_col="ts",
    )
    assert f3 == [("StatusCode", "500")]
    # no group columns -> no fields
    v, f4 = parse_alert_data({"ts": "t", "cnt": 5}, value_cols={"cnt"},
                             timestamp_col="ts")
    assert v == 5 and f4 == []
    # single_value results keep the timestamp as a field
    v, f5 = parse_alert_data({"ts": "t", "cnt": 5}, value_cols={"cnt"})
    assert v == 5 and f5 == [("ts", "t")]
    # the LAST value column wins (checkAlerts.int.test.ts:4302 'alert is
    # evaluated using the last numeric column')
    v, _ = parse_alert_data(
        {"ts": "t", "first": 1.0, "second": 9.0},
        value_cols={"first", "second"}, timestamp_col="ts",
    )
    assert v == 9.0
    # stringified 64-bit ints parse back (output_format_json_quote_64bit)
    v, _ = parse_alert_data({"ts": "t", "cnt": "42"}, value_cols={"cnt"},
                            timestamp_col="ts")
    assert v == 42


def test_alert_skip_logic_and_evaluation_range():
    """checkAlerts/index.ts:475-568 twins (+ the group-by skip int tests):
    key composition survives delimiter-bearing groups; ONE group with
    current-window history skips the whole grouped alert; the evaluation
    range starts at the latest previous evaluation (else one window back)
    and clamps to schedule_start_at."""
    from hyperdx_spark.alerts import (
        compute_history_map_key,
        extract_group_key_from_map_key,
        get_alert_evaluation_date_range,
        should_skip_alert_check,
    )

    assert compute_history_map_key("a1") == "a1"
    assert compute_history_map_key("a1", "svc:web") == "a1||svc:web"
    assert extract_group_key_from_map_key("a1||svc:web", "a1") == "svc:web"
    assert extract_group_key_from_map_key("a1", "a1") == ""
    assert extract_group_key_from_map_key("other||g", "a1") == ""

    now = datetime(2024, 1, 1, 10, 0)
    prev = {
        "a1||g1": {"created_at": datetime(2024, 1, 1, 9, 59)},  # older window
        "a1||g2": {"created_at": now},                           # current
    }
    assert should_skip_alert_check("a1", prev, has_group_by=True, now_rounded=now)
    # non-grouped: only the exact alertId key counts
    assert not should_skip_alert_check("a1", prev, has_group_by=False, now_rounded=now)
    assert should_skip_alert_check(
        "a1", {"a1": {"created_at": now}}, has_group_by=False, now_rounded=now
    )
    assert not should_skip_alert_check(
        "a1", {"a1": {"created_at": datetime(2024, 1, 1, 9, 55)}},
        has_group_by=False, now_rounded=now,
    )

    # range: latest previous across the grouped keys wins
    s, e = get_alert_evaluation_date_range(
        "a1",
        {
            "a1||g1": {"created_at": datetime(2024, 1, 1, 9, 40)},
            "a1||g2": {"created_at": datetime(2024, 1, 1, 9, 50)},
        },
        has_group_by=True, now_rounded=now, window_size_mins=5,
    )
    assert (s, e) == (datetime(2024, 1, 1, 9, 50), now)
    # no history -> one window back
    s, e = get_alert_evaluation_date_range(
        "a1", {}, has_group_by=False, now_rounded=now, window_size_mins=5
    )
    assert (s, e) == (datetime(2024, 1, 1, 9, 55), now)
    # schedule_start_at clamps forward
    s, _e = get_alert_evaluation_date_range(
        "a1", {}, has_group_by=False, now_rounded=now, window_size_mins=5,
        schedule_start_at=datetime(2024, 1, 1, 9, 58),
    )
    assert s == datetime(2024, 1, 1, 9, 58)
    # stale history still rides the calc_alert_date_range lookback clamps
    s, _e = get_alert_evaluation_date_range(
        "a1", {"a1": {"created_at": datetime(2023, 12, 1)}},
        has_group_by=False, now_rounded=now, window_size_mins=5,
    )
    assert s == datetime(2024, 1, 1, 5, 50)  # 50-window cap: 50 x 5min back


def test_alert_catches_up_on_multiple_missed_windows():
    """checkAlerts int ':4523 catches up on multiple missed windows' as a
    composition twin: a previous evaluation three windows ago widens the
    evaluation range to all missed windows, and evaluate() walks EVERY
    expected bucket in it — including empty ones — in one pass."""
    from hyperdx_spark.alerts import (
        AlertConfig,
        AlertState,
        evaluate,
        get_alert_evaluation_date_range,
    )

    now = datetime(2024, 1, 1, 10, 0)
    rng = get_alert_evaluation_date_range(
        "a1", {"a1": {"created_at": datetime(2024, 1, 1, 9, 45)}},
        has_group_by=False, now_rounded=now, window_size_mins=5,
    )
    assert rng == (datetime(2024, 1, 1, 9, 45), now)  # 3 missed windows

    cfg = AlertConfig(threshold=5, window_minutes=5)
    rows = [
        {"__timestamp": datetime(2024, 1, 1, 9, 45), "value": 9.0},
        # 9:50 missing entirely -> empty bucket evaluates as 0
        {"__timestamp": datetime(2024, 1, 1, 9, 55), "value": 7.0},
    ]
    histories, notes = evaluate(rows, cfg, date_range=rng)
    assert histories[""].state == AlertState.ALERT
    # every expected bucket lands in the history — including the empty one
    assert [v for _b, v in histories[""].last_values] == [9.0, 0.0, 7.0]
    # ONE notification per group per run, latest breach context
    # (index.ts:1316-1324, 1385-1407)
    assert [(n.state, n.value, n.bucket_start) for n in notes] == [
        (AlertState.ALERT, 7.0, datetime(2024, 1, 1, 9, 55))
    ]


def test_get_response_metadata_and_single_value(spark):
    """checkAlerts/index.ts:706-751 + the raw-SQL Number int tests: value
    columns = numeric columns, single_value for raw-SQL Number charts
    (first row only, 0 on empty/null), time_series keyed on the first
    date column, None degrades on missing columns."""
    from hyperdx_spark.alerts import (
        alert_has_group_by,
        get_response_metadata,
        parse_single_value,
    )

    df = spark.createDataFrame(
        [(datetime(2024, 1, 1), "api", 2.0, 7.0)],
        "ts timestamp, svc string, a double, b double",
    )
    meta = get_response_metadata(df)
    assert meta["type"] == "time_series" and meta["timestamp_col"] == "ts"
    assert meta["value_cols"] == {"a", "b"}

    nmeta = get_response_metadata(df, display_type="number", is_raw_sql=True)
    assert nmeta["type"] == "single_value" and nmeta["timestamp_col"] is None
    rows = df.collect()
    # first row only; value = LAST numeric column
    assert parse_single_value(rows, nmeta) == 7.0
    assert parse_single_value([], nmeta) == 0

    # no numeric column -> None; time series without a date column -> None
    assert get_response_metadata(df.select("svc")) is None
    assert get_response_metadata(df.select("a")) is None
    assert (
        get_response_metadata(df.select("a"), display_type="number",
                              is_raw_sql=True)["type"] == "single_value"
    )

    # alertHasGroupBy (index.ts:118-143)
    assert alert_has_group_by(alert_group_by="svc")
    assert not alert_has_group_by()
    assert alert_has_group_by(tile_group_by=["svc"])
    assert not alert_has_group_by(tile_group_by=[])
    assert alert_has_group_by(is_raw_sql=True, display_type="line")
    assert not alert_has_group_by(is_raw_sql=True, display_type="number")


def test_parse_alert_data_parseint_semantics():
    """parseInt parity: '42.5' -> 42 (leading-integer prefix), non-numeric
    strings -> NaN, never an exception (r11 review fix)."""
    import math

    from hyperdx_spark.alerts import parse_alert_data

    v, _ = parse_alert_data({"cnt": "42.5"}, value_cols={"cnt"})
    assert v == 42
    v, _ = parse_alert_data({"cnt": "abc"}, value_cols={"cnt"})
    assert isinstance(v, float) and math.isnan(v)
    v, _ = parse_alert_data({"cnt": " -7rest"}, value_cols={"cnt"})
    assert v == -7


def test_evaluate_and_backtest_agree_on_randomized_sequences(spark):
    """The cron operation (evaluate() once per closed bucket, previous
    histories + recent states fed forward — exactly how the reference
    consults recentHistoryMap, which holds PRIOR runs only,
    index.ts:1112-1131) must assign the same per-bucket states as the
    analytical backtest() over the whole sequence. NOTE the counterpart
    non-property: within ONE catch-up run, same-run buckets do NOT count
    toward the M-of-M lookback (reference-exact; pinned below)."""
    import random

    rng_src = random.Random(1207)
    c = AlertConfig(threshold=50, num_consecutive_windows=2, window_minutes=1)
    for trial in range(8):
        n = rng_src.randint(3, 12)
        vals = [float(rng_src.choice([1, 49, 50, 51, 100])) for _ in range(n)]
        buckets = [T(2024, 1, 1, 0, m) for m in range(n)]
        df = spark.createDataFrame(
            list(zip(buckets, vals)), "__timestamp timestamp, value double"
        )
        bt = {r["__timestamp"]: r["state"] for r in backtest(df, c).collect()}

        prev: dict = {}
        recent: list = []
        for b, v in zip(buckets, vals):
            hist, _ = evaluate(
                [{"__timestamp": b, "value": v}], c,
                date_range=(b, T(2024, 1, 1, 0, b.minute + 1)),
                previous=prev,
                recent_states={"": list(recent)},
            )
            assert hist[""].state.value == bt[b], (trial, vals, b, bt[b])
            prev = hist
            recent.insert(0, hist[""].state)


def test_same_run_buckets_do_not_count_toward_lookback():
    """Reference-exact quirk (index.ts:1112-1131): the M-of-M lookback
    consults recentHistoryMap — histories persisted by PRIOR runs — so a
    catch-up run over [49, 51, 51] with 2 consecutive windows required
    ends PENDING, not ALERT (the two same-run breaches don't chain)."""
    c = AlertConfig(threshold=50, num_consecutive_windows=2, window_minutes=1)
    rows = [
        {"__timestamp": T(2024, 1, 1, 0, m), "value": v}
        for m, v in enumerate([49.0, 51.0, 51.0])
    ]
    hist, notes = evaluate(
        rows, c, date_range=(T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 3))
    )
    assert hist[""].state == AlertState.PENDING
    assert notes == []


def test_unflatten_object_reference_matrix():
    """tasks/util.test.ts unflattenObject describe walked."""
    import pytest as _pytest

    from hyperdx_spark.alerts import unflatten_object as u

    assert u({}) == {}
    assert u({"a": "b"}) == {"a": "b"}
    assert u({"a.b": "c", "d.e.f": "g"}) == {
        "a": {"b": "c"}, "d": {"e": {"f": "g"}},
    }
    assert u({"a": "x", "b.c": "y", "b.d": "z"}) == {
        "a": "x", "b": {"c": "y", "d": "z"},
    }
    # later shorter key REPLACES the subtree (lodash set)
    assert u({"foo.bar.baz": "qux", "foo.bar": "quuz"}) == {
        "foo": {"bar": "quuz"},
    }
    # maxDepth truncation leaves an empty-object leaf
    assert u({"foo.bar.baz.qux.quuz.quux": "qux"}, ".", 3) == {
        "foo": {"bar": {"baz": {}}},
    }
    assert u({"foo:bar": "baz"}, ":") == {"foo": {"bar": "baz"}}
    assert u({"foo.bar": ""}) == {"foo": {"bar": ""}}
    assert u({"foo.bar": None}) == {"foo": {"bar": None}}
    assert u({"foo.bar.baz": "qux"}, ".", 0) == {}
    assert u({"foo.bar.baz": "qux"}, ".", 1) == {"foo": {}}
    assert u(
        {"foo.bar.baz": "qux", "foo.bar.quux": "quuz",
         "foo.bar.qux.quuz": "quux"},
        ".", 3,
    ) == {"foo": {"bar": {"baz": "qux", "quux": "quuz", "qux": {}}}}
    for bad in ("foo..bar", ".foo.bar", "foo.bar."):
        with _pytest.raises(ValueError):
            u({bad: "baz"})
    assert u({"foo|bar|baz": "qux"}, "|") == {"foo": {"bar": {"baz": "qux"}}}


def test_round_down_to_reference():
    """tasks/util.test.ts roundDownTo / roundDownToXMinutes."""
    from datetime import datetime

    import pytest as _pytest

    from hyperdx_spark.alerts import round_down_to, round_down_to_x_minutes

    dt = datetime(2024, 1, 1, 12, 34, 56, 789000)
    assert round_down_to(60_000)(dt) == datetime(2024, 1, 1, 12, 34)
    assert round_down_to(1000)(dt) == datetime(2024, 1, 1, 12, 34, 56)
    assert round_down_to_x_minutes(5)(dt) == datetime(2024, 1, 1, 12, 30)
    assert round_down_to_x_minutes(15)(dt) == datetime(2024, 1, 1, 12, 30)
    assert round_down_to_x_minutes(60)(dt) == datetime(2024, 1, 1, 12, 0)
    with _pytest.raises(ValueError):
        round_down_to(0)
    with _pytest.raises(ValueError):
        round_down_to(-5)


@pytest.mark.parametrize("name", ["q_alert_backtest", "q_stream_notify"])
def test_alert_entries_ignore_the_driver_time_zone(spark, monkeypatch, name):
    """Notification titles and bodies render from UTC instants, so the
    sf0.01 answer under a non-UTC driver equals the UTC answer and its
    DuckDB oracle (``collect()`` hands back driver-local wall times)."""
    import importlib.util
    import os
    import time

    import duckdb

    import __spark_entry__ as e
    from conftest import SF_DIR_ORACLE as sf

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(repo, "tools", "check_correctness.py")
    )
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)

    def canon(pdf):
        return cc.rows_to_canon(list(pdf.columns), cc.pdf_rows(pdf), cc.canon_strict)

    def answer(tz):
        monkeypatch.setenv("TZ", tz)
        time.tzset()
        return canon(e.queries()[name](spark, sf).toPandas())

    try:
        utc, new_york = answer("UTC"), answer("America/New_York")
    finally:
        monkeypatch.undo()
        time.tzset()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
    assert len(utc) > 0
    assert new_york == utc
    assert utc == canon(con.execute(e.oracle_sql()[name]).df())
