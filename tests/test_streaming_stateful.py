"""Event-time streaming: watermarked tumbling rollup (append mode) and
stateful sessionization (applyInPandasWithState), each checked against an
independently-computed batch oracle on the same events."""

from __future__ import annotations

import datetime as dt

import pandas as pd

from documentconvert_spark.streaming import (
    EVENTS_SCHEMA,
    SESSION_GAP_S,
    _merge_sessions,
    _rows_to_sessions,
    stream_sessionize,
    stream_window_rollup,
)

EPOCH = dt.datetime(2024, 3, 1)


def _ev(event_id: int, minutes: float, user_id: int, etype: str = "click") -> tuple:
    return (event_id, EPOCH + dt.timedelta(minutes=minutes), user_id, etype, 1.0)


def _land(spark, rows, input_dir: str) -> None:
    spark.createDataFrame(rows, schema=EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(input_dir)


def _drain(q) -> None:
    q.awaitTermination()


def _read_out(spark, out_dir: str):
    return spark.read.option("basePath", out_dir).parquet(out_dir).drop("batch_id")


def _oracle_sessions(rows, gap_s: float) -> set[tuple]:
    """Pure-python sessionizer over (event_id, ts, user_id, etype, value)."""
    by_user: dict[int, list] = {}
    for eid, ts, uid, etype, _v in rows:
        by_user.setdefault(uid, []).append((ts, eid, etype))
    out = set()
    for uid, evs in by_user.items():
        evs.sort()
        start, last, n, np_ = None, None, 0, 0
        for ts, _eid, etype in evs:
            if start is None:
                start, last, n, np_ = ts, ts, 1, int(etype == "purchase")
            elif (ts - last).total_seconds() > gap_s:
                out.add((uid, start, last, n, np_))
                start, last, n, np_ = ts, ts, 1, int(etype == "purchase")
            else:
                last, n, np_ = ts, n + 1, np_ + int(etype == "purchase")
        if start is not None:
            out.add((uid, start, last, n, np_))
    return out


def test_rows_to_sessions_and_merge_pure():
    gap_ns = int(SESSION_GAP_S * 1e9)
    rows = pd.DataFrame(
        {
            "event_id": [2, 1, 3],
            "ts": pd.to_datetime(["2024-03-01 00:10", "2024-03-01 00:00", "2024-03-01 02:00"]),
            "event_type": ["purchase", "click", "click"],
        }
    )
    sessions = _rows_to_sessions(rows, gap_ns, min_ts_ns=0)
    # 00:00+00:10 form one session (1 purchase); 02:00 is its own
    assert len(sessions) == 2
    assert sessions[0][2] == 2 and sessions[0][3] == 1 and sessions[1][2] == 1
    # watermark drop: everything below 01:00 discarded
    wm = pd.Timestamp("2024-03-01 01:00").value
    assert _rows_to_sessions(rows, gap_ns, min_ts_ns=wm) == [sessions[1]]
    # empty fold is a no-op
    assert _rows_to_sessions(rows.iloc[0:0], gap_ns, 0) == []


def test_merge_sessions_backward_extension_and_bridge():
    gap = 100
    a = (1000, 1200, 3, 1)
    # late mini-session just before `a` extends it backwards
    assert _merge_sessions([a, (950, 950, 1, 0)], gap) == [(950, 1200, 4, 1)]
    # a mini-session in the gap between two opens bridges them into one
    b = (1400, 1500, 2, 0)
    assert _merge_sessions([a, b, (1250, 1320, 1, 1)], gap) == [(1000, 1500, 6, 2)]
    # far-away session stays separate
    assert _merge_sessions([a, (5000, 5100, 2, 0)], gap) == [a, (5000, 5100, 2, 0)]


def test_stream_window_rollup_append_parity(spark, tmp_path):
    input_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("landing", "out", "ckpt"))
    # day 1 + day 2 events, then a far-future sentinel to push the watermark
    day1 = [_ev(i, i * 5.0, 1) for i in range(10)]
    day2 = [_ev(100 + i, 24 * 60 + i * 7.0, 2, "view") for i in range(6)]
    _land(spark, day1 + day2, input_dir)
    _drain(stream_window_rollup(spark, input_dir, out_dir, ckpt))

    _land(spark, [_ev(999, 60 * 24 * 30, 9, "sentinel")], input_dir)
    _drain(stream_window_rollup(spark, input_dir, out_dir, ckpt))

    got = {
        (r.day_start, r.event_type): r.n_events
        for r in _read_out(spark, out_dir).collect()
        if r.event_type != "sentinel"
    }
    assert got == {
        (EPOCH, "click"): 10,
        (EPOCH + dt.timedelta(days=1), "view"): 6,
    }

    # restart on the same checkpoint with nothing new: no re-emission
    _drain(stream_window_rollup(spark, input_dir, out_dir, ckpt))
    again = [r for r in _read_out(spark, out_dir).collect() if r.event_type != "sentinel"]
    assert len(again) == 2


def test_stream_dedup_within_watermark(spark, tmp_path):
    from documentconvert_spark.streaming import stream_dedup

    input_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("landing", "out", "ckpt"))
    # wave 1: event 1 delivered twice in-batch; wave 2 re-delivers events
    # 1 and 2 (cross-batch duplicates, still inside the watermark)
    _land(spark, [_ev(1, 0.0, 1), _ev(1, 0.0, 1), _ev(2, 1.0, 1), _ev(3, 2.0, 2)], input_dir)
    _drain(stream_dedup(spark, input_dir, out_dir, ckpt))
    _land(spark, [_ev(1, 0.0, 1), _ev(2, 1.0, 1), _ev(4, 3.0, 2)], input_dir)
    _drain(stream_dedup(spark, input_dir, out_dir, ckpt))

    got = sorted(r.event_id for r in _read_out(spark, out_dir).collect())
    assert got == [1, 2, 3, 4]  # every key exactly once across both waves


def test_stream_stream_click_attribution(spark, tmp_path):
    from documentconvert_spark.streaming import stream_click_attribution

    input_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("landing", "out", "ckpt"))
    # user 1: clicks at 0 and 20, purchase at 25 → both attributed (30-min
    # window); click at 100 is NOT (after the purchase). user 2's click
    # at 10 has no purchase. Cross-batch: purchase arrives in wave 2.
    wave1 = [_ev(1, 0.0, 1), _ev(2, 20.0, 1), _ev(3, 10.0, 2), _ev(4, 100.0, 1)]
    wave2 = [_ev(5, 25.0, 1, "purchase"), _ev(6, 110.0, 1, "purchase")]
    _land(spark, wave1, input_dir)
    stream_click_attribution(spark, input_dir, out_dir, ckpt).awaitTermination()
    _land(spark, wave2, input_dir)
    stream_click_attribution(spark, input_dir, out_dir, ckpt).awaitTermination()
    for i, m in ((998, 60 * 24 * 10), (999, 60 * 24 * 20)):
        _land(spark, [_ev(i, m, 9)], input_dir)
        stream_click_attribution(spark, input_dir, out_dir, ckpt).awaitTermination()

    got = sorted(
        (r.purchase_id, r.click_id) for r in _read_out(spark, out_dir).collect() if r.user_id != 9
    )
    # purchase 5 ← clicks 1 (25 min before) and 2 (5 min before);
    # purchase 6 ← click 4 (10 min before). Click 3: other user. No dups.
    assert got == [(5, 1), (5, 2), (6, 4)], got


def test_stream_sessionize_stateful_parity(spark, tmp_path):
    input_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("landing", "out", "ckpt"))
    # user 1: two sessions (gap > 30 min); user 2: one session spanning
    # the two landing waves (state must carry across restarts).
    # wave 2 also delivers LATE/out-of-order events (watermark after wave 1
    # is minute 60 = max 70 - delay 10): one inserts mid-session (u2 @62),
    # one extends an open session forward after a late start (u1 @65) —
    # the arrival order a real event log actually has.
    wave1 = [
        _ev(1, 0.0, 1),
        _ev(2, 10.0, 1, "purchase"),
        _ev(3, 60.0, 1),  # > 30 min gap → new session
        _ev(4, 55.0, 2),
        _ev(5, 70.0, 2),
    ]
    wave2 = [
        _ev(6, 80.0, 2, "purchase"),  # 10 min after wave1's last → same session
        _ev(8, 62.0, 2),  # late, lands INSIDE u2's open session
        _ev(9, 65.0, 1),  # late, extends u1's second session
        _ev(7, 300.0, 3),
    ]
    _land(spark, wave1, input_dir)
    _drain(stream_sessionize(spark, input_dir, out_dir, ckpt))
    _land(spark, wave2, input_dir)
    _drain(stream_sessionize(spark, input_dir, out_dir, ckpt))
    # two sentinel waves: first advances the watermark past every real
    # session's timeout, second triggers the timeout sweep in a new batch
    _land(spark, [_ev(998, 60 * 24 * 10, 9)], input_dir)
    _drain(stream_sessionize(spark, input_dir, out_dir, ckpt))
    _land(spark, [_ev(999, 60 * 24 * 20, 9)], input_dir)
    _drain(stream_sessionize(spark, input_dir, out_dir, ckpt))

    got = {
        (r.user_id, r.t_start, r.t_end, r.n_events, r.n_purchases)
        for r in _read_out(spark, out_dir).collect()
        if r.user_id != 9
    }
    expected = _oracle_sessions(wave1 + wave2, SESSION_GAP_S)
    assert got == expected, f"got {sorted(got)}\nexpected {sorted(expected)}"
    # exactly-once: no session emitted twice across the four drains
    all_rows = [r for r in _read_out(spark, out_dir).collect() if r.user_id != 9]
    assert len(all_rows) == len(got)
