"""Gap-based sessionization semantics: engineered event streams with
known session boundaries (the oracle-parity sweep covers the bulk
corpus; this pins the timeout rule itself)."""

from __future__ import annotations

import datetime as dt

import __spark_entry__ as entrymod


def _ev(i, user, minutes, value=1.0):
    return (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minutes),
            user, "view", value, "{}")


def test_session_boundaries_and_aggregates(spark, tmp_path):
    rows = [
        # user 1: events at 0, 10, 20 min (one session);
        # then 60 min (gap 40 > 30: new session); then 80 (same)
        _ev(0, 1, 0), _ev(1, 1, 10), _ev(2, 1, 20),
        _ev(3, 1, 60), _ev(4, 1, 80),
        # user 2: single event
        _ev(5, 2, 5, value=2.5),
        # user 3: exactly 30-min gap is NOT a new session (> rule)
        _ev(6, 3, 0), _ev(7, 3, 30),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    got = {(r.user_id, r.session_id): r for r in
           entrymod.q_events_sessions(spark, sf).collect()}
    assert set(got) == {(1, 1), (1, 2), (2, 1), (3, 1)}
    s11, s12 = got[(1, 1)], got[(1, 2)]
    assert s11.n_events == 3 and s12.n_events == 2
    assert s11.duration_us == 20 * 60 * 1_000_000
    assert s12.duration_us == 20 * 60 * 1_000_000
    assert got[(2, 1)].n_events == 1
    assert got[(2, 1)].duration_us == 0
    assert got[(2, 1)].sum_value == 2.5
    assert got[(3, 1)].n_events == 2   # 30-min gap stays one session
