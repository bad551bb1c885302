"""Keep-latest-snapshot selection (operators/snapshots.py)."""

import datetime

from deduplication_framework_spark.operators.snapshots import latest_snapshot


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_latest_snapshot_picks_max_ts_per_key(spark):
    rows = [
        ("a.com/x", _ts("2024-01-01T00:00:00"), 1, "v1"),
        ("a.com/x", _ts("2024-03-01T00:00:00"), 2, "v2"),
        ("a.com/x", _ts("2024-02-01T00:00:00"), 3, "v3"),
        ("b.com/y", _ts("2024-01-15T00:00:00"), 4, "w1"),
    ]
    df = spark.createDataFrame(rows, ["url", "warc_ts", "cap_id", "text"])
    out = latest_snapshot(df, ["url"], "warc_ts", tie_cols=["cap_id"])
    got = {r.url: (r.cap_id, r.text) for r in out.collect()}
    assert got == {"a.com/x": (2, "v2"), "b.com/y": (4, "w1")}
    assert out.columns == df.columns  # schema preserved, original order


def test_latest_snapshot_tie_break_deterministic(spark):
    t = _ts("2024-01-01T00:00:00")
    rows = [("u", t, 5, "five"), ("u", t, 9, "nine"), ("u", t, 7, "seven")]
    df = spark.createDataFrame(rows, ["url", "warc_ts", "cap_id", "text"])
    for _ in range(3):  # stable across shuffles/partitionings
        out = latest_snapshot(
            df.repartition(4), ["url"], "warc_ts", tie_cols=["cap_id"]
        ).collect()
        assert [(r.cap_id, r.text) for r in out] == [(9, "nine")]


def test_latest_snapshot_null_ts_still_yields_row(spark):
    rows = [("u", None, 1, "a"), ("u", None, 2, "b"),
            ("v", _ts("2024-01-01T00:00:00"), 3, "c"), ("v", None, 4, "d")]
    df = spark.createDataFrame(rows, ["url", "warc_ts", "cap_id", "text"])
    got = {r.url: r.cap_id for r in
           latest_snapshot(df, ["url"], "warc_ts", ["cap_id"]).collect()}
    # NULL ts sorts lowest: an all-NULL key keeps its max tie row; a real
    # ts always beats NULL
    assert got == {"u": 2, "v": 3}


def test_latest_snapshot_multi_key(spark):
    rows = [
        (1, "click", _ts("2024-01-01T00:00:00"), 1),
        (1, "click", _ts("2024-01-02T00:00:00"), 2),
        (1, "view", _ts("2024-01-03T00:00:00"), 3),
        (2, "click", _ts("2024-01-04T00:00:00"), 4),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "event_id"])
    out = latest_snapshot(df, ["user_id", "event_type"], "ts", ["event_id"])
    got = {(r.user_id, r.event_type): r.event_id for r in out.collect()}
    assert got == {(1, "click"): 2, (1, "view"): 3, (2, "click"): 4}
