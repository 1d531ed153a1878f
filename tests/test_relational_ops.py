"""Unit tests for composite relational operators (operators/relational.py)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from mpi_word_count_spark.operators.relational import (
    asof_join,
    range_join,
    sessionize,
    topk_per_group,
)


def ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("a", 2), ("b", 5)], "k string, v long"
    )
    got = topk_per_group(df, ["k"], [F.desc("v")], k=2)
    assert sorted((r["k"], r["v"], r["rn"]) for r in got.collect()) == [
        ("a", 2, 2),
        ("a", 3, 1),
        ("b", 5, 1),
    ]


def test_sessionize_gap(spark):
    rows = [
        (1, ts("2024-01-01T00:00:00"), 1),
        (1, ts("2024-01-01T00:10:00"), 2),   # same session (gap 600s)
        (1, ts("2024-01-01T02:00:00"), 3),   # new session (gap > 1800s)
        (2, ts("2024-01-01T00:00:00"), 4),   # separate user
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = sessionize(df, gap_seconds=1800, tiebreak="event_id")
    sessions = {r["event_id"]: r["session_id"] for r in got.collect()}
    assert sessions == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_sub_second_gap(spark):
    """Gaps compare at microsecond precision, as the DuckDB oracle's
    fractional epoch() does: 1800.5 s ends a session, 1800 s exactly
    and 1799.5 s do not. (A whole-second unix_timestamp difference
    reads the 1800.5 s gap as 1800 and keeps the session open.)"""
    rows = [
        (1, ts("2024-01-01T00:00:00"), 1),
        (1, ts("2024-01-01T00:30:00.500000"), 2),  # gap 1800.5 s: new
        (2, ts("2024-01-01T00:00:00.250000"), 3),
        (2, ts("2024-01-01T00:30:00.250000"), 4),  # gap 1800 s: same
        (3, ts("2024-01-01T00:00:00.900000"), 5),
        (3, ts("2024-01-01T00:30:00.400000"), 6),  # gap 1799.5 s: same
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = sessionize(df, gap_seconds=1800, tiebreak="event_id")
    sessions = {r["event_id"]: r["session_id"] for r in got.collect()}
    assert sessions == {1: 1, 2: 2, 3: 1, 4: 1, 5: 1, 6: 1}


def test_asof_join_backward(spark):
    trades = spark.createDataFrame(
        [("A", ts("2024-01-01T00:00:05"), 10.0),
         ("A", ts("2024-01-01T00:00:01"), 9.0),
         ("B", ts("2024-01-01T00:00:03"), 7.0)],
        "sym string, ts timestamp, px double",
    )
    quotes = spark.createDataFrame(
        [("A", ts("2024-01-01T00:00:00"), 8.5),
         ("A", ts("2024-01-01T00:00:04"), 9.5),
         ("B", ts("2024-01-01T00:00:09"), 7.5)],
        "sym string, ts timestamp, bid double",
    )
    got = asof_join(trades, quotes, on="sym", left_ts="ts", right_ts="ts")
    by_key = {(r["sym"], r["px"]): r["bid"] for r in got.collect()}
    # each trade picks the latest quote at-or-before its ts
    assert by_key == {("A", 9.0): 8.5, ("A", 10.0): 9.5, ("B", 7.0): None}


def test_asof_join_forward(spark):
    left = spark.createDataFrame(
        [("A", ts("2024-01-01T00:00:02"), 1)], "k string, ts timestamp, i long"
    )
    right = spark.createDataFrame(
        [("A", ts("2024-01-01T00:00:01"), 100),
         ("A", ts("2024-01-01T00:00:03"), 300)],
        "k string, ts timestamp, v long",
    )
    got = asof_join(left, right, on="k", direction="forward").collect()
    assert got[0]["v"] == 300  # earliest right row at-or-after


def test_range_join(spark):
    points = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 25.0)], "id long, x double")
    ranges = spark.createDataFrame(
        [("lo", 0.0, 10.0), ("mid", 10.0, 20.0), ("wide", 0.0, 30.0)],
        "name string, lo double, hi double",
    )
    got = range_join(points, ranges, "x", "lo", "hi", bucket_width=10.0)
    pairs = sorted((r["id"], r["name"]) for r in got.collect())
    assert pairs == [(1, "lo"), (1, "wide"), (2, "mid"), (2, "wide"), (3, "wide")]


def test_decimal_pricing_summary_is_exact(spark):
    """The decimal plan's sums must equal an exact Python-Decimal
    recomputation to the last digit (no float drift anywhere), and
    agree with Q1's rounded double sums at 2dp."""
    from decimal import Decimal

    from tests.conftest import SF_DIR

    from mpi_word_count_spark.queries.relational_queries import (
        q1_pricing_summary,
        q_decimal_pricing_summary,
    )
    from mpi_word_count_spark.tables import table

    got = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in q_decimal_pricing_summary(spark, SF_DIR).collect()
    }
    rows = (
        table(spark, "lineitem", SF_DIR)
        .filter("l_shipdate <= timestamp '1998-09-02'")
        .select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        )
        .collect()
    )
    q2 = lambda v, s: Decimal(str(round(v, s)))  # noqa: E731
    exact: dict = {}
    for r in rows:
        k = (r["l_returnflag"], r["l_linestatus"])
        price = q2(r["l_extendedprice"], 2)
        disc = q2(r["l_discount"], 2)
        tax = q2(r["l_tax"], 2)
        e = exact.setdefault(
            k, {"qty": Decimal(0), "base": Decimal(0), "disc": Decimal(0),
                "charge": Decimal(0), "n": 0}
        )
        e["qty"] += q2(r["l_quantity"], 2)
        e["base"] += price
        dp = price * (1 - disc)
        e["disc"] += dp
        e["charge"] += dp * (1 + tax)
        e["n"] += 1
    assert set(got) == set(exact)
    for k, e in exact.items():
        g = got[k]
        assert g["count_order"] == e["n"]
        assert g["sum_qty"] == float(e["qty"])
        assert g["sum_base_price"] == float(e["base"])
        assert g["sum_disc_price"] == float(e["disc"])
        assert g["sum_charge"] == float(e["charge"])
    q1 = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in q1_pricing_summary(spark, SF_DIR).collect()
    }
    for k in got:
        assert abs(got[k]["sum_charge"] - q1[k]["sum_charge"]) < 0.02


def test_dynamic_gap_bridging_semantics(spark):
    """A long-gap event must hold the session open ACROSS a later
    short-gap event's expiry (running-max semantics, not
    previous-row): purchase at t=0 (1h gap) then click at t=20min
    (15min gap) then click at t=50min — prev-row logic would split at
    t=50min (20min+15min < 50min), but the purchase's 1h window
    bridges it: ONE session. A fourth event past every expiry starts
    session two."""
    from datetime import datetime, timezone

    from mpi_word_count_spark import tables
    from mpi_word_count_spark.queries import relational_queries as rq

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def at(minutes):
        return datetime.fromtimestamp(
            t0.timestamp() + 60 * minutes, tz=timezone.utc
        )

    df = spark.createDataFrame(
        [
            (1, at(0), 7, "purchase", 1.0, "{}"),
            (2, at(20), 7, "click", 1.0, "{}"),
            (3, at(50), 7, "click", 1.0, "{}"),
            (4, at(200), 7, "click", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = tables.table
    rq_table = rq.table
    try:
        tables.table = lambda s, name, sf: (
            df if name == "events" else orig(s, name, sf)
        )
        rq.table = tables.table
        rows = rq.q_dynamic_gap_sessions(spark, "unused").collect()
    finally:
        tables.table = orig
        rq.table = rq_table
    assert len(rows) == 1
    assert rows[0]["n_sessions"] == 2
    assert rows[0]["n_events"] == 4
