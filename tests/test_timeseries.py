"""Behavioral tests for the event-time operators — boundary semantics
that the oracle comparison alone would not localize: gap-boundary
equality, SCD2 interval contiguity, funnel monotonicity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from sparkifydb_datawarehouse_spark import registry

registry.load_all_modules()


@pytest.fixture(scope="module")
def sessions(spark, sf_dir):
    return registry.QUERIES["q_sessionize_gap"](spark, sf_dir).collect()


def test_sessions_nonoverlapping_and_gapped(sessions):
    by_user: dict[int, list[Row]] = {}
    for r in sessions:
        by_user.setdefault(r.user_id, []).append(r)
    for user, rows in by_user.items():
        rows.sort(key=lambda r: r.session_num)
        for a, b in zip(rows, rows[1:]):
            assert a.session_end <= b.session_start, (user, a, b)
            gap = (b.session_start - a.session_end).total_seconds()
            assert gap > 360 * 60, f"user {user}: {gap}s gap should have merged"


def test_sessionize_boundary_cases_match_oracle(spark, tmp_path):
    """Exact-interval semantics the oracle has and whole-second or
    epoch-double arithmetic loses: a gap 0.5 s over the 360-minute limit
    starts a new session (sf0.1's user 805 has a 21600.71 s gap), and
    spans whose microseconds end in 500 round like the oracle's ROUND
    (two sf0.1 sessions that earlier spellings put 0.001 s off)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.validate import compare

    t0 = 1704067200 * 10**6  # 2024-01-01 00:00:00, a whole second
    a, b = 1705787988450415, 1705821079301915  # 33090.8515 s apart
    ts_by_user = {
        805: [t0, t0 + 21_600_500_000],
        1345: [1704260641472801, 1704264739927301],  # 4098.4545 s
        1221: [a, (a + b) // 2, b],  # midpoint keeps both gaps under 6 h
    }
    user_ids = [u for u, ts in ts_by_user.items() for _ in ts]
    n = len(user_ids)
    events = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [t for ts in ts_by_user.values() for t in ts], pa.timestamp("us")
            ),
            "user_id": pa.array(user_ids, pa.int64()),
            "event_type": ["view"] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }
    )
    path = tmp_path / "events.parquet"
    pq.write_table(events, str(path))

    got = registry.QUERIES["q_sessionize_gap"](spark, str(tmp_path)).toPandas()
    assert sorted(got[got.user_id == 805].n_events) == [1, 1]
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        want = con.sql(registry.ORACLE["q_sessionize_gap"]).df()
    assert not compare("q_sessionize_gap", got, want)


def test_session_duration_consistent(sessions):
    for r in sessions:
        assert r.duration_sec == pytest.approx(
            (r.session_end - r.session_start).total_seconds(), abs=1e-3
        )
        assert r.n_events >= 1


def test_scd2_intervals_contiguous(spark, sf_dir):
    rows = registry.QUERIES["q_scd2_intervals"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r.run_id)
        # exactly one open (current) interval per user, and it is the last
        assert [r.is_current for r in rs] == [False] * (len(rs) - 1) + [True]
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from, (user, a, b)
            # runs alternate: a run only ends when the type changes
            assert a.event_type != b.event_type, (user, a, b)


def test_funnel_is_monotone(spark, sf_dir):
    rows = registry.QUERIES["q_funnel_conversion"](spark, sf_dir).collect()
    assert [r.stage for r in rows] == ["view", "click", "purchase"]
    counts = [r.n_users for r in rows]
    assert counts[0] >= counts[1] >= counts[2]
    assert counts[0] > 0


def test_referential_audit_detects_planted_orphans(spark, sf_dir):
    """The fixture data is clean (audit finds 0 everywhere), so prove
    the detector works by deleting half the parent keys."""
    from pyspark.sql import functions as F

    from sparkifydb_datawarehouse_spark.operators.quality import referential_audit
    from sparkifydb_datawarehouse_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 2 == 0)
    row = referential_audit(li, "l_orderkey", o, "o_orderkey", "t", 1).collect()[0]
    expected = li.filter(F.col("l_orderkey") % 2 == 1).count()
    assert row.n_orphans == expected > 0
    assert row.n_rows == li.count()


def test_islands_split_on_calendar_gaps(spark):
    """Planted activity: user 1 active Jan 1-3 and Jan 6-7 (two islands,
    the second starting after a 2-day hole); user 2 active once."""
    import datetime as dt

    from pyspark.sql import functions as F

    rows = [
        (1, dt.datetime(2024, 1, d, 10, 0)) for d in (1, 2, 3, 6, 7)
    ] + [
        (1, dt.datetime(2024, 1, 2, 23, 59)),  # same-day dup collapses
        (2, dt.datetime(2024, 1, 5, 0, 0)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    ev.select("user_id", F.to_date("ts").alias("day")).createOrReplaceTempView(
        "_islands_in"
    )
    from pyspark.sql import Window

    d = spark.table("_islands_in").distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    out = (
        d.select(
            "user_id",
            "day",
            (
                F.datediff("day", F.lit("1970-01-01").cast("date"))
                - F.row_number().over(w)
            ).alias("island"),
        )
        .groupBy("user_id", "island")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("user_id", "start_day")
        .collect()
    )
    got = [(r.user_id, str(r.start_day), str(r.end_day), r.n_days) for r in out]
    assert got == [
        (1, "2024-01-01", "2024-01-03", 3),
        (1, "2024-01-06", "2024-01-07", 2),
        (2, "2024-01-05", "2024-01-05", 1),
    ]
