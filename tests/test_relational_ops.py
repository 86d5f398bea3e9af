"""Unit tests for relational operator utilities not covered by the
oracle-parity suite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_asof_join_semantics(spark):
    from datetime import datetime

    from go_vectorsearch_spark.operators.relational import asof_join

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 10, t(5)), (2, 10, t(20)), (3, 10, t(2)), (4, 99, t(30))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, t(3), 1.0, 100), (10, t(20), 2.0, 101), (10, t(25), 3.0, 102)],
        "user_id long, ts timestamp, value double, event_id long",
    )
    out = {
        r["event_id"]: (r["asof_ts"], r["asof_value"])
        for r in asof_join(
            left, right, on="user_id", ts_col="ts",
            right_cols=["value"], tie_col="event_id",
        ).collect()
    }
    assert out[1] == (t(3), 1.0)  # most recent at-or-before
    assert out[2] == (t(20), 2.0)  # equal timestamp is inclusive
    assert out[3] == (None, None)  # no right row yet -> nulls
    assert out[4] == (None, None)  # key with no right rows at all


def test_asof_join_right_tie_deterministic(spark):
    """Two right rows at the same (key, ts): the carried asof_* values
    must come from the one with the greatest tie_col (the last in the
    total window order), every run — matching the DuckDB oracle's
    ORDER BY ts, is_r DESC, event_id ASC."""
    from datetime import datetime

    from go_vectorsearch_spark.operators.relational import asof_join

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 10, t(5))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, t(3), 1.0, 200), (10, t(3), 2.0, 100)],
        "user_id long, ts timestamp, value double, event_id long",
    )
    for _ in range(3):
        out = asof_join(
            left, right, on="user_id", ts_col="ts",
            right_cols=["value"], tie_col="event_id",
        ).collect()
        assert [(r["event_id"], r["asof_value"]) for r in out] == [(1, 1.0)]


def test_topk_paginated_tie_break_no_overlap(spark):
    """Equal scores across a page boundary: pages must partition the
    result set (no duplicated/dropped rows), via the id tie-break."""
    from go_vectorsearch_spark.operators.search import topk_paginated

    df = spark.createDataFrame(
        [(i, 1.0) for i in range(1, 9)], "document_id long, score double"
    )
    p1 = {r["document_id"] for r in topk_paginated(df, 4, 0).collect()}
    p2 = {r["document_id"] for r in topk_paginated(df, 4, 4).collect()}
    assert p1 == {1, 2, 3, 4}
    assert p2 == {5, 6, 7, 8}


def test_asof_join_ignores_null_timestamps(spark):
    """Right rows with null ts are 'at or before' nothing and must never
    match; left rows with null ts get no match (asof_* stays null)."""
    from go_vectorsearch_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, None), (3, 11, 100)],
        "event_id long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        [(100, 10, 50, 1.0), (101, 10, None, 99.0)],
        "event_id long, user_id long, ts long, value double",
    )
    out = {
        r["event_id"]: (r["asof_ts"], r["asof_value"])
        for r in asof_join(
            left, right, on="user_id", ts_col="ts",
            right_cols=["value"], tie_col="event_id",
        ).collect()
    }
    assert out[1] == (50, 1.0)      # matches the real row, not the null-ts one
    assert out[2] == (None, None)   # null-ts left row: no match
    assert out[3] == (None, None)   # user 11 has no right rows


def test_approx_count_distinct_hll(spark, sf_correct):
    """Mergeable-sketch distinct counting (HyperLogLog++): the one-pass,
    fixed-memory path a 100 TB distinct-count uses instead of an exact
    two-level aggregate. Engine-specific estimates have no cross-engine
    oracle; the contract is bounded relative error vs the exact count."""
    from go_vectorsearch_spark.sources.tables import load_table

    li = load_table(spark, sf_correct, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).head()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_asof_same_source_equals_two_frame(spark, sf_correct):
    """asof_join_same_source (one tagged scan) must produce exactly the
    rows of asof_join over the two filtered frames — same events data
    the registry query uses, so this pins the single-scan rewrite."""
    from go_vectorsearch_spark.operators.relational import (
        asof_join,
        asof_join_same_source,
    )
    from go_vectorsearch_spark.sources.tables import load_table

    ev = load_table(spark, sf_correct, "events")
    two = asof_join(
        ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts"),
        ev.filter(F.col("event_type") == "signup").select("user_id", "ts", "value", "event_id"),
        on="user_id", ts_col="ts", right_cols=["value"], tie_col="event_id",
    )
    one = asof_join_same_source(
        ev.select("event_id", "user_id", "ts", "value", "event_type"),
        left_pred=F.col("event_type") == "purchase",
        right_pred=F.col("event_type") == "signup",
        on="user_id", ts_col="ts",
        left_cols=["event_id", "user_id", "ts"],
        right_cols=["value"], tie_col="event_id",
    )
    assert sorted(one.columns) == sorted(two.columns)
    # the point of the rewrite: ONE scan of the source in the plan
    # (checked pre-execution: after collect, AQE's toString renders the
    # tree twice as Final + Initial plan)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    rows_one = sorted(map(str, one.collect()))
    rows_two = sorted(map(str, two.collect()))
    assert rows_one == rows_two


@pytest.mark.slow
def test_range_join_point_shape_and_equivalence(spark):
    """range_join_point must equal the naive BETWEEN join row-for-row
    while planning an equi-hash join (no BroadcastNestedLoop/cartesian
    product — the thing that dies at scale). Covers boundary inclusivity,
    bucket-spanning intervals, inverted intervals, and multi-match."""
    from datetime import datetime

    from go_vectorsearch_spark.operators.relational import range_join_point

    t = lambda d, h=0: datetime(2024, 1, d, h)  # noqa: E731
    points = spark.createDataFrame(
        [(i, t(d, h)) for i, (d, h) in enumerate(
            [(1, 0), (3, 12), (8, 0), (15, 23), (20, 5), (28, 0)]
        )],
        "pid long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (100, t(1), t(3, 12)),   # boundary-inclusive both ends
            (101, t(2), t(16)),      # spans multiple 7-day buckets
            (102, t(19), t(18)),     # inverted: matches nothing
            (103, t(27), t(31)),
        ],
        "iid long, start timestamp, end timestamp",
    )
    fast = range_join_point(points, intervals, "ts", "start", "end",
                            bucket_seconds=7 * 86400)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    naive = points.join(
        intervals,
        (points.ts >= intervals.start) & (points.ts <= intervals.end),
    )
    got = sorted((r["pid"], r["iid"]) for r in fast.collect())
    want = sorted((r["pid"], r["iid"]) for r in naive.collect())
    assert got == want and len(got) > 0
    # every pair meets in exactly one bucket: no dup rows
    assert len(got) == len(set(got))
