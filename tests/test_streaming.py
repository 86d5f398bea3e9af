"""Streaming/batch equivalence tests: a Trigger.AvailableNow drain of the
events parquet must produce exactly the batch answer for tumbling,
sliding, and session windows (Spark's unified semantics contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_vectorsearch_spark.sources.tables import load_table
from go_vectorsearch_spark.streaming.events import (
    read_events_stream,
    run_available_now,
    session_counts,
    sliding_counts,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_smoke):
    return read_events_stream(spark, sf_smoke)


@pytest.fixture(scope="module")
def events_batch(spark, sf_smoke):
    return load_table(spark, sf_smoke, "events")


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


def test_tumbling_stream_equals_batch(events_stream, events_batch):
    got = run_available_now(tumbling_counts(events_stream), "t_tumbling")
    want = (
        events_batch.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_enrich_stream_static_join_equals_batch(spark, sf_smoke, events_stream, events_batch):
    """Stream-static dimension join: drained enriched stream == the same
    join run in batch; events without a dimension row survive (left)."""
    from go_vectorsearch_spark.streaming.events import enrich_stream

    dim = (
        load_table(spark, sf_smoke, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_name", "c_nationkey")
    )
    got = run_available_now(
        enrich_stream(events_stream, dim), "t_enrich", output_mode="append"
    )
    want = events_batch.join(dim, "user_id", "left")
    assert _rows(got) == _rows(want)
    assert got.count() == events_batch.count()  # left join drops nothing


def test_sliding_stream_equals_batch(events_stream, events_batch):
    got = run_available_now(sliding_counts(events_stream), "t_sliding")
    want = (
        events_batch.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    assert _rows(got) == _rows(want)
    # every event lands in 4 panes: sliding total = 4x tumbling total
    assert got.agg(F.sum("n")).head()[0] == 4 * events_batch.count()


def test_session_stream_equals_batch(spark, sf_smoke, events_stream, events_batch):
    got = run_available_now(session_counts(events_stream), "t_session")
    want = (
        events_batch.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    assert _rows(got) == _rows(want)
    # per-user session counts must also agree with the batch lag+cumsum
    # twin (events_sessionize; demoted r6 — its DuckDB parity now lives
    # in tests/test_demoted_parity.py, same bar)
    from go_vectorsearch_spark.queries import q_events_sessionize

    twin = q_events_sessionize(spark, sf_smoke)
    twin_rows = {
        (r["user_id"], r["n_sessions"], r["n_events"]) for r in twin.collect()
    }
    got_per_user = {
        (r["user_id"], r["n_sessions"], r["n_events"])
        for r in got.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }
    assert got_per_user == twin_rows


def test_streaming_exact_dedup_equals_batch(spark, sf_smoke):
    """Streaming dropDuplicates on the content hash keeps exactly one doc
    per distinct text — same hash set and count as batch exact_dedup
    (which survivor wins depends on arrival order, so compare hashes)."""
    from go_vectorsearch_spark.operators.dedup import exact_dedup
    from go_vectorsearch_spark.streaming.dedup import (
        exact_dedup_stream,
        read_documents_stream,
    )

    stream = read_documents_stream(spark, sf_smoke)
    got = run_available_now(
        exact_dedup_stream(stream), "t_dedup_stream", output_mode="append"
    )
    batch = exact_dedup(load_table(spark, sf_smoke, "documents"))
    got_hashes = {r["_text_md5"] for r in got.select("_text_md5").collect()}
    want_hashes = {
        r["h"] for r in batch.select(F.md5("text").alias("h")).collect()
    }
    assert got.count() == batch.count()
    assert got_hashes == want_hashes


def test_stateful_user_stats_equals_batch(spark, sf_smoke, events_stream, events_batch):
    from go_vectorsearch_spark.streaming.events import user_running_stats

    got = run_available_now(
        user_running_stats(events_stream), "t_stateful", output_mode="update"
    )
    # update-mode memory sink keeps every emitted row; the LAST emit per
    # user is the final running state
    from pyspark.sql import Window

    final = (
        got.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("n_events"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    want = events_batch.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )
    gs = {(r["user_id"], r["n_events"], round(r["sum_value"], 4), r["max_value"]) for r in final.collect()}
    ws = {(r["user_id"], r["n_events"], round(r["sum_value"], 4), r["max_value"]) for r in want.collect()}
    assert gs == ws


def test_stream_to_parquet_sink_equals_batch(spark, sf_smoke, tmp_path):
    """foreachBatch parquet sink: draining the (stateless) enriched
    event stream into parquet must produce exactly the batch rows."""
    from pyspark.sql import functions as F

    from go_vectorsearch_spark.sources.tables import load_table
    from go_vectorsearch_spark.streaming.events import (
        read_events_stream,
        read_parquet_sink,
        stream_to_parquet,
    )

    enrich = lambda df: df.filter(F.col("event_type") == "purchase").select(  # noqa: E731
        "event_id", "user_id", "ts", (F.col("value") * 2).alias("v2")
    )
    out = str(tmp_path / "sink_out")
    stream_to_parquet(
        enrich(read_events_stream(spark, sf_smoke)),
        out,
        str(tmp_path / "sink_ckpt"),
    )
    got = sorted(map(str, read_parquet_sink(spark, out).collect()))
    want = sorted(map(str, enrich(load_table(spark, sf_smoke, "events")).collect()))
    assert got == want

    # idempotent replay: re-draining the same source into the same sink
    # with a FRESH checkpoint re-runs the same epoch ids — the per-epoch
    # overwrite must rewrite, not duplicate (the at-least-once append
    # failure mode this sink exists to prevent)
    stream_to_parquet(
        enrich(read_events_stream(spark, sf_smoke)),
        out,
        str(tmp_path / "sink_ckpt2"),
    )
    again = sorted(map(str, read_parquet_sink(spark, out).collect()))
    assert again == want
