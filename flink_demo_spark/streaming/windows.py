"""Event-time windowed aggregations and the interval join (SURVEY.md
§2.7/2.11), written once for both runtime modes.

Each helper is a plain ``DataFrame -> DataFrame`` transformation: the
batch window queries in ``plans/temporal.py`` apply it to the events
table, their streaming twins in ``plans/stream_parity.py`` to a
watermarked events stream. Batch-vs-stream equivalence is asserted by
pytest and by the driver's DuckDB oracle, which both forms share.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling_agg(
    events: DataFrame,
    duration: str = "1 hour",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    return (
        events.groupBy(F.window(ts_col, duration).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), *keys, "n_events", "sum_value")
    )


def sliding_agg(
    events: DataFrame,
    duration: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    return (
        events.groupBy(F.window(ts_col, duration, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def cumulate_counts(events: DataFrame) -> DataFrame:
    """CUMULATE windows in epoch seconds: events per (window_start_s,
    window_end_s, event_type) for each 4-hour window and each of its
    hourly growing ends."""
    step, size, n_steps = 3600, 14400, 4
    es = F.col("ts").cast("long")
    base = events.select(
        "event_type",
        (es - (es % size)).alias("ws"),
        ((es % size) / step).cast("long").alias("j0"),
    )
    x = base.select(
        "event_type",
        "ws",
        F.explode(F.sequence(F.col("j0") + 1, F.lit(n_steps))).alias("j"),
    ).select(
        F.col("ws").alias("window_start_s"),
        (F.col("ws") + F.col("j") * step).alias("window_end_s"),
        "event_type",
    )
    return x.groupBy("window_start_s", "window_end_s", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )


def interval_join_stream(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Interval join (reference TxMatch.scala:51-76,
    QueryTest.scala:1040-1091): clicks within 10 minutes before each
    purchase, per user. Two streams both need watermarks."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id")


def session_agg(events: DataFrame, gap: str | Column) -> DataFrame:
    """Per-user session windows closed by ``gap`` (a duration string
    or a per-row duration column): start, event count, value sum."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
