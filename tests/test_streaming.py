"""Structured Streaming tests: batch/stream equivalence, stateful
operators, and the reference's click-count invariant
(BASELINE.md: every page gets equal counts per window)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_demo_spark.catalog import load_table
from flink_demo_spark.sources.streams import events_stream
from flink_demo_spark.streaming.runner import run_available_now
from flink_demo_spark.streaming.stateful import (
    ENRICHMENT_OUTPUT_SCHEMA,
    buffered_enrichment_join,
    timeout_detector,
)
from flink_demo_spark.streaming.windows import tumbling_agg


def test_stream_equals_batch_tumbling(spark, sf_dir):
    """Same window agg, streaming vs batch (reference ExecuteMode.scala:41-72)."""
    stream_result = run_available_now(
        tumbling_agg(events_stream(spark, sf_dir)), output_mode="complete"
    )
    batch = tumbling_agg(load_table(spark, sf_dir, "events"))
    s = sorted(map(tuple, stream_result.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b


def _mem_stream(spark, rows, schema):
    """Create a one-batch file-backed stream from literal rows."""
    import tempfile, uuid

    d = tempfile.mkdtemp(prefix=f"memstream_{uuid.uuid4().hex[:6]}_")
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.mode("overwrite").parquet(d)
    return spark.readStream.schema(df.schema).parquet(d)


def test_timeout_detector_emits_alert_for_unmatched_start(spark):
    """LongRides semantics (LongRidesSolution.scala:97-131): a start
    with no end within 2h alerts; matched rides do not."""
    t0 = dt.datetime(2024,1,1)
    rows = [
        (1, t0, "start"),                                  # never ends -> alert
        (2, t0, "start"), (2, t0 + dt.timedelta(minutes=30), "end"),  # fine
        # a late event far in the future advances the watermark past 1's horizon
        (99, t0 + dt.timedelta(hours=10), "start"),
        (99, t0 + dt.timedelta(hours=10, minutes=1), "end"),
    ]
    stream = _mem_stream(
        spark, rows, "key long, ts timestamp, side string"
    ).withWatermark("ts", "1 second")
    out = run_available_now(
        timeout_detector(stream, horizon_ms=2 * 3600 * 1000),
        output_mode="append",
    )
    alerts = {r.key for r in out.collect()}
    assert 1 in alerts
    assert 2 not in alerts


from .conftest import state_store_provider as _state_store_provider


def _mem_stream_batches(spark, batches, schema):
    """File-backed stream where each element of ``batches`` arrives as
    its own micro-batch (one file per batch + maxFilesPerTrigger=1)."""
    import os, tempfile, time, uuid

    d = tempfile.mkdtemp(prefix=f"memstream_{uuid.uuid4().hex[:6]}_")
    df0 = spark.createDataFrame(batches[0], schema)
    for i, rows in enumerate(batches):
        sub = os.path.join(d, f"b{i}.parquet")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sub)
        time.sleep(0.05)  # distinct mtimes -> deterministic file order
    return (
        spark.readStream.schema(df0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "b*.parquet"))
    )


def test_timeout_detector_end_before_start(spark):
    """An 'end' arriving in an earlier micro-batch than its 'start'
    must match (no false alert) — reference LongRidesSolution.scala:
    33-44 stores whichever side arrives first."""
    t0 = dt.datetime(2024, 1, 1)
    batch1 = [
        (5, t0 + dt.timedelta(minutes=30), "end"),  # end first (out of order)
        (6, t0, "start"),  # never ends -> alert
    ]
    batch2 = [
        (5, t0, "start"),  # its end already arrived -> matched
        # far-future pair advances the watermark past every horizon
        (99, t0 + dt.timedelta(hours=10), "start"),
        (99, t0 + dt.timedelta(hours=10, minutes=1), "end"),
    ]
    stream = _mem_stream_batches(
        spark, [batch1, batch2], "key long, ts timestamp, side string"
    ).withWatermark("ts", "1 second")
    out = run_available_now(
        timeout_detector(stream, horizon_ms=2 * 3600 * 1000),
        output_mode="append",
    )
    alerts = {r.key for r in out.collect()}
    assert 5 not in alerts, "end-before-start must not raise a false timeout"
    assert 6 in alerts


def test_buffered_enrichment_join_pairs_both_sides(spark):
    """RidesAndFares (RidesAndFaresSolution.scala:19-70): pair ride and
    fare per rideId whichever arrives first."""
    t0 = dt.datetime(2024,1,1)
    rows = [
        (10, t0, "left", "ride-10"),
        (10, t0, "right", "fare-10"),
        (11, t0, "right", "fare-11"),
        (11, t0, "left", "ride-11"),
        (12, t0, "left", "ride-12"),  # unmatched: no output
    ]
    stream = _mem_stream(
        spark, rows, "key long, ts timestamp, side string, payload string"
    )
    out = run_available_now(
        buffered_enrichment_join(stream, ENRICHMENT_OUTPUT_SCHEMA),
        output_mode="append",
    )
    got = {(r.key, r.left_payload, r.right_payload) for r in out.collect()}
    assert got == {(10, "ride-10", "fare-10"), (11, "ride-11", "fare-11")}


def test_buffered_enrichment_join_overwrite_and_multiple_pairs(spark):
    """Last-write-wins within a same-side run, and several pairs per
    batch: L1 L2 R1 R2 L3 -> (L2,R1) then (L3,R2) — pins the
    run-compressed fold against the original row-at-a-time semantics."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (7, t0, "left", "L1"),
        (7, t0, "left", "L2"),   # overwrites L1
        (7, t0, "right", "R1"),  # pairs with L2
        (7, t0, "right", "R2"),  # pending right
        (7, t0, "left", "L3"),   # pairs with R2
    ]
    stream = _mem_stream(
        spark, rows, "key long, ts timestamp, side string, payload string"
    )
    out = run_available_now(
        buffered_enrichment_join(stream, ENRICHMENT_OUTPUT_SCHEMA),
        output_mode="append",
    )
    got = {(r.key, r.left_payload, r.right_payload) for r in out.collect()}
    assert got == {(7, "L2", "R1"), (7, "L3", "R2")}


def test_click_count_invariant(spark):
    """Reference invariant (ClickEventGenerator.java:43-56): a
    generator that emits pages round-robin yields equal per-page counts
    in every complete window. Reproduced with a deterministic bounded
    generator (rate source is wall-clock; here we pre-stamp)."""
    pages = ["/help", "/index", "/shop", "/jobs", "/about", "/news"]
    n_windows, per_page = 4, 250
    rows = []
    t0 = dt.datetime(2024,1,1)
    i = 0
    for w in range(n_windows):
        for j in range(per_page * len(pages)):
            ts = t0 + dt.timedelta(seconds=w * 15 + (j % (per_page * len(pages))) * 15.0 / (per_page * len(pages)))
            rows.append((ts, pages[i % len(pages)]))
            i += 1
    stream = _mem_stream(spark, rows, "ts timestamp, page string").withWatermark(
        "ts", "1 second"
    )
    counts = run_available_now(
        stream.groupBy(F.window("ts", "15 seconds"), "page").count(),
        output_mode="complete",
    )
    vals = [r["count"] for r in counts.collect()]
    assert len(vals) == n_windows * len(pages)
    assert set(vals) == {per_page}


def test_count_window_stream_matches_batch(spark, sf_dir):
    """Streaming countWindow(10) must equal the batch count-window
    query restricted to complete windows (Flink: partials never fire)."""
    from flink_demo_spark.plans.registry import REGISTRY, _load_all
    from flink_demo_spark.sources.streams import events_stream
    from flink_demo_spark.streaming.stateful import count_window

    _load_all()
    batch = (
        REGISTRY["count_window_agg"].fn(spark, sf_dir)
        .where(F.col("n_events") == 10)
        .collect()
    )
    expected = {
        (r.user_id, r.window_no, r.n_events, f"{r.sum_value:.2f}") for r in batch
    }

    ev = events_stream(spark, sf_dir, watermark=None).select(
        F.col("user_id").alias("key"), "ts", "value"
    )
    got_rows = run_available_now(count_window(ev, n=10), output_mode="append").collect()
    got = {(r.key, r.window_no, r.n_events, r.sum_value) for r in got_rows}
    assert got == expected


def test_checkpoint_recovery_exactly_once(spark):
    """Reference checkpointing/savepoint recovery (State.scala:66-78,
    RecoverFromSavepoint.scala): restart a checkpointed file-source
    query; already-processed files are not reprocessed, new files are."""
    import tempfile, os

    src = tempfile.mkdtemp(prefix="ckpt_src_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_state_")
    out = tempfile.mkdtemp(prefix="ckpt_out_") + "/data"

    def write_batch(vals, name):
        spark.createDataFrame([(v,) for v in vals], "v long").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/{name}")

    write_batch([1, 2, 3], "b1")
    stream = spark.readStream.schema("v long").option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{src}/*")

    def run_once():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = sorted(r.v for r in spark.read.parquet(out).collect())
    assert first == [1, 2, 3]

    write_batch([4, 5], "b2")
    run_once()  # restart from checkpoint
    second = sorted(r.v for r in spark.read.parquet(out).collect())
    assert second == [1, 2, 3, 4, 5], "b1 must not be reprocessed, b2 must be"


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_streaming_cep_state_survives_checkpoint_restart(spark, provider):
    """The NFA's pickled keyed state must survive a checkpointed
    restart: a partial match begun before the stop completes after the
    restart, and a timeout decided only by post-restart rows emits —
    final output equals batch match_pattern with timeout_measures.

    Parametrized over the state-store provider (round-8 brief #7): the
    pandas-state schema contract must hold under RocksDB exactly as
    under the default HDFS-backed store — provider differences
    (columnar encoding, snapshot/changelog files) must be invisible to
    the operator."""
    import tempfile

    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import streaming_match_pattern

    t0 = dt.datetime(1970, 1, 2)
    seq_b1 = [
        (1, "signup", 10, 0),    # completes at 40 (post-restart)
        (2, "signup", 12, 1),    # times out at 50 (post-restart row)
        (1, "click", 15, 2),
    ]
    seq_b2 = [
        (1, "purchase", 40, 3),
        (2, "click", 50, 4),     # expires user 2's anchor (50-12>30)
        (2, "signup", 55, 5),    # stays pending: horizon never expires
    ]
    schema = "k long, event_type string, ts timestamp, event_id long"
    pat = (
        cep.Pattern.begin("begin", lambda r: r["event_type"] == "signup")
        .followed_by("follow", lambda r: r["event_type"] == "purchase")
        .within_time("30s")
    )

    def ok(rows_df, b):
        return {"anchor_id": int(rows_df.iloc[b["begin"][0]]["event_id"]),
                "status": "success"}

    def timed_out(rows_df, b):
        return {"anchor_id": int(rows_df.iloc[b["begin"][0]]["event_id"]),
                "status": "timeout"}

    out_schema = "k long, anchor_id long, status string, is_timeout boolean"
    src = tempfile.mkdtemp(prefix="cep_ckpt_src_")
    ckpt = tempfile.mkdtemp(prefix="cep_ckpt_state_")
    out_dir = tempfile.mkdtemp(prefix="cep_ckpt_out_") + "/data"

    def write_batch(rows, name):
        spark.createDataFrame(
            [(k, et, t0 + dt.timedelta(seconds=s), i) for k, et, s, i in rows],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")

    def run_once():
        with _state_store_provider(spark, provider):
            stream = spark.readStream.schema(schema).parquet(f"{src}/*")
            q = (
                streaming_match_pattern(
                    stream, pat, ["k"], "ts", ok, out_schema,
                    order_cols=["ts", "event_id"], timeout_measures=timed_out,
                )
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

    write_batch(seq_b1, "b1")
    run_once()
    write_batch(seq_b2, "b2")
    run_once()  # restart from checkpoint: state restored, b1 not re-read

    got = {
        (r.k, r.anchor_id, r.status, r.is_timeout)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        (1, 0, "success", False),   # partial from b1 completed by b2
        (2, 1, "timeout", True),    # decided by a post-restart row
    }, got


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_retract_stream_changelog_and_fold(spark, provider):
    """toRetractStream semantics (Flink +I/-U/+U changelog): exact
    change sequence on a fixed split, and fold == batch aggregate on
    random splits (the changelog CONTENT depends on batch boundaries;
    its fold must not). Parametrized over the state-store provider
    (round-8 verdict #6): the per-key change_seq/prev-value state must
    behave identically under RocksDB."""
    import random

    from flink_demo_spark.streaming.retract import (
        fold_changelog,
        retract_agg_stream,
    )

    schema = "user_id long, cents long"
    rows = [(1, 100), (1, 250), (2, 700), (1, 150), (2, 300)]

    # fixed split: [(1,100),(1,250),(2,700)] then [(1,150),(2,300)]
    batches = [rows[:3], rows[3:]]
    with _state_store_provider(spark, provider):
        log = run_available_now(
            retract_agg_stream(
                _mem_stream_batches(spark, batches, schema),
                key_col="user_id", cents_col="cents",
            ),
            output_mode="append",
        )
    got = sorted(
        (r.key, r.change_seq, r.change, r.cnt, r.sum_cents)
        for r in log.collect()
    )
    assert got == [
        (1, 1, "+I", 2, 350),   # batch 1: first emission for key 1
        (1, 2, "-U", 2, 350),   # batch 2: retract old ...
        (1, 3, "+U", 3, 500),   # ... emit new
        (2, 1, "+I", 1, 700),
        (2, 2, "-U", 1, 700),
        (2, 3, "+U", 2, 1000),
    ], got

    if provider == "rocksdb":
        # the split-invariance half below exercises fold math, not the
        # state store — one provider is enough for it
        return
    # random splits: the fold is split-invariant
    rng = random.Random(23)
    many = [(rng.randrange(1, 5), rng.randrange(0, 1000)) for _ in range(40)]
    expect = {}
    for k, c in many:
        cnt, s = expect.get(k, (0, 0))
        expect[k] = (cnt + 1, s + c)
    for _ in range(3):
        cuts = sorted(rng.sample(range(1, len(many)), 4))
        bs, prev = [], 0
        for c in [*cuts, len(many)]:
            bs.append(many[prev:c])
            prev = c
        folded = fold_changelog(
            run_available_now(
                retract_agg_stream(
                    _mem_stream_batches(spark, bs, schema),
                    key_col="user_id", cents_col="cents",
                ),
                output_mode="append",
            )
        )
        got2 = {
            r.key: (r.cnt, round(r.sum_value * 10000))
            for r in folded.collect()
        }
        assert got2 == expect, got2


def test_late_data_dropped_past_watermark(spark):
    """Reference allowedLateness/late side-output (WatermarkDemo.scala:
    207-299): Spark drops rows later than the watermark in append mode
    (documented semantic difference, SURVEY §7 risk 3)."""
    import tempfile, os, uuid

    src = tempfile.mkdtemp(prefix="late_src_")
    t0 = dt.datetime(2024, 1, 1)

    def write_file(rows, name):
        spark.createDataFrame(rows, "ts timestamp, k string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/{name}")

    ckpt = tempfile.mkdtemp(prefix="late_ckpt_")
    out = tempfile.mkdtemp(prefix="late_out_") + "/data"

    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .parquet(f"{src}/*")
        .withWatermark("ts", "10 minutes")
    )
    agg = stream.groupBy(F.window("ts", "1 hour"), "k").count()

    def run_once():
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1 advances the committed watermark far ahead; the extra
    # 'flusher' event pushes the watermark past the on-time window end
    write_file(
        [
            (t0 + dt.timedelta(hours=5), "on-time"),
            (t0 + dt.timedelta(hours=8), "flusher"),
        ],
        "b1",
    )
    run_once()
    run_once()  # extra run so the closed on-time window flushes
    # run 2 delivers a straggler behind the committed watermark
    write_file([(t0, "late")], "b2")
    run_once()
    run_once()
    keys = {r.k for r in spark.read.parquet(out).collect()}
    # 'late' must not appear: its window closed before it arrived
    assert "on-time" in keys
    assert "late" not in keys


def test_foreach_batch_fanout_multi_sink(spark, sf_dir):
    """StatementSet multi-insert (reference TableSQLFunc.scala:532-573:
    one DAG, N sinks, shared sub-plan): one streaming computation feeds
    two sinks via foreachBatch."""
    import tempfile

    from flink_demo_spark.sinks import foreach_batch_fanout
    from flink_demo_spark.sources.streams import events_stream

    d1 = tempfile.mkdtemp(prefix="fan_a_") + "/data"
    d2 = tempfile.mkdtemp(prefix="fan_b_") + "/data"

    agg = (
        events_stream(spark, sf_dir, watermark=None)
        .groupBy("event_type")
        .count()
    )
    sinks = [
        lambda df, bid: df.write.mode("overwrite").parquet(d1),
        lambda df, bid: df.where(F.col("count") > 100).write.mode(
            "overwrite"
        ).parquet(d2),
    ]
    q = (
        agg.writeStream.foreachBatch(foreach_batch_fanout(sinks))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    a = spark.read.parquet(d1)
    assert a.count() == 5  # five event types
    b = spark.read.parquet(d2)
    assert 0 < b.count() <= 5


def test_update_mode_final_state_equals_batch(spark, sf_dir):
    """Retract-semantics risk (SURVEY §7 risk 1): Flink emits -U/+U
    changelog pairs; Spark update mode re-emits changed keys per batch.
    The contract we guarantee: the LAST emission per key equals the
    batch result."""
    import uuid

    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.sources.streams import events_stream

    agg = (
        events_stream(spark, sf_dir, watermark=None, chunks=3)
        .groupBy("event_type")
        .count()
    )
    name = f"upd_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 3
    # last emission per key (memory sink appends update rows in order)
    import pandas as pd

    updates = spark.table(name).toPandas()
    final = updates.groupby("event_type")["count"].last().to_dict()
    batch = {
        r.event_type: r["count"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .count()
        .collect()
    }
    assert final == batch


def test_streaming_foreach_batch_upsert(spark, sf_dir):
    """JDBC-style upsert sink fed by a streaming aggregation
    (reference MysqlSink.scala:12-45, Sink.scala:145): per micro-batch
    merge_upsert keyed on event_type; final table equals batch agg."""
    import tempfile

    from flink_demo_spark.sinks import merge_upsert
    from flink_demo_spark.sources.streams import events_stream

    target = tempfile.mkdtemp(prefix="upsert_stream_") + "/table"

    agg = (
        events_stream(spark, sf_dir, watermark=None)
        .groupBy("event_type")
        .count()
    )
    q = (
        agg.writeStream.foreachBatch(
            lambda df, bid: merge_upsert(spark, df, target, ["event_type"])
        )
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_type: r["count"] for r in spark.read.parquet(target).collect()
    }
    expected = {
        r.event_type: r["count"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .count()
        .collect()
    }
    assert got == expected


def test_stream_left_outer_interval_join_semantics(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join (reference TxMatch
    unmatched side outputs): matched pairs equal the batch inner join
    exactly; unmatched (NULL) rows are a subset of the batch's — outer
    rows whose watermark horizon hasn't closed when input ends stay in
    state (inherent Structured Streaming semantics; Flink's timers
    would fire them — documented difference)."""
    from flink_demo_spark.sources.streams import events_stream

    def sides(src):
        p = src.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        c = src.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        return p, c

    def cond():
        return (
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts"))
        )

    bp, bc = sides(load_table(spark, sf_dir, "events"))
    batch = {(r.purchase_id, r.click_id) for r in bp.join(bc, cond(), "left")
             .select("purchase_id", "click_id").collect()}

    sp, _ = sides(events_stream(spark, sf_dir, watermark="10 minutes"))
    _, sc = sides(events_stream(spark, sf_dir, watermark="10 minutes"))
    out = run_available_now(
        sp.join(sc, cond(), "left").select("purchase_id", "click_id"),
        output_mode="append",
    ).collect()
    stream = {(r.purchase_id, r.click_id) for r in out}

    batch_matched = {x for x in batch if x[1] is not None}
    stream_matched = {x for x in stream if x[1] is not None}
    assert stream_matched == batch_matched  # matches emit immediately
    assert stream <= batch  # no spurious rows
    # the overwhelming majority of outer rows must have flushed
    assert len(stream) >= len(batch) - 5


def test_broadcast_config_updates_between_batches(spark):
    """Broadcast-state pattern (reference BroadcastProcessFuncApp.scala:
    8-38): a config table re-read per micro-batch changes the filtering
    of the main stream without restarting the query."""
    import tempfile

    from flink_demo_spark.streaming.broadcast_config import config_filtered_sink

    src = tempfile.mkdtemp(prefix="cfg_src_")
    cfg_path = tempfile.mkdtemp(prefix="cfg_tab_") + "/config"
    ckpt = tempfile.mkdtemp(prefix="cfg_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="cfg_out_") + "/data"

    def write_src(rows, name):
        spark.createDataFrame(rows, "event_type string, v long").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/{name}")

    def write_cfg(types):
        spark.createDataFrame(
            [(t,) for t in types], "event_type string"
        ).write.mode("overwrite").parquet(cfg_path)

    def run_once():
        stream = spark.readStream.schema("event_type string, v long").parquet(
            f"{src}/*"
        )
        q = (
            stream.writeStream.foreachBatch(
                config_filtered_sink(
                    spark,
                    cfg_path,
                    "event_type",
                    lambda df, bid: df.write.mode("append").parquet(out_dir),
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_cfg(["click"])
    write_src([("click", 1), ("view", 2)], "b1")
    run_once()
    got1 = {(r.event_type, r.v) for r in spark.read.parquet(out_dir).collect()}
    assert got1 == {("click", 1)}  # 'view' filtered by config v1

    write_cfg(["click", "view"])  # config change, no restart of source state
    write_src([("click", 3), ("view", 4)], "b2")
    run_once()
    got2 = {(r.event_type, r.v) for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {("click", 1), ("click", 3), ("view", 4)}


def test_processing_time_timeout_fires(spark):
    """Processing-time timer (reference FraudDetector.scala:17-56 uses
    a 60s processing-time timer to clear the flag state): group state
    with ProcessingTimeTimeout fires on a later trigger even with no
    new input."""
    import tempfile
    import time as _time
    import uuid

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = tempfile.mkdtemp(prefix="ptt_")
    spark.createDataFrame([(1, "x")], "k long, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/b1")

    OUT = StructType([StructField("k", LongType()), StructField("status", StringType())])
    ST = StructType([StructField("seen", LongType())])

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"k": [key[0]], "status": ["timeout"]})
            return
        for _ in pdfs:
            pass
        state.update((1,))
        state.setTimeoutDuration(1500)
        yield pd.DataFrame({"k": [key[0]], "status": ["seen"]})

    stream = spark.readStream.schema("k long, v string").parquet(f"{src}/*")
    out = stream.groupBy("k").applyInPandasWithState(
        fn, OUT, ST, "append", GroupStateTimeout.ProcessingTimeTimeout
    )
    name = f"ptt_{uuid.uuid4().hex[:6]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 45
        statuses = set()
        while _time.time() < deadline:
            statuses = {r.status for r in spark.table(name).collect()}
            if "timeout" in statuses:
                break
            _time.sleep(1)
    finally:
        q.stop()
    assert statuses == {"seen", "timeout"}


def test_changelog_retract_stream(spark):
    """toRetractStream emulation (reference TableSQLFunc.scala:817-859;
    expected changelog shape at 869-877): a count-per-key aggregation
    over two micro-batches emits +I for first appearance and -U/+U
    pairs when a count changes; the materialized table equals the
    final batch result."""
    import tempfile

    from flink_demo_spark.streaming.changelog import changelog_sink

    src = tempfile.mkdtemp(prefix="chlog_src_")
    ckpt = tempfile.mkdtemp(prefix="chlog_ckpt_")
    target = tempfile.mkdtemp(prefix="chlog_tgt_") + "/table"
    changelog = tempfile.mkdtemp(prefix="chlog_log_") + "/log"

    def write_src(rows, name):
        spark.createDataFrame(rows, "name string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    def run_once():
        agg = (
            spark.readStream.schema("name string")
            .parquet(f"{src}/*")
            .groupBy("name")
            .count()
        )
        q = (
            agg.writeStream.foreachBatch(
                changelog_sink(spark, target, changelog, ["name"])
            )
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # mirrors the reference's clicks fixture: Mary, Bob / Mary, Liz
    write_src([("Mary",), ("Bob",)], "b1")
    run_once()
    write_src([("Mary",), ("Liz",)], "b2")
    run_once()

    log = [
        (r.op, r.name, r["count"])
        for r in spark.read.parquet(changelog).orderBy("batch_id", "name", "op").collect()
    ]
    # batch 1: both +I with count 1
    assert ("+I", "Mary", 1) in log and ("+I", "Bob", 1) in log
    # batch 2: Liz inserted; Mary retract 1 -> update 2; Bob unchanged
    assert ("+I", "Liz", 1) in log
    assert ("-U", "Mary", 1) in log and ("+U", "Mary", 2) in log
    assert not any(op == "-U" and name == "Bob" for op, name, _ in log)

    final = {(r.name, r["count"]) for r in spark.read.parquet(target).collect()}
    assert final == {("Mary", 2), ("Bob", 1), ("Liz", 1)}


def test_hourly_tips_reference_golden(spark):
    """Reference golden test (HourlyTipsTest.java:46-103): hourly tip
    sum per driver, then the max across drivers per hour — exact
    expected tuples, streaming over pre-stamped events."""
    t0 = dt.datetime(2020, 1, 1, 12, 0)

    def fare(driver, minutes, tip):
        return (driver, t0 + dt.timedelta(minutes=minutes), tip)

    rows = [fare(1, 0, 1.0), fare(1, 15, 5.0), fare(1, 90, 10.0), fare(2, 90, 20.0)]
    stream = _mem_stream(
        spark, rows, "driver_id long, start_time timestamp, tip double"
    ).withWatermark("start_time", "1 second")

    hourly = (
        stream.groupBy(F.window("start_time", "1 hour").alias("w"), "driver_id")
        .agg(F.sum("tip").alias("sum_tips"))
        .select(
            F.col("w.end").alias("window_end"), "driver_id", "sum_tips"
        )
    )
    result = run_available_now(hourly, output_mode="complete")
    # max across drivers per window (reference windowAll + maxBy)
    from pyspark.sql import Window as W

    rk = W.partitionBy("window_end").orderBy(F.desc("sum_tips"), "driver_id")
    top = (
        result.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select("window_end", "driver_id", "sum_tips")
    )
    got = {(r.window_end, r.driver_id, r.sum_tips) for r in top.collect()}
    assert got == {
        (t0 + dt.timedelta(minutes=60), 1, 6.0),   # hour 1: driver 1, 1+5
        (t0 + dt.timedelta(minutes=120), 2, 20.0), # hour 2: driver 2 beats 10
    }


def test_progress_collector_captures_metrics(spark, sf_dir):
    """Metrics listener (reference Prometheus export MyClickEventCount.
    java:142-184): per-batch rows + rates captured via
    StreamingQueryListener."""
    from flink_demo_spark.streaming.metrics import attach_progress_collector
    from flink_demo_spark.sources.streams import events_stream

    collector = attach_progress_collector(spark)
    try:
        agg = (
            events_stream(spark, sf_dir, watermark=None)
            .groupBy("event_type")
            .count()
        )
        run_available_now(agg, output_mode="complete")
        import time as _t

        deadline = _t.time() + 15
        while _t.time() < deadline and not collector.events:
            _t.sleep(0.5)
        evs = collector.events
        assert evs, "listener captured no progress"
        assert any((e["num_input_rows"] or 0) > 0 for e in evs)
    finally:
        spark.streams.removeListener(collector)


_MIB = 1 << 20


@pytest.mark.parametrize(
    "session, input_bytes, python_stage, slots, parts, shm",
    [
        ("32", 200_000, False, 32, "8", True),  # small input: the floor
        ("32", 200_000, False, 4, "4", True),  # floor: one wave of 4 slots
        ("32", 200_000, True, 1, "1", True),  # floor: one slot
        ("4", 100 * _MIB, False, 32, "4", True),  # never above the session
        ("32", 100 * _MIB, False, 32, "13", True),  # JVM: 8 MiB per partition
        ("32", 100 * _MIB, False, 4, "13", True),  # the divisor beats the floor
        ("32", 100 * _MIB, True, 32, "32", True),  # Python: 256 KiB per partition
        ("auto", 100 * _MIB, False, 32, "auto", True),  # non-integer session
        ("32", None, False, 32, "32", False),  # unknown size
        ("32", 2 << 30, False, 32, "32", False),  # over the tmpfs gate
    ],
    ids=[
        "floor", "floor-slots-4", "floor-slots-1", "session-4", "jvm",
        "jvm-slots-4", "python", "non-integer", "unknown", "over-shm",
    ],
)
def test_replay_sizing_policy(
    monkeypatch, session, input_bytes, python_stage, slots, parts, shm
):
    """The runner's sizing policy as a table: partition count from the
    session value, the input size, the stage kind and the task slots
    (the floor is one wave: min(8, slots)); /dev/shm scratch only for
    a known size up to 1 GiB; an explicit scratch root always wins."""
    import os

    from flink_demo_spark.streaming.runner import (
        replay_partitions,
        replay_scratch_root,
    )

    assert replay_partitions(session, input_bytes, python_stage, slots) == parts
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH", raising=False)
    expect = "/dev/shm" if shm and os.path.isdir("/dev/shm") else None
    assert replay_scratch_root(input_bytes) == expect
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", "/srv/replay-scratch")
    assert replay_scratch_root(input_bytes) == "/srv/replay-scratch"


@pytest.fixture
def replay_spy(spark, monkeypatch):
    """Session at 32 partitions; records the partition count each
    streaming query starts with and every replay scratch dir made."""
    import tempfile

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    seen = {"parts": [], "scratch": []}
    real_start, real_mkdtemp = DataStreamWriter.start, tempfile.mkdtemp

    def start(self, *a, **kw):
        seen["parts"].append(spark.conf.get("spark.sql.shuffle.partitions"))
        return real_start(self, *a, **kw)

    def mkdtemp(*a, **kw):
        seen["scratch"].append(kw.get("dir"))
        return real_mkdtemp(*a, **kw)

    monkeypatch.setattr(DataStreamWriter, "start", start)
    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH", raising=False)
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        yield seen
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_runner_sizes_replay_from_its_plan(
    spark, sf_dir, tmp_path, monkeypatch, replay_spy
):
    """run_available_now applies the policy to the replay it is given:
    the stage kind is read off the plan (at a forced 100 MiB a JVM
    aggregation runs at 13 partitions, an applyInPandasWithState stage
    keeps the session's 32), a non-parquet file source is of unknown
    size (session count, no scratch dir), and the session value is
    restored after each replay."""
    from flink_demo_spark.streaming import runner
    from flink_demo_spark.streaming.lateness import (
        allowed_lateness_tumbling_count,
    )

    with monkeypatch.context() as m:
        m.setattr(runner, "replay_input_bytes", lambda sdf: 100 * _MIB)
        ev = events_stream(spark, sf_dir)
        run_available_now(tumbling_agg(ev), output_mode="complete")
        feed = events_stream(spark, sf_dir, watermark=None).select(
            F.col("user_id").alias("key"),
            F.unix_millis("ts").alias("ts_ms"),
            F.col("event_id").alias("seq"),
        )
        out = allowed_lateness_tumbling_count(
            feed, window_ms=86_400_000, delay_ms=3_600_000,
            lateness_ms=7_200_000, key_col="key", ts_col="ts_ms",
            seq_col="seq",
        )
        run_available_now(out, output_mode="append")
    assert replay_spy["parts"] == ["13", "32"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"

    d = str(tmp_path / "json_stream")
    spark.createDataFrame([(1, "a")], "k long, v string").write.json(d)
    replay_spy["scratch"].clear()
    js = spark.readStream.schema("k long, v string").json(d)
    assert runner.replay_input_bytes(js) is None
    rows = run_available_now(js.groupBy("v").count(), output_mode="complete")
    assert rows.collect() == [("a", 1)]
    assert replay_spy["parts"][-1] == "32"
    assert replay_spy["scratch"] == []


def test_two_source_replay_sized_by_both_dirs(spark, sf_dir, replay_spy):
    """A stream-stream join is sized by the sum of BOTH staged dirs,
    not by whichever source was built last, and replays to the same
    rows as its batch twin."""
    from flink_demo_spark.sources.streams import (
        _stage_stream_dir,
        documents_stream,
    )
    from flink_demo_spark.streaming.runner import (
        replay_input_bytes,
        replay_partitions,
        staged_parquet_bytes,
    )

    def joined(ev, docs):
        return ev.select("event_id", "user_id").join(
            docs.select(F.col("doc_id").alias("user_id"), "lang"), "user_id"
        )

    sdf = joined(events_stream(spark, sf_dir), documents_stream(spark, sf_dir))
    total = sum(
        staged_parquet_bytes(_stage_stream_dir(sf_dir, t))
        for t in ("events", "documents")
    )
    assert replay_input_bytes(sdf) == total
    got = run_available_now(sdf, output_mode="append").collect()
    slots = spark.sparkContext.defaultParallelism
    assert replay_spy["parts"] == [replay_partitions("32", total, False, slots)]
    want = joined(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "documents")
    ).collect()
    assert len(want) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_runner_restores_partitions_on_start_failure(spark, sf_dir, replay_spy):
    """A start-time AnalysisException (complete mode without an
    aggregation) must not leave the session clamped: the restore wraps
    writer.start()."""
    ev = events_stream(spark, sf_dir)
    with pytest.raises(Exception):
        run_available_now(ev.select("event_id"), output_mode="complete")
    assert replay_spy["parts"] == [str(min(8, spark.sparkContext.defaultParallelism))]
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_replay_result_joins_a_frame_derived_from_it(spark, sf_dir):
    """A returned frame joins with a frame derived from itself (the
    batch twins' ``df.join(df.groupBy(k).agg(...), k)`` shape): Spark
    can re-instance what the runner returns, so the join resolves and
    counts every window's rows against the window's total."""
    counts = run_available_now(
        events_stream(spark, sf_dir, watermark="10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("o")),
        output_mode="complete",
    )
    totals = counts.groupBy("w").agg(F.sum("o").alias("n"))
    joined = counts.join(totals, "w").collect()
    assert len(joined) == counts.count() > 0
    per_w = {}
    for r in joined:
        per_w.setdefault(r.w, [0, r.n])[0] += r.o
    assert all(o == n for o, n in per_w.values())


def test_tiny_replay_runs_in_one_wave(spark, sf_dir, replay_spy):
    """A replay far below the 8 MiB divisor starts with the one-wave
    floor, min(8, defaultParallelism), not a fixed 8: on a host with
    fewer than 8 task slots a second wave would pay the per-partition
    state commit twice."""
    run_available_now(tumbling_agg(events_stream(spark, sf_dir)))
    assert replay_spy["parts"] == [str(min(8, spark.sparkContext.defaultParallelism))]


def test_replays_leave_no_memory_sink_view(spark, sf_dir):
    """run_available_now drops its memory sink's temp view: after
    several replays no ``mem_`` view is left in the session, and every
    returned frame still collects and sorts."""
    before = {t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")}
    outs = [
        run_available_now(tumbling_agg(events_stream(spark, sf_dir)))
        for _ in range(3)
    ]
    left = {t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")}
    assert left - before == set()
    want = sorted(map(tuple, outs[0].collect()))
    assert len(want) > 0
    for out in outs:
        assert sorted(map(tuple, out.collect())) == want
        cols = out.columns
        assert [tuple(r) for r in out.orderBy(*cols).collect()] == want


def _synthetic_events(path: str, minutes: range) -> None:
    """An events-schema parquet file (µs TIMESTAMP_NTZ ts): one view by
    user 1 per minute offset from 2024-01-01."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(minutes)
    t0 = dt.datetime(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [t0 + dt.timedelta(minutes=m) for m in minutes],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array([0.0] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        path,
    )


@pytest.mark.parametrize("chunks", [1, 3])
def test_events_stream_sentinel_at_requested_pad(spark, tmp_path, chunks):
    """Two padded replays of one source, pad 3 h then 10 h: each
    replays all six events plus ONE sentinel at its own pad. The
    staging is keyed by the pad, so one query's cached sentinel never
    stands in for another's (a short pad would silently void the
    pad > gap + watermark rule of eof_pad_hours)."""
    import os
    import shutil

    from flink_demo_spark.sources import streams as S

    d = str(tmp_path / "sf")
    os.makedirs(d)
    _synthetic_events(os.path.join(d, "events.parquet"), range(6))
    try:
        for pad in (3, 10):
            ev = S.events_stream(
                spark, d, watermark=None, chunks=chunks, pad_hours=pad
            )
            rows = run_available_now(
                ev.groupBy((F.col("user_id") < 0).alias("eof")).agg(
                    F.count(F.lit(1)).alias("n"), F.max("ts").alias("ts")
                ),
                output_mode="complete",
            ).collect()
            got = {r.eof: (r.n, r.ts) for r in rows}
            assert got[False][0] == 6 and got[True][0] == 1
            assert got[True][1] - got[False][1] == dt.timedelta(hours=pad)
    finally:
        shutil.rmtree(S._stage_root(d), ignore_errors=True)


@pytest.mark.parametrize("chunks", [1, 3])
def test_events_staging_versioned(tmp_path, chunks):
    """A padded staging is built once per (chunks, pad, source mtime):
    chunks=1 copies the source, chunks>1 writes sorted slices, and
    mtimes derive from the source mtime (racing builders agree) with
    the sentinel newest. Regenerating the source builds a FRESH dir
    whose sentinel pads past the NEW last event, and the old dir's
    files are left untouched (a concurrent replay may hold them)."""
    import os
    import shutil
    import time

    import pyarrow.parquet as pq

    from flink_demo_spark.sources import streams as S

    d = str(tmp_path / "sf")
    os.makedirs(d)
    real = os.path.join(d, "events.parquet")
    _synthetic_events(real, range(6))

    def eof_ts(v):
        t = pq.read_table(os.path.join(v, "zz_eof.parquet"))
        return t.column("ts")[0].as_py()

    def stamps(v):
        return {
            f: os.stat(os.path.join(v, f)).st_mtime_ns for f in os.listdir(v)
        }

    try:
        v1 = S._stage_events(d, chunks, 3)
        if chunks == 1:
            assert not os.path.islink(os.path.join(v1, "events.parquet"))
            want = {"events.parquet": 0}
        else:
            want = {f"chunk{i:02d}.parquet": 10 * (i + 1) for i in range(chunks)}
        want["zz_eof.parquet"] = 10 * (chunks + 2)  # sentinel newest
        assert sorted(os.listdir(v1)) == sorted([*want, "_done"])
        src_mt = os.stat(real).st_mtime_ns / 1e9
        got = {f: os.path.getmtime(os.path.join(v1, f)) - src_mt for f in want}
        assert got == pytest.approx(want, abs=1e-3)
        before = stamps(v1)
        assert S._stage_events(d, chunks, 3) == v1
        # a dir without _done is rebuilt in place and left with no tmp file
        os.remove(os.path.join(v1, "_done"))
        assert S._stage_events(d, chunks, 3) == v1
        assert sorted(os.listdir(v1)) == sorted([*want, "_done"])
        before = stamps(v1)

        time.sleep(0.02)
        _synthetic_events(real + ".new", range(600, 606))
        os.replace(real + ".new", real)
        v2 = S._stage_events(d, chunks, 3)
        assert v2 != v1, "a regenerated source must build a new dir"
        assert eof_ts(v2) - eof_ts(v1) == dt.timedelta(minutes=600)
        assert stamps(v1) == before
    finally:
        shutil.rmtree(S._stage_root(d), ignore_errors=True)


@pytest.mark.parametrize("in_place", [False, True], ids=["replaced", "in-place"])
def test_events_staging_keeps_bytes_after_regeneration(tmp_path, in_place):
    """A padded chunks=1 dir holds the bytes of the source version it
    is keyed by: after events.parquet is regenerated, whether replaced
    by a new file or rewritten in place (``pq.write_table`` keeps the
    inode), the old dir's files are byte-for-byte what they were."""
    import hashlib
    import os
    import shutil
    import time

    from flink_demo_spark.sources import streams as S

    d = str(tmp_path / "sf")
    os.makedirs(d)
    real = os.path.join(d, "events.parquet")
    _synthetic_events(real, range(6))

    def digests(v):
        return {
            f: hashlib.sha1(open(os.path.join(v, f), "rb").read()).hexdigest()
            for f in os.listdir(v)
        }

    try:
        v1 = S._stage_events(d, 1, 3)
        before = digests(v1)
        time.sleep(0.02)
        if in_place:
            _synthetic_events(real, range(600, 606))
        else:
            _synthetic_events(real + ".new", range(600, 606))
            os.replace(real + ".new", real)
        assert S._stage_events(d, 1, 3) != v1
        assert digests(v1) == before
    finally:
        shutil.rmtree(S._stage_root(d), ignore_errors=True)


def test_evicting_session_multi_trigger_matches_single_batch(spark, sf_dir):
    """The evicting session operator over the events replayed as three
    time-ordered chunks (one per trigger, then the sentinel's) yields
    the per-session multiset of the single-batch replay: open state
    carries across trigger boundaries and no session closes before its
    gap."""
    from flink_demo_spark.sources.streams import eof_pad_hours
    from flink_demo_spark.streaming.stateful import session_durations_evicting

    gap_ms = 3_600_000

    def sessions(chunks):
        ev = events_stream(
            spark, sf_dir, chunks=chunks, pad_hours=eof_pad_hours(gap_ms)
        )
        out = run_available_now(
            session_durations_evicting(ev, gap_ms=gap_ms), output_mode="append"
        )
        return sorted(
            (r["user_id"], r["dur_s"])
            for r in out.where(F.col("user_id") >= 0).collect()
        )

    single = sessions(1)
    assert single and sessions(3) == single


def _error_pairs_watermarked(stream):
    """The login-fail pair (two consecutive errors within 30 minutes)
    through the watermark-sorted general operator."""
    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import (
        streaming_match_pattern_watermarked,
    )

    pat = (
        cep.Pattern.begin("e1", lambda r: r["event_type"] == "error")
        .next("e2", lambda r: r["event_type"] == "error")
        .skip_to_next()
        .within_time("30min")
    )

    def ids(rows_df, b):
        return {
            "first_error_id": int(rows_df.iloc[b["e1"][0]]["event_id"]),
            "second_error_id": int(rows_df.iloc[b["e2"][0]]["event_id"]),
        }

    return streaming_match_pattern_watermarked(
        stream, pat, ["user_id"], "ts", ids,
        "user_id long, first_error_id long, second_error_id long",
        order_cols=["ts", "event_id"],
    )


def test_buffered_cep_handles_out_of_order_batches(spark):
    """Flink CEP's watermark-sorted buffer: an earlier event arriving
    in a LATER micro-batch is re-ordered before the NFA consumes it.
    The unbuffered detector would see (e2, e1) and miss the pair."""

    t0 = dt.datetime(2024, 1, 1)
    batch1 = [(1, 2, "error", t0 + dt.timedelta(seconds=10))]  # arrives first
    batch2 = [(1, 1, "error", t0)]                             # but happened first
    batch3 = [(99, 9, "ok", t0 + dt.timedelta(hours=3))]       # watermark advancer
    stream = _mem_stream_batches(
        spark,
        [batch1, batch2, batch3],
        "user_id long, event_id long, event_type string, ts timestamp",
    ).withWatermark("ts", "1 hour")
    out = run_available_now(
        _error_pairs_watermarked(stream), output_mode="append"
    )
    got = {(r.user_id, r.first_error_id, r.second_error_id) for r in out.collect()}
    assert got == {(1, 1, 2)}, (
        "buffered NFA must emit (e1, e2) despite out-of-order delivery"
    )


def test_buffered_cep_drops_late_events(spark):
    """An event at or below the watermark on arrival is dropped (Flink
    CEP late-event handling): no pair forms with a too-late event."""

    t0 = dt.datetime(2024, 1, 1)
    batch1 = [(1, 2, "error", t0 + dt.timedelta(hours=2))]  # pushes wm to t0+1h
    batch2 = [(1, 1, "error", t0)]                          # t0 < wm: late, dropped
    batch3 = [(99, 9, "ok", t0 + dt.timedelta(hours=6))]    # flush
    stream = _mem_stream_batches(
        spark,
        [batch1, batch2, batch3],
        "user_id long, event_id long, event_type string, ts timestamp",
    ).withWatermark("ts", "1 hour")
    out = run_available_now(
        _error_pairs_watermarked(stream), output_mode="append"
    )
    assert out.count() == 0


def test_tag_late_events_side_output(spark):
    """allowedLateness side output (Flink sideOutputLateData): events
    at/below the watermark on arrival are tagged late instead of
    silently dropped; on-time events pass untagged."""
    from flink_demo_spark.streaming.stateful import tag_late_events

    t0 = dt.datetime(2024, 1, 1)
    batch1 = [(1, 10, t0 + dt.timedelta(hours=2))]   # pushes wm to t0+1h
    batch2 = [
        (1, 11, t0),                                  # below wm: late
        (1, 12, t0 + dt.timedelta(hours=2, minutes=1)),  # above wm: on time
    ]
    stream = _mem_stream_batches(
        spark, [batch1, batch2], "key long, event_id long, ts timestamp"
    ).withWatermark("ts", "1 hour")
    out = run_available_now(tag_late_events(stream, "key"), output_mode="append")
    got = {r.event_id: r.is_late for r in out.collect()}
    assert got == {10: 0, 11: 1, 12: 0}


def test_rocksdb_state_store_provider(spark, sf_dir):
    """The RocksDB state store (Spark's scale state backend — the
    analog of the reference's RocksDBStateBackend,
    StateBackendDemo.scala:20) produces the same windowed aggregate
    as the default HDFS-backed store. At 100 TB this is the backend
    that keeps large keyed state off-heap and incrementally
    checkpointed."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream_result = run_available_now(
            tumbling_agg(events_stream(spark, sf_dir)), output_mode="complete"
        )
        batch = tumbling_agg(load_table(spark, sf_dir, "events"))
        assert sorted(map(tuple, stream_result.collect())) == sorted(
            map(tuple, batch.collect())
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_socket_stream_wordcount(spark):
    """socketTextStream end-to-end against a real localhost TCP server
    (reference Source.scala socket wordcount): lines stream in, a
    windowless flatMap+count aggregates them — the one source wrapper
    that needs no container service to exercise for real."""
    import socket
    import threading
    import time

    from flink_demo_spark.sources.streams import socket_stream

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def serve():
        conn, _ = srv.accept()
        for i in range(30):
            conn.sendall(f"spark flink spark row-{i}\n".encode())
        time.sleep(60)  # keep the pipe open until the reader stops
        conn.close()

    threading.Thread(target=serve, daemon=True).start()

    words = (
        socket_stream(spark, "127.0.0.1", port)
        .select(F.explode(F.split("value", " ")).alias("word"))
        .groupBy("word")
        .count()
    )
    q = (
        words.writeStream.format("memory")
        .queryName("sock_wc")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 90
        done = False
        while time.time() < deadline and not done:
            rows = {r.word: r["count"] for r in spark.table("sock_wc").collect()}
            done = rows.get("spark", 0) == 60 and rows.get("flink", 0) == 30
            if not done:
                time.sleep(0.5)
        assert done, f"incomplete socket wordcount: {rows}"
    finally:
        q.stop()
        srv.close()


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_allowed_lateness_refire_reference_golden(spark, provider):
    """Replicates the WatermarkDemo.scala:207-260 allowedLateness
    golden trace (10s tumbling windows, 10s bounded delay, 2s
    lateness; all events key '0001' -> 1; seconds shown relative to
    2020-03-24 10:12:00):

    - 28, 25, 27 buffer in [20,30); 30 buffers in [30,40)
    - 40 -> watermark 30 -> [20,30) FIRES with 3 elements
    - 41 -> wm 31
    - late 27: wm 31 < 30+2 -> accepted -> RE-FIRES [20,30) with 4
    - 42 -> wm 32 -> [20,30) closes (30+2 <= 32)
    - late 28 -> DROPPED (the sideOutputLateData set)
    - end-of-stream (flush sentinel, like the reference's bounded
      mock): [30,40) fires with 1, [40,50) fires with 3
    """
    from flink_demo_spark.streaming.lateness import (
        allowed_lateness_tumbling_count,
    )

    base = 1585015920_000  # 2020-03-24 10:12:00 -> window starts align
    secs = [28, 25, 27, 30, 40, 41, 27, 42, 28]
    batch1 = [
        (1, base + s * 1000, i) for i, s in enumerate(secs)
    ]
    batch2 = [(1, 10**15, 99)]  # flush sentinel
    stream = _mem_stream_batches(
        spark, [batch1, batch2], "key long, ts_ms long, seq long"
    )
    with _state_store_provider(spark, provider):
        out = run_available_now(
            allowed_lateness_tumbling_count(
                stream,
                window_ms=10_000,
                delay_ms=10_000,
                lateness_ms=2_000,
                flush_ts_ms=10**15,
            ),
            output_mode="append",
        )
    got = sorted(
        (r.window_start_ms - base, r.fire_no, r.n_events)
        for r in out.collect()
    )
    assert got == [
        (20_000, 1, 3),  # initial fire: 28 | 25 | 27
        (20_000, 2, 4),  # re-fire after late 27
        (30_000, 1, 1),  # flush: 30
        (40_000, 1, 3),  # flush: 40 | 41 | 42
    ], got


def test_punctuated_watermark_eager_fire_and_intra_batch_late_drop(spark):
    """Punctuated (per-event) watermark semantics the native batch-
    boundary watermark cannot express (MyPunctuatedWatermark.scala:
    11-30, WatermarkDemo.scala:183-199; 10s windows, 10s delay):

    - seq 0-2: events at 1s, 4s, 12s fill windows [0,10) and [10,20)
    - seq 3: event at 25s pushes the per-event watermark to 15s ->
      window [0,10) fires IMMEDIATELY with 2 events
    - seq 4: event at 8s arrives after that watermark -> dropped as
      late under punctuated semantics, even though it is in the same
      micro-batch (Spark's native watermark would have accepted it)
    - seq 5: event at 14s is BEHIND the watermark (15s) but its window
      [10,20) is still open (end 20s > wm) -> counted, not dropped —
      Flink's window operator drops only when window end <= watermark
      (ADVICE r3 medium)
    - seq 6 (next batch): event at 45s -> watermark 35s -> [10,20)
      and [20,30) fire; the dropped 8s event must NOT appear anywhere
    """
    from flink_demo_spark.streaming.punctuated import punctuated_tumbling_count

    batch1 = [
        (1, 1_000, 0), (1, 4_000, 1), (1, 12_000, 2),
        (1, 25_000, 3), (1, 8_000, 4), (1, 14_000, 5),
    ]
    batch2 = [(1, 45_000, 6)]
    stream = _mem_stream_batches(
        spark, [batch1, batch2], "key long, ts_ms long, seq long"
    )
    out = run_available_now(
        punctuated_tumbling_count(
            stream, window_ms=10_000, delay_ms=10_000
        ),
        output_mode="append",
    )
    got = sorted(
        (r.window_start_ms, r.n_events) for r in out.collect()
    )
    assert got == [(0, 2), (10_000, 2), (20_000, 1)], got


def test_partition_commit_sink_success_file_and_metastore(spark):
    """Hive-streaming-sink partition commit (CreateTest.scala:796-812):
    partitions gain a _SUCCESS marker (success-file policy) and a
    catalog partition (metastore policy) only once the watermark
    passes their end; the still-open partition stays uncommitted."""
    import os
    import shutil
    import tempfile

    from flink_demo_spark.sinks import partition_commit_sink

    day = 86_400_000
    d = tempfile.mkdtemp() + "/fs_stream"
    spark.sql("DROP TABLE IF EXISTS fs_stream_commit")
    spark.sql(
        f"""CREATE TABLE fs_stream_commit (user_id BIGINT, ts_ms BIGINT)
            USING ORC PARTITIONED BY (day_ms BIGINT)
            LOCATION '{d}'"""
    )
    try:
        # batch 1: day-0 rows only -> nothing commits (watermark = max)
        batch1 = [(1, 1_000, 0 * day), (2, day - 1, 0 * day)]
        # batch 2: day-1 and day-2 rows -> watermark reaches day 2
        # start, so day 0 and day 1 commit; day 2 stays open
        batch2 = [
            (3, day + 5_000, 1 * day),
            (4, 2 * day + 7_000, 2 * day),
        ]
        stream = _mem_stream_batches(
            spark,
            [batch1, batch2],
            "user_id long, ts_ms long, day_ms long",
        )
        sink = partition_commit_sink(
            d,
            partition_col="day_ms",
            ts_col="ts_ms",
            partition_duration_ms=day,
            commit_delay_ms=0,
            table="fs_stream_commit",
        )
        q = stream.writeStream.foreachBatch(sink).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(120)

        committed = {
            p
            for p in os.listdir(d)
            if p.startswith("day_ms=")
            and os.path.exists(os.path.join(d, p, "_SUCCESS"))
        }
        assert committed == {"day_ms=0", f"day_ms={day}"}, committed
        assert os.path.isdir(os.path.join(d, f"day_ms={2 * day}"))
        parts = {
            r.partition
            for r in spark.sql("SHOW PARTITIONS fs_stream_commit").collect()
        }
        assert parts == {"day_ms=0", f"day_ms={day}"}, parts
        # committed partitions read back complete through the catalog
        assert (
            spark.table("fs_stream_commit")
            .where(F.col("day_ms") < 2 * day)
            .count()
            == 3
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS fs_stream_commit")
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def test_streaming_match_pattern_equals_batch_on_random_splits(spark):
    """General streaming CEP (CEP.pattern on a stream): the streaming
    twin must emit exactly the batch match_pattern result however the
    rows split into micro-batches (login-fail-style 'fail NEXT fail
    within 2s' plus a greedy one_or_more tail pattern)."""
    import random

    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import streaming_match_pattern

    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in range(1, 6):
        t = t0
        for _ in range(rng.randrange(8, 16)):
            t += dt.timedelta(seconds=rng.randrange(1, 4))
            rows.append(
                (user, t, rng.choice(["fail", "fail", "ok"]), eid)
            )
            eid += 1
    schema = "user_id long, ts timestamp, event_type string, event_id long"

    def build_pattern():
        return (
            cep.Pattern.begin("a", lambda r: r["event_type"] == "fail")
            .next("b", lambda r: r["event_type"] == "fail")
            .within_time("2s")
        )

    def measures(rows_df, bindings):
        return {
            "first_id": int(rows_df.iloc[bindings["a"][0]]["event_id"]),
            "second_id": int(rows_df.iloc[bindings["b"][0]]["event_id"]),
        }

    out_schema = "user_id long, first_id long, second_id long"
    batch_df = spark.createDataFrame(rows, schema)
    expected = {
        (r.user_id, r.first_id, r.second_id)
        for r in cep.match_pattern(
            batch_df, build_pattern(), ["user_id"], "ts", measures,
            out_schema, order_cols=["ts", "event_id"],
        ).collect()
    }
    # rows arrive per-user-in-order; random batch split points
    rows_sorted = sorted(rows, key=lambda r: (r[1], r[3]))
    cuts = sorted(rng.sample(range(1, len(rows_sorted)), 3))
    batches, prev = [], 0
    for c in [*cuts, len(rows_sorted)]:
        batches.append(rows_sorted[prev:c])
        prev = c
    stream = _mem_stream_batches(spark, batches, schema)
    got = {
        (r.user_id, r.first_id, r.second_id)
        for r in run_available_now(
            streaming_match_pattern(
                stream, build_pattern(), ["user_id"], "ts", measures,
                out_schema, order_cols=["ts", "event_id"],
            ),
            output_mode="append",
        ).collect()
    }
    assert got == expected
    assert expected, "fixture must produce at least one match"


def test_streaming_match_pattern_fixed_tail_emits_at_buffer_end(spark):
    """A fixed-quantifier pattern completing on the stream's last row
    must emit without waiting (no possible extension), while a greedy
    one_or_more tail at the buffer end stays pending until its WITHIN
    horizon expires."""
    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import streaming_match_pattern

    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_type string, event_id long"

    def measures(rows_df, bindings):
        return {"n": int(len(bindings["a"]))}

    # fixed A NEXT A: completes on the final row -> emitted
    fixed = (
        cep.Pattern.begin("a", lambda r: r["event_type"] == "x")
        .next("b", lambda r: r["event_type"] == "x")
        .within_time("10s")
    )

    def m2(rows_df, bindings):
        return {"n": 2}

    rows = [(1, t0, "x", 0), (1, t0 + dt.timedelta(seconds=1), "x", 1)]
    out = run_available_now(
        streaming_match_pattern(
            _mem_stream(spark, rows, schema), fixed, ["user_id"], "ts",
            m2, "user_id long, n long",
        ),
        output_mode="append",
    ).collect()
    assert len(out) == 1

    # greedy a+ tail: last row could extend -> pending at end of stream
    greedy = cep.Pattern.begin(
        "a", lambda r: r["event_type"] == "x"
    ).one_or_more().within_time("10s")
    out = run_available_now(
        streaming_match_pattern(
            _mem_stream(spark, rows, schema), greedy, ["user_id"], "ts",
            measures, "user_id long, n long",
        ),
        output_mode="append",
    ).collect()
    assert len(out) == 0  # undecided tail, exactly like Flink's NFA


def test_streaming_match_pattern_watermarked_out_of_order(spark):
    """Watermark-driven general CEP: rows arrive OUT of order across
    micro-batches; matches emit once their WITHIN horizon is behind
    the watermark and equal the batch result. A too-late row (behind
    the watermark on arrival) is dropped like Flink CEP drops late
    events."""
    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import (
        streaming_match_pattern_watermarked,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_type string, event_id long"

    def build_pattern():
        return (
            cep.Pattern.begin("a", lambda r: r["event_type"] == "fail")
            .next("b", lambda r: r["event_type"] == "fail")
            .within_time("2s")
        )

    def measures(rows_df, bindings):
        return {
            "first_id": int(rows_df.iloc[bindings["a"][0]]["event_id"]),
            "second_id": int(rows_df.iloc[bindings["b"][0]]["event_id"]),
        }

    out_schema = "user_id long, first_id long, second_id long"
    sec = dt.timedelta(seconds=1)
    # user 1 in event-time order: fail0 fail1 ok2 fail3 fail4
    # -> pairs (0,1) and (3,4)
    in_order = [
        (1, t0 + 0 * sec, "fail", 0),
        (1, t0 + 1 * sec, "fail", 1),
        (1, t0 + 5 * sec, "ok", 2),
        (1, t0 + 6 * sec, "fail", 3),
        (1, t0 + 7 * sec, "fail", 4),
    ]
    # arrival order scrambles within the 10s watermark delay; two
    # far-future flush batches advance the watermark past every horizon
    batches = [
        [in_order[1], in_order[2]],
        [in_order[0], in_order[4]],
        [in_order[3], (99, t0 + dt.timedelta(hours=10), "ok", 90)],
        [(99, t0 + dt.timedelta(hours=10, seconds=5), "ok", 91)],
    ]
    stream = _mem_stream_batches(spark, batches, schema).withWatermark(
        "ts", "10 seconds"
    )
    got = {
        (r.user_id, r.first_id, r.second_id)
        for r in run_available_now(
            streaming_match_pattern_watermarked(
                stream, build_pattern(), ["user_id"], "ts", measures,
                out_schema, order_cols=["ts", "event_id"],
            ),
            output_mode="append",
        ).collect()
    }
    assert got == {(1, 0, 1), (1, 3, 4)}, got


def test_allowed_lateness_zero_equals_punctuated(spark):
    """allowedLateness(0) must degenerate to the punctuated-watermark
    operator exactly: identical drop rule (window end <= wm), identical
    fire set, every fire_no == 1."""
    from flink_demo_spark.streaming.lateness import (
        allowed_lateness_tumbling_count,
    )
    from flink_demo_spark.streaming.punctuated import (
        punctuated_tumbling_count,
    )

    import random

    rng = random.Random(11)
    batch1, batch2 = [], []
    for key in (1, 2, 3):
        t = 0
        for i in range(30):
            t += rng.randrange(0, 8000)
            jitter = rng.randrange(0, 3) * 9000
            (batch1 if i < 20 else batch2).append(
                (key, max(0, t - jitter), key * 100 + i)
            )
    schema = "key long, ts_ms long, seq long"
    stream1 = _mem_stream_batches(spark, [batch1, batch2], schema)
    stream2 = _mem_stream_batches(spark, [batch1, batch2], schema)
    punct = sorted(
        (r.key, r.window_start_ms, r.n_events)
        for r in run_available_now(
            punctuated_tumbling_count(
                stream1, window_ms=10_000, delay_ms=10_000
            ),
            output_mode="append",
        ).collect()
    )
    late = run_available_now(
        allowed_lateness_tumbling_count(
            stream2, window_ms=10_000, delay_ms=10_000, lateness_ms=0
        ),
        output_mode="append",
    ).collect()
    assert all(r.fire_no == 1 for r in late)
    got = sorted((r.key, r.window_start_ms, r.n_events) for r in late)
    assert got == punct
    assert punct, "fixture must fire at least one window"


def test_streaming_match_pattern_skip_to_first_and_last_equal_batch(spark):
    """The CEPDemo.scala skipToFirst:914 / skipToLast:949 goldens
    replayed through the general streaming twin on random micro-batch
    splits must equal the batch match_pattern result exactly (the
    round-4 NotImplementedError gap). A trailing non-matching row
    expires every anchor's WITHIN horizon so the emit-all-at-anchor
    skip_to_first decision fires before the stream ends."""
    import random

    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import streaming_match_pattern

    t0 = dt.datetime(1970, 1, 1)
    seq = [
        ("sensor_1", 92, 20), ("sensor_1", 93, 21), ("sensor_1", 94, 22),
        ("sensor_2", 92, 22), ("sensor_1", 96, 22), ("sensor_2", 99, 24),
        ("sensor_2", 200, 0),  # horizon-expiring sentinel, matches nothing
    ]
    rows = [
        (1, sid, t0 + dt.timedelta(seconds=s), v, i)
        for i, (sid, s, v) in enumerate(seq)
    ]
    schema = "k long, id string, ts timestamp, vc long, event_id long"

    def pat(strategy):
        p = cep.Pattern.begin("first", lambda r: r["id"] == "sensor_1")
        p = p.times_or_more(2).relaxed().reluctant().within_time("30s")
        return getattr(p, strategy)("first")

    def measures(rows_df, b):
        return {
            "members": ",".join(
                str(int(rows_df.iloc[i]["ts"].timestamp())) for i in b["first"]
            )
        }

    out_schema = "k long, members string"
    rng = random.Random(11)
    rows_sorted = sorted(rows, key=lambda r: (r[2], r[4]))
    expected_goldens = {
        "skip_to_first": {"92,93", "92,93,94", "92,93,94,96"},
        "skip_to_last": {"92,93", "93,94", "94,96"},
    }
    for strategy, golden in expected_goldens.items():
        batch_out = {
            r.members
            for r in cep.match_pattern(
                spark.createDataFrame(rows, schema), pat(strategy),
                ["k"], "ts", measures, out_schema,
                order_cols=["ts", "event_id"],
            ).collect()
        }
        assert batch_out == golden  # CEPDemo golden, with-within variant
        cuts = sorted(rng.sample(range(1, len(rows_sorted)), 3))
        batches, prev = [], 0
        for c in [*cuts, len(rows_sorted)]:
            batches.append(rows_sorted[prev:c])
            prev = c
        got = {
            r.members
            for r in run_available_now(
                streaming_match_pattern(
                    _mem_stream_batches(spark, batches, schema),
                    pat(strategy), ["k"], "ts", measures, out_schema,
                    order_cols=["ts", "event_id"],
                ),
                output_mode="append",
            ).collect()
        }
        assert got == golden, (strategy, got)


def test_streaming_match_pattern_flush_ts_end_of_stream(spark):
    """flush_ts drains fully-decided matches when the stream simply
    ends with NO horizon-expiring trailing row: the marker row sits
    INSIDE every anchor's WITHIN horizon, so without the flush hook
    the skip_to_first solutions (and the still-extendable tail match)
    would be silently withheld at end of stream."""
    import random

    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import streaming_match_pattern

    t0 = dt.datetime(1970, 1, 1)
    seq = [
        ("sensor_1", 92, 20), ("sensor_1", 93, 21), ("sensor_1", 94, 22),
        ("sensor_2", 92, 22), ("sensor_1", 96, 22), ("sensor_2", 99, 24),
    ]
    rows = [
        (1, sid, t0 + dt.timedelta(seconds=s), v, i)
        for i, (sid, s, v) in enumerate(seq)
    ]
    # marker at s=100: within the 30s horizon of every anchor (>= 92)
    flush_at = t0 + dt.timedelta(seconds=100)
    marker = (1, "flush", flush_at, 0, len(seq))
    schema = "k long, id string, ts timestamp, vc long, event_id long"

    def pat(strategy):
        p = cep.Pattern.begin("first", lambda r: r["id"] == "sensor_1")
        p = p.times_or_more(2).relaxed().reluctant().within_time("30s")
        return getattr(p, strategy)("first")

    def measures(rows_df, b):
        return {
            "members": ",".join(
                str(int(rows_df.iloc[i]["ts"].timestamp())) for i in b["first"]
            )
        }

    out_schema = "k long, members string"
    rng = random.Random(7)
    rows_sorted = sorted(rows, key=lambda r: (r[2], r[4]))
    for strategy, golden in {
        "skip_to_first": {"92,93", "92,93,94", "92,93,94,96"},
        "skip_to_last": {"92,93", "93,94", "94,96"},
    }.items():
        batch_out = {
            r.members
            for r in cep.match_pattern(
                spark.createDataFrame(rows, schema), pat(strategy),
                ["k"], "ts", measures, out_schema,
                order_cols=["ts", "event_id"],
            ).collect()
        }
        assert batch_out == golden
        cuts = sorted(rng.sample(range(1, len(rows_sorted)), 2))
        batches, prev = [], 0
        for c in [*cuts, len(rows_sorted)]:
            batches.append(rows_sorted[prev:c])
            prev = c
        batches.append([marker])  # final micro-batch: flush marker only
        got = {
            r.members
            for r in run_available_now(
                streaming_match_pattern(
                    _mem_stream_batches(spark, batches, schema),
                    pat(strategy), ["k"], "ts", measures, out_schema,
                    order_cols=["ts", "event_id"], flush_ts=flush_at,
                ),
                output_mode="append",
            ).collect()
        }
        assert got == golden, (strategy, got)


def test_streaming_match_pattern_all_no_skip_equals_batch(spark):
    """Flink's NO_SKIP default (CEPDemo.scala followedByAny:674-704 —
    every anchor, every branch) through BOTH streaming twins: the
    in-order twin on random micro-batch splits (flush marker drains
    the tail) and the watermarked twin on OUT-OF-ORDER splits, each
    equal to batch match_pattern under no_skip()."""
    import random

    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import (
        streaming_match_pattern,
        streaming_match_pattern_watermarked,
    )

    t0 = dt.datetime(1970, 1, 2)
    seq = [
        ("sensor_1", 92, 20), ("sensor_2", 93, 21), ("sensor_1", 94, 22),
        ("sensor_2", 95, 23), ("sensor_1", 96, 24), ("sensor_2", 99, 25),
        ("sensor_1", 118, 26), ("sensor_2", 121, 27),
    ]
    rows = [
        (1, sid, t0 + dt.timedelta(seconds=s), v, i)
        for i, (sid, s, v) in enumerate(seq)
    ]
    schema = "k long, id string, ts timestamp, vc long, event_id long"

    pat = (
        cep.Pattern.begin("s", lambda r: r["id"] == "sensor_1")
        .followed_by_any("p", lambda r: r["id"] == "sensor_2")
        .within_time("30s")
        .no_skip()
    )

    def measures(rows_df, b):
        return {
            "s_id": int(rows_df.iloc[b["s"][0]]["event_id"]),
            "p_id": int(rows_df.iloc[b["p"][0]]["event_id"]),
        }

    out_schema = "k long, s_id long, p_id long"
    golden = {
        (r.s_id, r.p_id)
        for r in cep.match_pattern(
            spark.createDataFrame(rows, schema), pat, ["k"], "ts",
            measures, out_schema, order_cols=["ts", "event_id"],
        ).collect()
    }
    # sanity: overlapping anchors with multiple branches each
    assert golden == {(0, 1), (0, 3), (0, 5), (0, 7), (2, 3), (2, 5),
                      (2, 7), (4, 5), (4, 7), (6, 7)}, golden

    rng = random.Random(13)
    rows_sorted = sorted(rows, key=lambda r: (r[2], r[4]))

    # in-order twin: random splits + flush marker (inside any horizon)
    flush_at = t0 + dt.timedelta(seconds=125)
    marker = (1, "flush", flush_at, 0, len(seq))
    cuts = sorted(rng.sample(range(1, len(rows_sorted)), 3))
    batches, prev = [], 0
    for c in [*cuts, len(rows_sorted)]:
        batches.append(rows_sorted[prev:c])
        prev = c
    batches.append([marker])
    got = {
        (r.s_id, r.p_id)
        for r in run_available_now(
            streaming_match_pattern(
                _mem_stream_batches(spark, batches, schema),
                pat, ["k"], "ts", measures, out_schema,
                order_cols=["ts", "event_id"], flush_ts=flush_at,
            ),
            output_mode="append",
        ).collect()
    }
    assert got == golden, got

    # watermarked twin: OUT-OF-ORDER batches; a trailing far-future row
    # pushes the watermark past every horizon (bounded-job final wm)
    shuffled = rows[:]
    rng.shuffle(shuffled)
    mid = len(shuffled) // 2
    wm_batches = [
        shuffled[:mid],
        shuffled[mid:],
        [(1, "eof", t0 + dt.timedelta(seconds=500), 0, 99)],
    ]
    # 60s delay: mid-stream wm stays below every shuffled row (92..121
    # vs wm <= 121-60), so nothing drops late; the 500s tail still
    # closes every horizon (wm = 440 > 121+30)
    stream = _mem_stream_batches(spark, wm_batches, schema).withWatermark(
        "ts", "60 seconds"
    )
    got_wm = {
        (r.s_id, r.p_id)
        for r in run_available_now(
            streaming_match_pattern_watermarked(
                stream, pat, ["k"], "ts", measures, out_schema,
                order_cols=["ts", "event_id"],
            ),
            output_mode="append",
        ).collect()
    }
    assert got_wm == golden, got_wm


def test_cep_timeout_contract_is_one_loud_error(spark, tmp_path):
    """The timeout side-output runs only under skip-past-last and
    skip_to_next: every other strategy, NO_SKIP included, raises the
    same ValueError from the batch and the streaming operator instead
    of running a different strategy."""
    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import streaming_match_pattern

    schema = "k long, event_type string, ts timestamp, event_id long"
    df = spark.createDataFrame([], schema)
    stream = spark.readStream.schema(df.schema).parquet(str(tmp_path))
    out_schema = "k long, a long, is_timeout boolean"

    def pattern():
        return (
            cep.Pattern.begin("x", lambda r: r["event_type"] == "a")
            .followed_by("y", lambda r: r["event_type"] == "b")
            .within_time("5s")
        )

    def first(rows_df, b):
        return {"a": int(rows_df.iloc[b["x"][0]]["event_id"])}

    for strategy in (
        lambda p: p.no_skip(),
        lambda p: p.skip_to_first("x"),
        lambda p: p.skip_to_last("x"),
    ):
        messages = []
        for run in (
            lambda p: cep.match_pattern(
                df, p, ["k"], "ts", first, out_schema, timeout_measures=first
            ),
            lambda p: streaming_match_pattern(
                stream, p, ["k"], "ts", first, out_schema,
                timeout_measures=first,
            ),
        ):
            with pytest.raises(ValueError, match="timeout side-output") as e:
                run(strategy(pattern()))
            messages.append(str(e.value))
        assert messages[0] == messages[1]
    # the two timeout strategies plan on both operators
    for p in (pattern(), pattern().skip_to_next()):
        cep.match_pattern(
            df, p, ["k"], "ts", first, out_schema, timeout_measures=first
        )
        streaming_match_pattern(
            stream, p, ["k"], "ts", first, out_schema, timeout_measures=first
        )


def test_streaming_match_pattern_timeout_side_output_equals_batch(spark):
    """The timeout side-output (Flink PatternFlatTimeoutFunction,
    OrderPay.scala) through the streaming twin on random micro-batch
    splits equals batch match_pattern with timeout_measures: completed
    signup->purchase pairs emit is_timeout=false, expired partials
    emit the anchoring signup with is_timeout=true."""
    import random

    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import streaming_match_pattern

    t0 = dt.datetime(1970, 1, 2)
    seq = [
        (1, "signup", 10), (1, "click", 12), (1, "purchase", 20),
        (1, "signup", 50), (1, "click", 55),              # times out (95-50>30)
        (1, "signup", 90), (1, "purchase", 95),
        (2, "signup", 10),                                 # times out
        (2, "click", 30), (2, "purchase", 60),             # beyond horizon
        (3, "purchase", 5), (3, "signup", 8), (3, "purchase", 20),
    ]
    rows = [
        (k, et, t0 + dt.timedelta(seconds=s), i)
        for i, (k, et, s) in enumerate(seq)
    ]
    schema = "k long, event_type string, ts timestamp, event_id long"
    pat = (
        cep.Pattern.begin("begin", lambda r: r["event_type"] == "signup")
        .followed_by("follow", lambda r: r["event_type"] == "purchase")
        .within_time("30s")
    )

    def ok(rows_df, b):
        return {"anchor_id": int(rows_df.iloc[b["begin"][0]]["event_id"]),
                "status": "success"}

    def timed_out(rows_df, b):
        return {"anchor_id": int(rows_df.iloc[b["begin"][0]]["event_id"]),
                "status": "timeout"}

    out_schema = "k long, anchor_id long, status string, is_timeout boolean"
    golden = {
        (r.k, r.anchor_id, r.status, r.is_timeout)
        for r in cep.match_pattern(
            spark.createDataFrame(rows, schema), pat, ["k"], "ts",
            ok, out_schema, order_cols=["ts", "event_id"],
            timeout_measures=timed_out,
        ).collect()
    }
    assert golden == {
        (1, 0, "success", False), (1, 3, "timeout", True),
        (1, 5, "success", False), (2, 7, "timeout", True),
        (3, 11, "success", False),
    }, golden

    rng = random.Random(17)
    rows_sorted = sorted(rows, key=lambda r: (r[2], r[3]))
    flush_at = t0 + dt.timedelta(seconds=200)
    markers = [(k, "flush", flush_at, 100 + k) for k in (1, 2, 3)]
    cuts = sorted(rng.sample(range(1, len(rows_sorted)), 4))
    batches, prev = [], 0
    for c in [*cuts, len(rows_sorted)]:
        batches.append(rows_sorted[prev:c])
        prev = c
    batches.append(markers)
    got = {
        (r.k, r.anchor_id, r.status, r.is_timeout)
        for r in run_available_now(
            streaming_match_pattern(
                _mem_stream_batches(spark, batches, schema),
                pat, ["k"], "ts", ok, out_schema,
                order_cols=["ts", "event_id"], flush_ts=flush_at,
                timeout_measures=timed_out,
            ),
            output_mode="append",
        ).collect()
    }
    assert got == golden, got


def test_streaming_match_pattern_watermarked_skip_strategies(spark):
    """skip_to_first / skip_to_last through the watermark-driven twin
    with OUT-OF-ORDER micro-batches: same goldens once the watermark
    closes each anchor's horizon."""
    from flink_demo_spark.operators import cep
    from flink_demo_spark.streaming.cep_stream import (
        streaming_match_pattern_watermarked,
    )

    t0 = dt.datetime(1970, 1, 2)
    seq = [
        ("sensor_1", 92, 20), ("sensor_1", 93, 21), ("sensor_1", 94, 22),
        ("sensor_2", 92, 22), ("sensor_1", 96, 22), ("sensor_2", 99, 24),
        ("sensor_2", 400, 0),  # pushes the watermark past every horizon
    ]
    rows = [
        (1, sid, t0 + dt.timedelta(seconds=s), v, i)
        for i, (sid, s, v) in enumerate(seq)
    ]
    schema = "k long, id string, ts timestamp, vc long, event_id long"

    def pat(strategy):
        p = cep.Pattern.begin("first", lambda r: r["id"] == "sensor_1")
        p = p.times_or_more(2).relaxed().reluctant().within_time("30s")
        return getattr(p, strategy)("first")

    def measures(rows_df, b):
        return {
            "members": ",".join(
                str(int(rows_df.iloc[i]["ts"].timestamp()) - 86400)
                for i in b["first"]
            )
        }

    # out-of-order split: second batch carries an EARLIER row (93),
    # above the watermark thanks to the 5s delay (wm after batch 1 = 89)
    batches = [
        [rows[0], rows[2], rows[3]],          # 92, 94, s2-92
        [rows[1], rows[4], rows[5]],          # 93 (late-but-above-wm), 96, s2-99
        [rows[6]],                            # watermark push
    ]
    for strategy, golden in {
        "skip_to_first": {"92,93", "92,93,94", "92,93,94,96"},
        "skip_to_last": {"92,93", "93,94", "94,96"},
    }.items():
        got = {
            r.members
            for r in run_available_now(
                streaming_match_pattern_watermarked(
                    _mem_stream_batches(spark, batches, schema).withWatermark(
                        "ts", "5 seconds"
                    ),
                    pat(strategy), ["k"], "ts", measures,
                    "k long, members string", order_cols=["ts", "event_id"],
                ),
                output_mode="append",
            ).collect()
        }
        assert got == golden, (strategy, got)


def test_punctuated_vector_scan_equals_per_event_reference():
    """Property check of the round-5 vectorized punctuated scan: for
    random event sequences (out-of-order, duplicate timestamps, state
    carried across batch splits) the batch-end fire consolidation must
    equal a literal per-event reference fold."""
    import random

    import numpy as np

    def reference(batches, window_ms, delay_ms):
        max_ts, windows, out = None, {}, []
        for batch in batches:
            for ts in batch:  # arrival order
                wm = (max_ts - delay_ms) if max_ts is not None else None
                start = (ts // window_ms) * window_ms
                if wm is not None and start + window_ms <= wm:
                    continue
                windows[start] = windows.get(start, 0) + 1
                if max_ts is None or ts > max_ts:
                    max_ts = ts
                    new_wm = max_ts - delay_ms
                    for s in sorted(list(windows)):
                        if s + window_ms <= new_wm:
                            out.append((s, windows.pop(s)))
        return sorted(out), max_ts, dict(windows)

    def vectorized(batches, window_ms, delay_ms):
        no_seed = np.iinfo(np.int64).min
        max_ts, windows, out = None, {}, []
        for batch in batches:
            if not batch:
                continue
            ts = np.asarray(batch, dtype="int64")
            seed = max_ts if max_ts is not None else no_seed
            prev_max = np.maximum.accumulate(
                np.concatenate(([seed], ts))
            )[:-1]
            starts = (ts // window_ms) * window_ms
            keep = (prev_max == no_seed) | (
                starts + window_ms > prev_max - delay_ms
            )
            uniq, cnts = np.unique(starts[keep], return_counts=True)
            for s, c in zip(uniq.tolist(), cnts.tolist()):
                windows[s] = windows.get(s, 0) + c
            batch_max = int(ts.max())
            if max_ts is None or batch_max > max_ts:
                max_ts = batch_max
            new_wm = max_ts - delay_ms
            for s in sorted(list(windows)):
                if s + window_ms <= new_wm:
                    out.append((s, windows.pop(s)))
        return sorted(out), max_ts, dict(windows)

    rng = random.Random(5)
    for trial in range(60):
        n = rng.randrange(1, 120)
        ts = [rng.randrange(0, 5000) for _ in range(n)]
        cuts = sorted(rng.sample(range(n), min(3, n - 1))) if n > 1 else []
        batches, prev = [], 0
        for c in [*cuts, n]:
            batches.append(ts[prev:c])
            prev = c
        w = rng.choice([100, 250, 500])
        d = rng.choice([0, 100, 400])
        assert reference(batches, w, d) == vectorized(batches, w, d), (
            trial, w, d, batches,
        )


def test_queryable_state_versions_and_restart(spark):
    """Queryable state (state_query.read_keyed_state): after each
    checkpointed run the operator's keyed state equals the aggregate
    of everything ingested so far, and batchId selects the HISTORICAL
    state version (time travel) — batch 0 still shows the
    pre-restart totals after more data arrives."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_demo_spark.streaming.runner import run_available_now
    from flink_demo_spark.streaming.state_query import read_keyed_state

    src = tempfile.mkdtemp(prefix="qstate_src_")
    ckpt = tempfile.mkdtemp(prefix="qstate_ckpt_")

    def write(name, rows):
        spark.createDataFrame(rows, "k string, v long").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/{name}")

    def run_once():
        feed = spark.readStream.schema("k string, v long").parquet(
            f"{src}/*"
        )
        agg = feed.groupBy("k").agg(F.sum("v").alias("total"))
        run_available_now(
            agg, output_mode="complete", checkpoint_dir=ckpt
        )

    def state(batch_id=None):
        df = read_keyed_state(spark, ckpt, batch_id=batch_id).toDF(
            "k", "total"
        )
        return {r["k"]: r["total"] for r in df.collect()}

    write("b1", [("a", 1), ("b", 10), ("a", 2)])
    run_once()
    assert state() == {"a": 3, "b": 10}

    write("b2", [("a", 4), ("c", 100)])
    run_once()  # restart from the checkpoint, ingest only the delta
    assert state() == {"a": 7, "b": 10, "c": 100}
    # time travel: version 0 is the pre-restart state, unchanged
    assert state(batch_id=0) == {"a": 3, "b": 10}


def test_queryable_state_inspects_custom_operator(spark, sf_dir):
    """State introspection works for CUSTOM applyInPandasWithState
    operators too, not just built-in aggregates: after a count-window
    run, every user's state row carries its in-flight partial-window
    count (total events mod n; 0 right after an exact window close) —
    the key-level visibility an operator on-call needs for state-size
    monitoring."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.sources.streams import events_stream
    from flink_demo_spark.streaming.runner import run_available_now
    from flink_demo_spark.streaming.stateful import count_window

    n = 5
    tag = lambda df: df.select(  # noqa: E731
        F.col("user_id").alias("key"),
        "ts",
        (F.col("value").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("value"),
    )
    ckpt = tempfile.mkdtemp(prefix="qstate_custom_ckpt_")
    run_available_now(
        count_window(tag(events_stream(spark, sf_dir, watermark=None)), n=n),
        output_mode="append",
        checkpoint_dir=ckpt,
    )
    state_cnt = {
        r["key"]: r["cnt"]
        for r in spark.read.format("statestore")
        .load(ckpt)
        .select(
            F.col("key.key").alias("key"),
            # applyInPandasWithState nests the user schema under
            # value.groupState (typed fields, not an opaque blob)
            F.col("value.groupState.cnt").alias("cnt"),
        )
        .collect()
    }
    expected = {
        r["key"]: r["count"] % n
        for r in tag(load_table(spark, sf_dir, "events"))
        .groupBy("key")
        .count()
        .collect()
    }
    assert state_cnt == expected


def test_queryable_state_schema_introspection_and_named_rebind(spark):
    """Round-8 brief #6: keyed_state_schema exposes the physical agg
    buffer names so consumers rebind BY NAME; read_keyed_state(rename=)
    rejects unknown source names and colliding targets instead of
    silently mislabeling (the positional-toDF hazard)."""
    import tempfile

    import pytest as _pytest
    from pyspark.sql import functions as F

    from flink_demo_spark.streaming.runner import run_available_now
    from flink_demo_spark.streaming.state_query import (
        keyed_state_schema,
        read_keyed_state,
    )

    src = tempfile.mkdtemp(prefix="qschema_src_")
    ckpt = tempfile.mkdtemp(prefix="qschema_ckpt_")
    spark.createDataFrame(
        [("a", 1), ("b", 10), ("a", 2)], "k string, v long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")
    feed = spark.readStream.schema("k string, v long").parquet(f"{src}/*")
    agg = feed.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total")
    )
    run_available_now(agg, output_mode="complete", checkpoint_dir=ckpt)

    sch = keyed_state_schema(spark, ckpt)
    assert [n for n, _ in sch["key"]] == ["k"]
    vnames = [n for n, _ in sch["value"]]
    cnt_buf = next(n for n in vnames if "count" in n.lower())
    sum_buf = next(n for n in vnames if "sum" in n.lower())

    df = read_keyed_state(
        spark, ckpt, rename={cnt_buf: "cnt", sum_buf: "total"}
    )
    got = {r["k"]: (r["cnt"], r["total"]) for r in df.collect()}
    assert got == {"a": (2, 3), "b": (1, 10)}

    with _pytest.raises(ValueError, match="do not exist"):
        read_keyed_state(spark, ckpt, rename={"no_such_buffer": "x"})
    with _pytest.raises(ValueError, match="duplicate"):
        read_keyed_state(spark, ckpt, rename={cnt_buf: "k"})
