"""Structured Streaming queries registered in the correctness gate.

Each runs a real streaming pipeline (file-replay source -> watermark
-> windowed agg / stream-stream join -> memory sink, availableNow
trigger) and returns the bounded result. A query with a batch twin
declares it (``@query(..., twin="<batch name>")``) and is checked
against that twin's DuckDB oracle, which the registry hands it once
every plan module has loaded — asserting the reference's
batch/stream-unification property (``ExecuteMode.scala:41-72``: same
query, two runtime modes, same result). Only queries with no batch
twin carry an oracle of their own.

A twin pair writes its rows once. The twin's transformation is a
plain ``DataFrame -> DataFrame`` function beside the batch query
(window helpers live in ``streaming/windows.py``): the batch query is
``finish(prefix(load_table(...)))`` and the streaming one
``finish(run_available_now(prefix(<stream>)))``. Where a stream cannot
run the batch prefix (a per-user window function, an
``applyInPandasWithState`` stage), it keeps its own prefix and shares
only ``finish``. Plan-module helpers are imported inside the query
bodies: a top-level import would register that module's queries
before these and reorder ``REGISTRY``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.streams import events_stream
from ..streaming.runner import run_available_now
from ..streaming.windows import (
    cumulate_counts,
    interval_join_stream,
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from ._util import first_vectors
from .registry import query


def _per_user_events(ev: DataFrame, *fields: Column) -> DataFrame:
    """Replay ``ev`` into one list ``evts`` of ``fields`` structs per
    user. A stream cannot order rows within a key, so the twins of
    per-user window queries stage each user's events and order them
    after the replay."""
    return run_available_now(
        ev.select("user_id", F.struct(*fields).alias("e"))
        .groupBy("user_id")
        .agg(F.collect_list("e").alias("evts")),
        output_mode="complete",
    )


def _fresh_ids(df: DataFrame) -> DataFrame:
    """``df`` with every column re-aliased. A sink table joined with a
    frame derived from itself needs this: Spark cannot give its
    MemoryPlan leaf fresh attribute ids, but it can re-alias a
    projection."""
    return df.select(*[F.col(c).alias(c) for c in df.columns])


def _page_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's consecutive (src, dst) page hops in (ts, event_id)
    order: the batch twins' ``lag("page")`` over a replayed stream."""
    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    page = F.get_json_object("props", "$.k").cast("int")
    per_user = _per_user_events(
        ev, F.col("ts"), F.col("event_id").alias("eid"), page.alias("page")
    )
    seq = per_user.select(
        F.transform(F.array_sort("evts"), lambda s: s["page"]).alias("pages")
    )
    hop = F.arrays_zip(
        F.slice("pages", 1, F.size("pages") - 1).alias("src"),
        F.slice(F.col("pages"), 2, F.size("pages") - 1).alias("dst"),
    )
    return (
        seq.where(F.size("pages") > 1)
        .select(F.explode(hop).alias("h"))
        .select("h.src", "h.dst")
    )


@query(
    "streaming_window_hourly",
    twin="window_tumbling_hourly",
    doc=(
        "streaming TUMBLE agg (readStream -> withWatermark -> window -> "
        "memory sink, availableNow): must equal the batch/oracle result."
    ),
)
def streaming_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    result = run_available_now(tumbling_agg(ev), output_mode="complete")
    return result.orderBy("window_start", "event_type")


@query(
    "streaming_interval_join",
    twin="interval_join",
    doc=(
        "stream-stream interval join with watermarks on both sides "
        "(reference TxMatch.scala:51-76): equals the batch interval join."
    ),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = events_stream(spark, sf_dir, watermark="10 minutes").where(
        F.col("event_type") == "purchase"
    )
    clicks = events_stream(spark, sf_dir, watermark="10 minutes").where(
        F.col("event_type") == "click"
    )
    joined = interval_join_stream(purchases, clicks)
    result = run_available_now(joined, output_mode="append")
    return result.orderBy("purchase_id", "click_id")


@query(
    "streaming_sliding_window",
    twin="window_sliding",
    doc="streaming HOP window (1h/30m) — equals the batch sliding window.",
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    result = run_available_now(sliding_agg(ev), output_mode="complete")
    return result.orderBy("window_start")


@query(
    "streaming_dedup",
    oracle="""
    SELECT event_type, count(*) AS n FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "streaming dropDuplicates within watermark (reference "
        "DuplicatorApp.scala:13-38, QueryTest dedup): exact-once by "
        "event_id, then counts must equal the raw table's."
    ),
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    deduped = ev.dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_available_now(agg, output_mode="complete").orderBy("event_type")


@query(
    "streaming_lookup_join",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events,
           CAST(round(sum(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc=(
        "stream-static lookup join (reference temporal DDL join "
        "QueryTest.scala:777-846, JDBC lookup cache): streaming events "
        "enriched against the static customer dimension (broadcast), "
        "then aggregated."
    ),
)
def streaming_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    dim = F.broadcast(load_table(spark, sf_dir, "customer"))
    joined = ev.join(dim, ev.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")), 2
            ).cast("double").alias("sum_value"),
    )
    return run_available_now(agg, output_mode="complete").orderBy("c_mktsegment")


@query(
    "streaming_pattern_burst",
    twin="pattern_error_burst",
    doc=(
        "streaming CEP via applyInPandasWithState (reference "
        "LoginFail.scala:78-86 'fail next fail within t'): keyed state "
        "carries the last event across micro-batches; equals the batch "
        "lag-based oracle."
    ),
)
def streaming_pattern_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.cep_stream import consecutive_pattern_stream

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    matches = consecutive_pattern_stream(ev, match_type="error")
    result = run_available_now(matches, output_mode="append")
    return result.orderBy("user_id", "first_error_id")


@query(
    "streaming_session_window",
    twin="window_session",
    doc=(
        "streaming session windows with watermark (reference "
        "EventTimeSessionWindows Window.scala:124): state-merged "
        "sessions, equals the batch/oracle result."
    ),
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    result = run_available_now(session_agg(ev, "30 minutes"), output_mode="complete")
    return result.orderBy("user_id", "session_start")


@query(
    "streaming_window_join",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id
    FROM (SELECT event_id, user_id,
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w
          FROM events WHERE event_type = 'view') v
    JOIN (SELECT event_id, user_id,
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w
          FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id AND v.w = c.w
    ORDER BY view_id, click_id
    """,
    doc=(
        "stream-stream tumbling window join (reference window joins "
        "DataStreamFunc.scala:1514-1639): equi-join on (user, window "
        "bucket) with watermarks on both sides; equals the batch twin."
    ),
)
def streaming_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def mk(src, et, idn):
        return src.where(F.col("event_type") == et).select(
            F.col("event_id").alias(idn),
            F.col("user_id").alias(f"{idn}_user"),
            F.window("ts", "1 hour").alias(f"{idn}_w"),
        )

    v = mk(events_stream(spark, sf_dir, watermark="10 minutes"), "view", "view_id")
    c = mk(events_stream(spark, sf_dir, watermark="10 minutes"), "click", "click_id")
    j = v.join(
        c,
        (F.col("view_id_user") == F.col("click_id_user"))
        & (F.col("view_id_w") == F.col("click_id_w")),
    )
    out = run_available_now(j.select("view_id", "click_id"), output_mode="append")
    return out.orderBy("view_id", "click_id")


@query(
    "streaming_hotitems_topn",
    twin="hotitems_topn",
    bench=True,
    doc=(
        "streaming HotItems (reference HotItems.scala:25-122, the "
        "flagship app): sliding-window view counts in Structured "
        "Streaming (complete mode), top-3 ranking on the emitted "
        "result — the aggregate-then-rank split mirrors the reference's "
        "AggregateFunction + TopN process function."
    ),
)
def streaming_hotitems_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import hotitems_top3, hotitems_window_views

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    emitted = run_available_now(hotitems_window_views(ev), output_mode="complete")
    return hotitems_top3(emitted).orderBy("window_start", "rk")


@query(
    "streaming_uv_per_element",
    oracle="""
    WITH e AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             row_number() OVER (
               PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP)), user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rk
      FROM events
    )
    SELECT window_start, event_id,
           CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) OVER (
             PARTITION BY window_start ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS uv
    FROM e
    ORDER BY window_start, event_id
    """,
    doc=(
        "per-element-trigger UV (reference UvTriggerByElement.scala:9-17 "
        "FIRE per element + UvCountWithBloomByWindow.scala:19-40): one "
        "updated distinct-user count per arriving event, keyed by hourly "
        "window, seen-set in group state; equals the running-UV oracle."
    ),
)
def streaming_uv_per_element(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import per_element_uv

    ev = events_stream(spark, sf_dir, watermark="10 minutes").select(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_id",
        "user_id",
        "ts",
    )
    out = run_available_now(per_element_uv(ev), output_mode="append")
    return out.orderBy("window_start", "event_id")


@query(
    "streaming_triggered_agg",
    oracle="""
    WITH running AS (
      SELECT user_id, event_id, value,
             count(*) OVER w AS n_events,
             sum(CAST(value AS DECIMAL(18,4))) OVER w AS sum_v
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id AS key, event_id, n_events,
           round(CAST(sum_v AS DOUBLE), 2) AS sum_value
    FROM running WHERE value > 400
    ORDER BY key, event_id
    """,
    doc=(
        "GlobalWindows + custom element trigger (reference "
        "GlobalWindowsApp.scala:17-33 MarksTrigger): running per-user "
        "reduce that FIREs the current (count, sum) whenever the "
        "incoming element's value exceeds the threshold; never purged. "
        "Exact decimal(18,4) fixed-point state; equals the running "
        "window-frame oracle."
    ),
)
def streaming_triggered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import triggered_global_agg

    ev = events_stream(spark, sf_dir, watermark="10 minutes").select(
        F.col("user_id").alias("key"),
        "event_id",
        "ts",
        "value",
        F.round(F.col("value").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("v4"),
    )
    fired = triggered_global_agg(ev, fire=lambda r: float(r["value"]) > 400)
    out = run_available_now(fired, output_mode="append")
    return out.select(
        "key",
        "event_id",
        "n_events",
        F.round(F.col("sum_v4") / 10000.0, 2).alias("sum_value"),
    ).orderBy("key", "event_id")


@query(
    "streaming_decontam",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(t) - 2),
               i -> array_to_string(t[i:i+2], ' '))) AS ng
      FROM toks
    ), bench AS (
      SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0
    )
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM g JOIN bench USING (ng)
    WHERE g.doc_id % 97 <> 0
    GROUP BY 1 ORDER BY doc_id
    """,
    doc=(
        "streaming benchmark decontamination: a document FEED "
        "(readStream) exploded to n-grams and joined against the "
        "static benchmark n-gram set (stream-static broadcast join, "
        "the production shape for screening an incoming crawl), "
        "counting contaminated n-gram occurrences per document in "
        "complete mode. Equals the batch/oracle result; the distinct-"
        "type variant is the batch query `decontam_ngram_overlap`."
    ),
)
def streaming_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..sources.streams import documents_stream

    ngrams = F.when(
        F.size("t") >= 3,
        F.expr(
            "transform(sequence(1, size(t) - 2),"
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1),"
            " ' ', element_at(t, i + 2)))"
        ),
    ).otherwise(F.array().cast("array<string>"))

    bench = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 97 == 0)
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
        .select(F.explode_outer(ngrams).alias("ng"))
        .where(F.col("ng").isNotNull())
        .distinct()
    )
    feed = (
        documents_stream(spark, sf_dir)
        .where(F.col("doc_id") % 97 != 0)
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
        .select("doc_id", F.explode_outer(ngrams).alias("ng"))
        .where(F.col("ng").isNotNull())
    )
    hits = (
        feed.join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    result = run_available_now(hits, output_mode="complete")
    return result.orderBy("doc_id")


@query(
    "streaming_punctuated_windows",
    oracle="""
    WITH e AS (
      -- deterministic event-time jitter (up to ~16.7h back): the raw
      -- table is ts-sorted in replay order, so without it the
      -- late-drop path would never execute (same expression on the
      -- Spark side)
      SELECT user_id AS key, event_id AS seq,
             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)
               - (event_id % 101) * 600000 AS ts_ms
      FROM events
    ), o AS (
      SELECT *, max(ts_ms) OVER (PARTITION BY key ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM e
    ), kept AS (
      -- an event is dropped only when its WINDOW END has passed the
      -- per-event watermark (max-so-far - delay), i.e. the window it
      -- belongs to already fired (Flink window-operator semantics)
      SELECT * FROM o
      WHERE prev_max IS NULL
         OR (ts_ms // 86400000) * 86400000 + 86400000 > prev_max - 3600000
    ), wm AS (
      SELECT key, max(ts_ms) - 3600000 AS final_wm FROM kept GROUP BY key
    ), agg AS (
      SELECT key, (ts_ms // 86400000) * 86400000 AS window_start_ms,
             count(*) AS n
      FROM kept GROUP BY 1, 2
    )
    SELECT a.key, a.window_start_ms, CAST(a.n AS BIGINT) AS n_events
    FROM agg a JOIN wm USING (key)
    WHERE a.window_start_ms + 86400000 <= wm.final_wm
    ORDER BY key, window_start_ms
    """,
    doc=(
        "punctuated-watermark tumbling windows (MyPunctuatedWatermark."
        "scala:11-30): per-event watermark of max_ts - 1h drives 1-day "
        "windows over the replayed event stream (deterministically "
        "jittered so late drops actually occur) — eager firing and "
        "per-event late drops in keyed state. Fully oracle-backed: "
        "under in-order file replay the arrival order is the event_id "
        "sequence, so the kept-set and fired-window set are exact "
        "window functions."
    ),
)
def streaming_punctuated_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import events_stream
    from ..streaming.punctuated import punctuated_tumbling_count

    feed = events_stream(spark, sf_dir, watermark=None).select(
        F.col("user_id").alias("key"),
        (
            F.unix_millis("ts") - (F.col("event_id") % 101) * 600_000
        ).alias("ts_ms"),
        F.col("event_id").alias("seq"),
    )
    out = punctuated_tumbling_count(
        feed, window_ms=86_400_000, delay_ms=3_600_000,
        key_col="key", ts_col="ts_ms", seq_col="seq",
    )
    return run_available_now(out, output_mode="append").orderBy(
        "key", "window_start_ms"
    )


@query(
    "streaming_cep_iterative",
    # skip_to_next + NEXT contiguity -> adjacent pairs; CEP's WITHIN is
    # inclusive (ts2 - ts1 <= horizon), unlike MATCH_RECOGNIZE's strict <
    oracle="""
    WITH pur AS (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), s AS (
      SELECT user_id, event_id AS small_id, value AS small_value, ts,
             lead(event_id) OVER w AS large_id,
             lead(value) OVER w AS large_value,
             lead(ts) OVER w AS large_ts
      FROM pur
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, small_id, large_id,
           round(small_value, 2) AS small_value,
           round(large_value, 2) AS large_value
    FROM s
    WHERE small_value < 30 AND large_value > 2 * small_value
      AND large_ts - ts <= INTERVAL 7 DAY
    ORDER BY user_id, small_id
    """,
    doc=(
        "general streaming CEP (CEP.pattern on a stream): the batch "
        "NFA runs from keyed state, matches emit the moment their "
        "outcome is decided, failed anchors drop at WITHIN expiry. "
        "Pattern = iterative 'small then >2x-larger' within 7 days "
        "(IterativeCondition ctx works unchanged). Fully oracle-backed."
    ),
)
def streaming_cep_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cep
    from ..sources.streams import events_stream
    from ..streaming.cep_stream import streaming_match_pattern

    ev = events_stream(spark, sf_dir, watermark=None).where(
        F.col("event_type") == "purchase"
    ).select("user_id", "event_id", "value", "ts")
    pat = cep.Pattern.begin("small", lambda r: r["value"] < 30).next(
        "large",
        lambda r, ctx: r["value"]
        > 2 * ctx.events_for_pattern("small")[0]["value"],
    )
    pat.skip_to_next()
    pat.within_time("7D")

    def measures(rows, bindings):
        s = rows.iloc[bindings["small"][0]]
        g = rows.iloc[bindings["large"][0]]
        return {
            "small_id": int(s["event_id"]),
            "large_id": int(g["event_id"]),
            "small_value": round(float(s["value"]), 2),
            "large_value": round(float(g["value"]), 2),
        }

    out = streaming_match_pattern(
        ev,
        pat,
        key_cols=["user_id"],
        ts_col="ts",
        measures=measures,
        output_schema=(
            "user_id long, small_id long, large_id long, "
            "small_value double, large_value double"
        ),
        order_cols=["ts", "event_id"],
    )
    return run_available_now(out, output_mode="append").orderBy(
        "user_id", "small_id"
    )


@query(
    "streaming_allowed_lateness",
    oracle="""
    WITH e AS (
      -- deterministic event-time jitter (up to ~16.7h back): the raw
      -- table is ts-sorted in replay order, so without it the late /
      -- re-fire / drop paths would never execute (same expression on
      -- the Spark side)
      SELECT user_id AS key, event_id AS seq,
             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)
               - (event_id % 101) * 600000 AS ts_ms
      FROM events
    ), o AS (
      SELECT *,
             max(ts_ms) OVER (PARTITION BY key ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
             max(ts_ms) OVER (PARTITION BY key ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur_max
      FROM e
    ), k AS (
      -- kept events: dropped only once window end + lateness has
      -- passed the (per-event) watermark
      SELECT key, seq, (ts_ms // 86400000) * 86400000 AS ws,
             row_number() OVER (
               PARTITION BY key, (ts_ms // 86400000) * 86400000
               ORDER BY seq) AS rc
      FROM o
      WHERE prev_max IS NULL
         OR (ts_ms // 86400000) * 86400000 + 86400000 + 7200000
            > prev_max - 3600000
    ), fe AS (
      SELECT key, ws, min(seq) AS first_el FROM k GROUP BY key, ws
    ), fs AS (
      -- first fire: earliest event whose running watermark reaches the
      -- window end while the window holds at least one element
      SELECT fe.key, fe.ws, min(o.seq) AS fire_seq
      FROM fe JOIN o ON o.key = fe.key AND o.seq >= fe.first_el
                AND o.cur_max - 3600000 >= fe.ws + 86400000
      GROUP BY fe.key, fe.ws
    ), initial AS (
      SELECT f.key, f.ws AS window_start_ms, CAST(1 AS BIGINT) AS fire_no,
             CAST(max(k.rc) AS BIGINT) AS n_events
      FROM fs f JOIN k ON k.key = f.key AND k.ws = f.ws
                      AND k.seq <= f.fire_seq
      GROUP BY f.key, f.ws
    ), refire AS (
      -- every kept event after the first fire refines the window
      SELECT k.key, k.ws AS window_start_ms,
             CAST(1 + row_number() OVER (
               PARTITION BY k.key, k.ws ORDER BY k.seq) AS BIGINT) AS fire_no,
             CAST(k.rc AS BIGINT) AS n_events
      FROM k JOIN fs f ON f.key = k.key AND f.ws = k.ws
                      AND k.seq > f.fire_seq
    )
    SELECT * FROM initial
    UNION ALL
    SELECT * FROM refire
    ORDER BY key, window_start_ms, fire_no
    """,
    bench=True,
    doc=(
        "allowedLateness window re-fire (WatermarkDemo.scala:207-299): "
        "1-day tumbling windows, 1h bounded delay, 2h allowedLateness "
        "over the replayed event stream — initial fire when the "
        "per-event watermark passes the window end, a refined re-fire "
        "per late-but-kept event, drop once end+lateness passes the "
        "watermark. Windows still open at end of replay do not emit "
        "(unbounded-stream semantics). Fully oracle-backed."
    ),
)
def streaming_allowed_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import events_stream
    from ..streaming.lateness import allowed_lateness_tumbling_count

    feed = events_stream(spark, sf_dir, watermark=None).select(
        F.col("user_id").alias("key"),
        (
            F.unix_millis("ts") - (F.col("event_id") % 101) * 600_000
        ).alias("ts_ms"),
        F.col("event_id").alias("seq"),
    )
    out = allowed_lateness_tumbling_count(
        feed, window_ms=86_400_000, delay_ms=3_600_000,
        lateness_ms=7_200_000,
        key_col="key", ts_col="ts_ms", seq_col="seq",
    )
    return run_available_now(out, output_mode="append").orderBy(
        "key", "window_start_ms", "fire_no"
    )


@query(
    "streaming_kafka_window",
    twin="window_tumbling_hourly",
    doc=(
        "the reference's flagship pipeline shape END TO END: Kafka "
        "consumer -> event time -> TUMBLE agg (Source.scala:116-155 + "
        "QueryTest.scala:375-385), with the Kafka leg running over the "
        "real wire protocol. Events are produced once to the live "
        "in-process broker (shared with kafka_roundtrip_window), then "
        "readStream.format('kafka_wire') consumes them as a streaming "
        "micro-batch source (engine-checkpointed per-partition "
        "offsets), decodes the JSON payloads, and window-aggregates "
        "under a watermark. Must equal the batch oracle over the raw "
        "events table."
    ),
)
def streaming_kafka_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.kafka import decode_events_from_kafka
    from ..sources.kafka_wire import register_kafka_wire
    from .temporal import _kafka_demo_topic

    broker, topic = _kafka_demo_topic(spark, sf_dir)
    register_kafka_wire(spark)
    stream = (
        spark.readStream.format("kafka_wire")
        .option("bootstrap", f"{broker.host}:{broker.port}")
        .option("topic", topic)
        .load()
    )
    ev = decode_events_from_kafka(stream).withWatermark("ts", "10 minutes")
    result = run_available_now(tumbling_agg(ev), output_mode="complete")
    return result.orderBy("window_start", "event_type")


@query(
    "streaming_cep_skip_to_last",
    # same lag self-join oracle as the batch cep_skip_to_last_pairs:
    # every consecutive purchase pair is < 30 days apart in this
    # fixture (events span one month), so the streaming WITHIN bound
    # drops nothing and the in-order replay decides every pair — a
    # times(2) match cannot extend, so the final pair emits without a
    # sentinel
    twin="cep_skip_to_last_pairs",
    doc=(
        "streaming AFTER MATCH SKIP TO LAST (round-5 skip-strategy "
        "closure, CEPDemo.scala skipToLast:949): the sliding "
        "consecutive-purchase-pair chain from keyed state, re-anchored "
        "at each match's last bound event across micro-batches."
    ),
)
def streaming_cep_skip_to_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cep
    from ..sources.streams import events_stream
    from ..streaming.cep_stream import streaming_match_pattern

    ev = events_stream(spark, sf_dir, watermark=None).where(
        F.col("event_type") == "purchase"
    ).select("user_id", "event_id", "ts")
    pat = (
        cep.Pattern.begin("p", lambda r: True)
        .times(2)
        .relaxed()
        .skip_to_last("p")
        .within_time("30D")
    )
    out = streaming_match_pattern(
        ev,
        pat,
        key_cols=["user_id"],
        ts_col="ts",
        measures=cep.first_two_ids,
        output_schema="user_id long, first_id long, second_id long",
        order_cols=["ts", "event_id"],
    )
    return run_available_now(out, output_mode="append").orderBy(
        "user_id", "first_id"
    )


@query(
    "streaming_cep_no_skip",
    # batch cep_no_skip_branches oracle (the time-bounded self-join),
    # restricted to DECIDED anchors: a NO_SKIP anchor's solution set
    # is final only once its 1-day horizon expired, and on an
    # availableNow replay with no final watermark the horizon closes
    # against the USER's last buffered event — the per-user max-ts
    # join mirrors that decision rule exactly (strict >, matching the
    # engine's strict horizon-expiry check)
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), m AS (
      SELECT user_id, max(ts) AS mx FROM e GROUP BY user_id
    )
    SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id
    FROM e s
    JOIN e p ON p.user_id = s.user_id
    JOIN m ON m.user_id = s.user_id
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
      AND (p.ts > s.ts OR (p.ts = s.ts AND p.event_id > s.event_id))
      AND p.ts - s.ts <= INTERVAL 1 DAY
      AND m.mx - s.ts > INTERVAL 1 DAY
    ORDER BY s.user_id, signup_id, purchase_id
    """,
    doc=(
        "streaming NO_SKIP / followedByAny (round-6 closure of the "
        "last streaming-vs-batch CEP asymmetry; reference "
        "CEPDemo.scala followedByAny:674-704): every anchor emits "
        "every branch from keyed state, anchors never consume, and an "
        "anchor's solution set emits once its WITHIN horizon expires "
        "against the key's buffered max event time."
    ),
)
def streaming_cep_no_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cep
    from ..streaming.cep_stream import streaming_match_pattern_all

    ev = events_stream(spark, sf_dir, watermark=None).where(
        F.col("event_type").isin("signup", "purchase")
    ).select("user_id", "event_id", "event_type", "ts")
    pat = (
        cep.Pattern.begin("s", lambda r: r["event_type"] == "signup")
        .followed_by_any("p", lambda r: r["event_type"] == "purchase")
        .within_time("1D")
    )

    def measures(rows, b):
        return {
            "signup_id": int(rows.iloc[b["s"][0]]["event_id"]),
            "purchase_id": int(rows.iloc[b["p"][0]]["event_id"]),
        }

    out = streaming_match_pattern_all(
        ev,
        pat,
        key_cols=["user_id"],
        ts_col="ts",
        measures=measures,
        output_schema="user_id long, signup_id long, purchase_id long",
        order_cols=["ts", "event_id"],
    )
    return run_available_now(out, output_mode="append")


@query(
    "streaming_cep_order_timeout",
    # batch cep_order_timeout oracle (next-purchase walk) restricted
    # to DECIDED anchors: the in-order replay ends with no final
    # watermark, so a pending timeout (no purchase within 7 days yet,
    # and the user's last seen event is still inside the anchor's
    # horizon) blocks that user's walk at the first such anchor —
    # everything before it emits, everything at/after it is withheld.
    # Successes decide the moment their purchase arrives (a bound
    # single follow step cannot extend); timeouts decide when any
    # user event lands strictly beyond the anchor's horizon.
    oracle="""
    WITH RECURSIVE base AS MATERIALIZED (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             row_number() OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS rn
      FROM events
    ), nb AS MATERIALIZED (
      SELECT *, min(CASE WHEN event_type = 'purchase' THEN rn END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np_rn
      FROM base
    ), sig AS MATERIALIZED (
      SELECT n.user_id, n.event_id, n.rn, n.np_rn, n.ts AS s_ts,
             (n.np_rn IS NOT NULL
              AND p.ts <= n.ts + INTERVAL 7 DAY) AS np_ok
      FROM nb n
      LEFT JOIN base p ON p.user_id = n.user_id AND p.rn = n.np_rn
      WHERE n.event_type = 'signup'
    ), succ AS MATERIALIZED (
      SELECT user_id, rn, np_rn FROM sig WHERE np_ok
    ), walk(user_id, s_rn, np_rn) AS (
      SELECT user_id, rn, np_rn FROM succ s1
      WHERE rn = (SELECT min(rn) FROM succ s2 WHERE s2.user_id = s1.user_id)
      UNION ALL
      SELECT s.user_id, s.rn, s.np_rn
      FROM walk w JOIN succ s ON s.user_id = w.user_id
      WHERE s.rn = (SELECT min(rn) FROM succ s2
                    WHERE s2.user_id = w.user_id AND s2.rn > w.np_rn)
    ), anch AS MATERIALIZED (
      SELECT g.* FROM sig g
      WHERE NOT EXISTS (
        SELECT 1 FROM walk c
        WHERE c.user_id = g.user_id AND g.rn > c.s_rn AND g.rn <= c.np_rn
      )
    ), mm AS (
      SELECT user_id, max(CAST(ts AS TIMESTAMP)) AS mx
      FROM events GROUP BY user_id
    ), und AS (
      SELECT a.user_id, min(a.rn) AS first_und
      FROM anch a JOIN mm ON mm.user_id = a.user_id
      WHERE NOT a.np_ok AND mm.mx - a.s_ts <= INTERVAL 7 DAY
      GROUP BY a.user_id
    )
    SELECT a.user_id, a.event_id AS anchor_id,
           CASE WHEN a.np_ok THEN 'success' ELSE 'timeout' END AS status,
           NOT a.np_ok AS is_timeout
    FROM anch a
    LEFT JOIN und u ON u.user_id = a.user_id
    WHERE u.first_und IS NULL OR a.rn < u.first_und
    ORDER BY anchor_id
    """,
    doc=(
        "streaming CEP timeout side-output (reference OrderPay.scala "
        "streaming job, PatternFlatTimeoutFunction via "
        "TimeoutMatchByCep.scala:10-19): signup followedBy purchase "
        "WITHIN 7 days from keyed state — completed pairs emit "
        "is_timeout=false the moment the purchase arrives, expired "
        "partials emit the anchoring signup with is_timeout=true once "
        "a user event passes the horizon; rows that can never anchor "
        "drop immediately (state stays proportional to live partials)."
    ),
)
def streaming_cep_order_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cep
    from ..streaming.cep_stream import streaming_match_pattern

    ev = events_stream(spark, sf_dir, watermark=None).select(
        "user_id", "event_id", "event_type", "ts"
    )
    pat = (
        cep.Pattern.begin("begin", lambda r: r["event_type"] == "signup")
        .followed_by("follow", lambda r: r["event_type"] == "purchase")
        .within_time("7D")
    )

    def ok(rows, b):
        return {"anchor_id": int(rows.iloc[b["begin"][0]]["event_id"]),
                "status": "success"}

    def timed_out(rows, b):
        return {"anchor_id": int(rows.iloc[b["begin"][0]]["event_id"]),
                "status": "timeout"}

    out = streaming_match_pattern(
        ev,
        pat,
        key_cols=["user_id"],
        ts_col="ts",
        measures=ok,
        output_schema=(
            "user_id long, anchor_id long, status string, "
            "is_timeout boolean"
        ),
        order_cols=["ts", "event_id"],
        timeout_measures=timed_out,
    )
    return run_available_now(out, output_mode="append")


@query(
    "streaming_timeout_alert",
    oracle="""
    SELECT user_id AS key,
           -- ms truncation mirrors the operator's int64-ms state fold
           min(CASE WHEN event_type = 'signup'
               THEN date_trunc('millisecond', CAST(ts AS TIMESTAMP)) END)
             AS start_ts,
           'no_paid_conversion' AS alert
    FROM events
    WHERE user_id >= 0
      AND (event_type = 'signup'
           OR (event_type = 'purchase' AND value >= 90))
    GROUP BY user_id
    HAVING count(*) FILTER (WHERE event_type = 'signup') > 0
       AND count(*) FILTER (WHERE event_type = 'purchase') = 0
    """,
    doc=(
        "KeyedProcessFunction timeout alert - DRIVER evidence for the "
        "timeout_detector operator itself (reference OrderPay.scala:"
        "31-53 'created but never paid', LongRidesSolution.scala:"
        "97-131), which until round 13 only had golden tests: per "
        "user, a signup ('start') with no QUALIFYING purchase "
        "(value >= 90, the paid-conversion event; 'end') raises a "
        "timeout alert carrying the earliest signup time. The "
        "stateful core is the group-state event-time timeout armed "
        "at start+horizon; the EOF sentinel pad is DERIVED from the "
        "horizon via eof_pad_hours (this round's composition rule) "
        "so every unmatched start's timer provably fires before the "
        "bounded replay ends. State is ONE (start_ms, has_end) row "
        "per in-flight key - open intervals, not traffic - and rows "
        "fold vectorized per Arrow batch. In the single-data-batch "
        "availableNow replay the alert set is exactly 'signup users "
        "with zero qualifying purchases', which the oracle states "
        "directly."
    ),
)
def streaming_timeout_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import eof_pad_hours
    from ..streaming.stateful import timeout_detector

    horizon_ms = 2 * 3600 * 1000
    ev = events_stream(spark, sf_dir, pad_hours=eof_pad_hours(horizon_ms))
    tagged = ev.where(
        (F.col("user_id") >= 0)
        & (
            (F.col("event_type") == "signup")
            | ((F.col("event_type") == "purchase") & (F.col("value") >= 90))
        )
    ).select(
        F.col("user_id").alias("key"),
        "ts",
        F.when(F.col("event_type") == "signup", F.lit("start"))
        .otherwise(F.lit("end"))
        .alias("side"),
    )
    return run_available_now(
        timeout_detector(
            tagged, horizon_ms=horizon_ms, alert="no_paid_conversion"
        ),
        output_mode="append",
    )


@query(
    "streaming_retract_changelog",
    # the changelog CONTENT depends on micro-batch boundaries; its
    # FOLD (latest surviving row per key) is split-invariant and must
    # equal the plain batch aggregate — exact integer cents (the dsum
    # decimal contract) keep both engines bit-identical
    oracle="""
    SELECT user_id AS key, count(*) AS cnt,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
                AS DOUBLE) / 10000.0 AS sum_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id ORDER BY key
    """,
    doc=(
        "toRetractStream changelog (reference dynamic-table retract "
        "conversion, SURVEY §3): per-user count+sum emitted as "
        "+I/-U/+U change rows with a per-key sequence from keyed "
        "state, then folded by the retract algebra — the fold equals "
        "the batch aggregate whatever the micro-batch boundaries."
    ),
)
def streaming_retract_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.retract import fold_changelog, retract_agg_stream

    ev = events_stream(spark, sf_dir, watermark=None).where(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        (F.col("value").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("cents"),
    )
    log = run_available_now(
        retract_agg_stream(ev, key_col="user_id", cents_col="cents"),
        output_mode="append",
    )
    return fold_changelog(log)


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@query(
    "streaming_profile_columns",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM documents"""
        for c in _PROFILE_COLS
    ),
    doc=(
        "live ingest monitor: the batch column profile as a streaming "
        "global aggregate over a document FEED (complete mode) — per "
        "column the cumulative row/null counts and min/max; the 1-row "
        "state explodes into per-column rows after materialization. "
        "Exact distinct counts are not streamable (Spark rejects "
        "count_distinct in streaming aggs); the batch twin "
        "`profile_columns` carries them, the streaming monitor's "
        "scale path is approx_count_distinct. State is ONE row of "
        "per-column scalars regardless of feed size."
    ),
)
def streaming_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import documents_stream

    feed = documents_stream(spark, sf_dir)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    row = run_available_now(feed.agg(*aggs), output_mode="complete")
    entries = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
        )
        for c in _PROFILE_COLS
    ]
    return row.select(F.explode(F.array(*entries)).alias("p")).select("p.*")


@query(
    "streaming_mix_temperature",
    twin="mix_temperature_langs",
    doc=(
        "temperature-based language mixing on a live document FEED: "
        "the per-language keep rates come from the STATIC corpus "
        "stats (stream-static cross join of the 1-row broadcast "
        "aggregate — the production shape when rebalancing an "
        "incoming crawl against yesterday's census), the keep "
        "decision is the shared integer hash per arriving row, "
        "append mode, no stream state at all. Equals the batch "
        "mix_temperature_langs result."
    ),
)
def streaming_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..sources.streams import documents_stream
    from .corpus import lang_counts, temperature_sample

    stats = lang_counts(load_table(spark, sf_dir, "documents"))
    kept = temperature_sample(documents_stream(spark, sf_dir), stats)
    return run_available_now(kept, output_mode="append")


@query(
    "streaming_sample_dsir",
    twin="sample_dsir",
    doc=(
        "DSIR importance resampling on a live document FEED - the "
        "online-filtering production shape: the 256-bucket importance "
        "model is estimated once from the STATIC corpus (the batch "
        "census, collected driver-side - 256 rows, the same bounded-"
        "collect contract as the IVF centroid list - and re-derived "
        "with Python big-int floor division, bit-identical to the "
        "in-plan DECIMAL DIV), then every arriving document is scored "
        "by ONE per-row JVM expression: F.aggregate over its token "
        "array folding the weight-array literal, no explode, no "
        "stream aggregation, ZERO stream state, append mode. Equals "
        "the batch sample_dsir result - and shows the two-pass batch "
        "algorithm collapsing to a stateless map once the model is "
        "frozen, which is exactly how a 100 TB/day crawl filter runs."
    ),
)
def streaming_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..sources.streams import documents_stream
    from .corpus import _DSIR_B, _DSIR_S, _dsir_stats, _dsir_tokens, dsir_weight_vector
    from ..operators.dedup import portable_hash60

    static_docs = load_table(spark, sf_dir, "documents")
    stats_rows = _dsir_stats(_dsir_tokens(static_docs)).collect()
    weights = dsir_weight_vector(stats_rows)
    warr = F.array(*[F.lit(w).cast("long") for w in weights])

    feed = documents_stream(spark, sf_dir)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    score_sum = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at(warr, ((portable_hash60(t) % _DSIR_B) + 1).cast("int")),
    )
    scored = feed.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        score_sum.alias("s"),
    ).select("doc_id", "n_tokens", F.expr("s DIV n_tokens").alias("dsir_score"))
    kept = scored.where(
        F.expr(
            f"((doc_id % 1000003) * 2654435761 + 12345) % 1000000007"
            f" % {_DSIR_S} * 4 < dsir_score"
        )
    )
    return run_available_now(kept, output_mode="append")


@query(
    "streaming_similarity_ivf",
    twin="similarity_ivf_topk",
    doc=(
        "Online vector search: a stream of query vectors served "
        "against a static IVF index - how ANN actually runs as a "
        "service. The corpus is assigned to cells once (batch "
        "ivf_assign over the 8 literal centroids) and each cell is "
        "PACKED into one array row (pack_cells - the memory-resident "
        "index shard; bounded because IVF sizes K so cells stay "
        "~constant, at 100 TB you train more centroids, not bigger "
        "cells). Each arriving query vector computes its nprobe=1 "
        "cell per-row from the same centroid literals, stream-static "
        "joins the ONE packed cell row, and ranks the whole cell "
        "inside a single JVM expression (packed_topk_expr: cosine + "
        "round, self-match dropped, array_sort comparator matching "
        "the batch row_number order, slice k, posexplode) - append "
        "mode, ZERO stream state, no per-query aggregation. "
        "Bit-identical to batch similarity_ivf_topk."
    ),
)
def streaming_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators import similarity
    from ..sources.streams import embeddings_stream

    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, 8)
    index = similarity.pack_cells(similarity.ivf_assign(emb, cents))

    feed = embeddings_stream(spark, sf_dir).where(F.col("vec_id") < 5)
    probed = similarity.ivf_assign(
        feed.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
        ),
        cents,
        id_col="query_id",
        vec_col="__qvec",
    )
    top = similarity.packed_topk_expr(
        F.col("__qvec"), F.col("members"), F.col("query_id"), k=5, round_to=6
    )
    served = (
        probed.join(index, "cell")
        .select("query_id", F.posexplode(top).alias("pos", "hit"))
        .select(
            "query_id",
            (F.col("pos") + 1).cast("int").alias("rk"),
            F.col("hit.nid").alias("neighbor_id"),
            F.col("hit.sim").alias("cosine_sim"),
        )
    )
    return run_available_now(served, output_mode="append")


def _mmr_ivf_oracle():
    """MMR over IVF(nprobe=1) candidates: the production serving
    composition — re-rank what the index returns, not the exact top-k.
    Reuses datapipe's parameterized greedy unroll with a MATERIALIZED
    cell-candidate stage: the assign→cell-top-20 chain is CREATEd once
    as a temp table (the greedy references cand ~8×; inlined, it OOM'd
    DuckDB at sf1 — the round-12/13 lesson again). Cell assignment
    uses the UNROUNDED cosine with the cid tie-break, bit-matching the
    engine's ivf_assign (sim, -cid) argmax; round-6 applies only to
    the candidate similarities, like similarity_ivf_topk's oracle."""
    from .datapipe import _IVF_COS, _MMR_COS, _mmr_oracle

    cos = _MMR_COS
    cand_stmts = f"""
    CREATE OR REPLACE TEMP TABLE mmr_ivf_cand AS
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ), pick AS (
      -- assignment ranks by RAW cosine, ties to smaller cid (the
      -- engine's (sim, -cid) argmax); arrays are projected away
      -- before the window sorts
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding::DOUBLE[]', b='c.cv')}
                   DESC, c.cid
               ) AS crk
        FROM embeddings e CROSS JOIN cent c
      ) WHERE crk = 1
    ), assign AS (
      SELECT p.vec_id, e.embedding::DOUBLE[] AS ev, p.cid
      FROM pick p JOIN embeddings e ON e.vec_id = p.vec_id
    ), q AS (
      SELECT vec_id AS query_id, ev AS qv, cid FROM assign WHERE vec_id < 5
    )
    SELECT query_id, neighbor_id, v,
           CAST(round(cosine_sim * 1000000) AS BIGINT) AS qsim_u
    FROM (
      SELECT q.query_id, a.vec_id AS neighbor_id, a.ev AS v,
             round({cos.format(a='q.qv', b='a.ev')}, 6) AS cosine_sim,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY round({cos.format(a='q.qv', b='a.ev')}, 6) DESC,
                        a.vec_id) AS rk1
      FROM assign a JOIN q ON a.cid = q.cid AND a.vec_id <> q.query_id
    ) WHERE rk1 <= 20"""
    return _mmr_oracle(cand_stmts=cand_stmts)


@query(
    "streaming_similarity_mmr",
    oracle=_mmr_ivf_oracle(),
    doc=(
        "Online diversity-aware vector search - the full serving "
        "composition of a retrieval endpoint: arriving query vectors "
        "probe the static packed IVF index exactly like "
        "streaming_similarity_ivf (nprobe=1 cell, packed_topk_expr "
        "k=20, append mode, ZERO stream state), and the MMR greedy "
        "(lam=0.7, integer micro-units) re-ranks each query's "
        "candidate set on the bounded sink output via the SAME "
        "mmr_over_candidates half the batch operator uses - "
        "re-ranking what the INDEX returns, not the exact top-k, "
        "which is how MMR actually deploys at 100 TB (the batch "
        "similarity_topk_mmr docstring's 'LSH/IVF swap in' made "
        "real). Per-query work is bounded (20 candidates) so the "
        "re-rank cost is scale-invariant; the oracle composes the "
        "IVF-cell candidate CTE with the same parameterized greedy "
        "unroll the brute-force oracle uses."
    ),
)
def streaming_similarity_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators import similarity
    from ..sources.streams import embeddings_stream

    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, 8)
    index = similarity.pack_cells(similarity.ivf_assign(emb, cents))

    feed = embeddings_stream(spark, sf_dir).where(F.col("vec_id") < 5)
    probed = similarity.ivf_assign(
        feed.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qvec"),
        ),
        cents,
        id_col="query_id",
        vec_col="__qvec",
    )
    top = similarity.packed_topk_expr(
        F.col("__qvec"), F.col("members"), F.col("query_id"), k=20, round_to=6
    )
    served = (
        probed.join(index, "cell")
        .select("query_id", F.posexplode(top).alias("pos", "hit"))
        .select(
            "query_id",
            F.col("hit.nid").alias("neighbor_id"),
            F.col("hit.sim").alias("cosine_sim"),
        )
    )
    sink = run_available_now(served, output_mode="append").select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cosine_sim") * 1_000_000).cast("long").alias("qsim_u"),
    )
    # the memory-sink view cannot self-join (mmr_over_candidates joins
    # cand against its own pair frame and the analyzer hits conflicting
    # references on MemoryPlan); the sink is BOUNDED by construction
    # (n_queries x 20 candidate ids+scores, the serving response set),
    # so re-materializing it with fresh attributes is a census-sized
    # collect in the house style
    cand = spark.createDataFrame(sink.collect(), sink.schema)
    return similarity.mmr_over_candidates(
        cand, emb, id_col="vec_id", vec_col="embedding", k=5, lam_tenths=7
    )


@query(
    "streaming_drift_chi2",
    twin="drift_chi2_hourly",
    doc=(
        "Distribution-drift monitoring on the LIVE event stream: the "
        "per-(hourly window, event_type) counts run as the single "
        "watermarked streaming aggregation (complete mode, the "
        "repo's contract for bounded-replay window aggs - append "
        "would hold back the final window the watermark never "
        "passes), and the "
        "chi-square reduction against the static global census - the "
        "dashboard-side math - runs on the bounded sink output "
        "(#windows x #types rows, the frame a monitoring UI reads). "
        "Same exact integer micro-unit arithmetic as batch "
        "drift_chi2_hourly, so the streamed result is bit-identical "
        "to the batch twin; absent (window,type) combos still pay "
        "their full expected-count penalty via the windows-x-census "
        "grid."
    ),
)
def streaming_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from .behavior import drift_chi2_frame

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    w = F.window("ts", "1 hour").alias("w")
    counts = run_available_now(
        ev.groupBy(w, F.col("event_type")).agg(F.count(F.lit(1)).alias("o")),
        output_mode="complete",
    )
    static = load_table(spark, sf_dir, "events")
    census = static.groupBy("event_type").agg(F.count(F.lit(1)).alias("g"))
    wins = counts.groupBy("w").agg(F.sum("o").alias("n"))
    return drift_chi2_frame(census, wins, _fresh_ids(counts))


@query(
    "streaming_ivf_index_update",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    )
    SELECT vec_id, CAST(cid AS INT) AS cell, round(sim, 6) AS centroid_sim
    FROM (
      SELECT e.vec_id, c.cid,
             list_dot_product(e.embedding::DOUBLE[], c.cv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid
             ) AS crk
      FROM embeddings e CROSS JOIN cent c
    ) WHERE crk = 1
    ORDER BY vec_id
    """,
    doc=(
        "Streaming IVF index MAINTENANCE - the missing third leg of "
        "the vector-index lifecycle (build: embedding_kmeans / "
        "similarity_ivf_kmeans; serve: streaming_similarity_ivf*): "
        "every newly arriving vector is assigned to its index cell by "
        "ONE per-row expression over the centroid literals (cosine "
        "argmax, ties to the smaller centroid id - exactly the batch "
        "ivf_assign rule) and emitted as an (vec_id, cell) index row, "
        "append mode, zero stream state. In production this feed "
        "appends to the cell-bucketed index files that the packed-"
        "cell serve reads; centroids refresh on the batch cadence."
    ),
)
def streaming_ivf_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators import similarity
    from ..sources.streams import embeddings_stream

    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, 8)
    # scan_guard: per-row centroid dot products are the whole query
    # (round 12; 1.94 -> 0.9 s at sf1)
    feed = embeddings_stream(spark, sf_dir, scan_guard=True)
    assigned = similarity.ivf_assign(feed, cents, sim_col="__sim")
    out = assigned.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round("__sim", 6).alias("centroid_sim"),
    )
    return run_available_now(out, output_mode="append")


@query(
    "streaming_similarity_ivf_nprobe",
    twin="similarity_ivf_nprobe",
    doc=(
        "Multi-probe streaming ANN serve (nprobe=2, the standard IVF "
        "recall knob): each arriving query vector computes its TWO "
        "nearest cells per-row (probe_cells_expr over the centroid "
        "literals), stream-static LEFT joins the packed index once "
        "per probe slot - a FIXED number of joins, so multi-probe "
        "stays stateless: no explode-then-regroup aggregation on the "
        "stream - concatenates the two member arrays (a vector lives "
        "in exactly one cell, so the union never duplicates a "
        "candidate), and ranks the merged candidates in the same "
        "single JVM expression as the nprobe=1 serve. Left joins keep "
        "a query alive when one probed cell is empty. Bit-identical "
        "to batch similarity_ivf_nprobe."
    ),
)
def streaming_similarity_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators import similarity
    from ..sources.streams import embeddings_stream

    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, 8)
    index = similarity.pack_cells(similarity.ivf_assign(emb, cents))

    feed = embeddings_stream(spark, sf_dir).where(F.col("vec_id") < 5)
    cells = similarity.probe_cells_expr(F.col("embedding"), cents, nprobe=2)
    probed = feed.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.element_at(cells, 1).alias("cell1"),
        F.element_at(cells, 2).alias("cell2"),
    )
    i1 = index.select(F.col("cell").alias("cell1"), F.col("members").alias("m1"))
    i2 = index.select(F.col("cell").alias("cell2"), F.col("members").alias("m2"))
    empty = F.array().cast(index.schema["members"].dataType)
    merged = (
        probed.join(i1, "cell1", "left")
        .join(i2, "cell2", "left")
        .select(
            "query_id",
            "__qvec",
            F.concat(
                F.coalesce(F.col("m1"), empty), F.coalesce(F.col("m2"), empty)
            ).alias("members"),
        )
    )
    top = similarity.packed_topk_expr(
        F.col("__qvec"), F.col("members"), F.col("query_id"), k=5, round_to=6
    )
    served = merged.select(
        "query_id", F.posexplode(top).alias("pos", "hit")
    ).select(
        "query_id",
        (F.col("pos") + 1).cast("int").alias("rk"),
        F.col("hit.nid").alias("neighbor_id"),
        F.col("hit.sim").alias("cosine_sim"),
    )
    return run_available_now(served, output_mode="append")


def _minhash_directed_oracle():
    from .datapipe import _minhash_lsh_oracle

    return _minhash_lsh_oracle(
        num_hashes=16,
        bands=4,
        threshold=0.3,
        directed=True,
        names=("doc_new", "doc_idx"),
    )


@query(
    "streaming_dedup_minhash",
    oracle=_minhash_directed_oracle(),
    bench=True,
    doc=(
        "Incremental near-dup detection against a STATIC MinHash-LSH "
        "index - how near-dedup actually runs in front of a 100 "
        "TB/day crawl: the existing corpus is indexed ONCE (batch "
        "minhash_table + lsh_band_table, the same frames "
        "dedup_minhash_lsh builds), then every arriving document "
        "computes its own signature per-row (minhash_signature_expr: "
        "one md5 per shingle folded through an array-state lambda "
        "carrying all 16 running minima - no explode, no streaming "
        "aggregation), explodes into its 4 band buckets, and "
        "stream-static joins the index. Candidates dedup through "
        "dropDuplicates - the persistent pair registry an incremental "
        "deduper must keep anyway - and only candidates pay the exact "
        "Jaccard verify (second stream-static join pulls the index "
        "doc's shingle set). Emits BOTH orientations (feed doc vs "
        "index doc), the directed twin of dedup_minhash_lsh's "
        "undirected pairs; the oracle replays signature, banding, "
        "candidates, and verification bit-for-bit."
    ),
)
def streaming_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators import dedup
    from ..operators.text import shingles
    from ..sources.streams import documents_stream

    static_docs = load_table(spark, sf_dir, "documents")
    # persist both static index frames: a stream-static join re-evaluates
    # the static subplan EVERY microbatch, and the LSH index is an
    # agg+explode over the whole corpus — without the persist the index
    # is rebuilt per batch. (Production keeps these on disk; persist is
    # the in-session equivalent.)
    index = (
        dedup.lsh_band_table(
            dedup.minhash_table(static_docs, "text", "doc_id", 16, 3), 16, 4
        )
        .select(F.col("doc_id").alias("doc_idx"), "band", "bucket")
        .persist()
    )
    index_sets = static_docs.select(
        F.col("doc_id").alias("doc_idx"), shingles("text", 3).alias("sh_idx")
    ).persist()

    # scan_guard: the per-row signature computation (one md5 per
    # shingle x 16 running minima) is the expensive stage — the
    # size-conditional exchange in sources/streams.py spreads it when
    # the staged file is big enough to matter (323 s -> 46 s at the
    # sf10 corpus; see SCALING.md round 12)
    feed = documents_stream(spark, sf_dir, scan_guard=True)
    rows = feed.select(
        F.col("doc_id").alias("doc_new"), shingles("text", 3).alias("sh")
    ).where(F.size("sh") > 0)
    # the signature is STAGED as a column before banding: the band
    # entries reference the signature once per band slice, and without
    # the projection boundary the whole fold (one md5 per shingle x 16
    # running minima) re-evaluates per band — measured 6.16 -> 2.89 s
    # min for the banding stage at sf0.1 (r13 interleaved A/B).
    # CollapseProject keeps the boundary: the alias is non-cheap and
    # multiply-referenced.
    sig = dedup.minhash_signature_expr(F.col("sh"), 16)
    banded = (
        rows.withColumn("__sig", sig)
        .select(
            "doc_new",
            "sh",
            F.explode(
                dedup.lsh_band_entries_expr(F.col("__sig"), 16, 4)
            ).alias("bb"),
        )
        .select("doc_new", "sh", "bb.band", "bb.bucket")
    )

    cand = (
        banded.join(
            index,
            ["band", "bucket"],
        )
        .where(F.col("doc_new") != F.col("doc_idx"))
        .select("doc_new", "doc_idx", "sh")
        .dropDuplicates(["doc_new", "doc_idx"])
    )
    inter = F.size(F.array_intersect("sh", "sh_idx"))
    union = F.size("sh") + F.size("sh_idx") - inter
    jac = inter / union
    verified = (
        cand.join(index_sets, "doc_idx")
        .where(jac >= 0.3)
        .select("doc_new", "doc_idx", F.round(jac, 4).alias("jaccard"))
    )
    return run_available_now(verified, output_mode="append")


@query(
    "streaming_quality_perceptron",
    twin="quality_perceptron",
    doc=(
        "Trained quality classifier SERVING on a live document feed - "
        "the deploy half of the GPT-3/CCNet filtering stage: the "
        "perceptron is trained once on the STATIC corpus (pct_train - "
        "3 full-batch integer epochs, 256-long weight vector + bias "
        "on the driver, the bounded-collect contract), then every "
        "arriving document is scored by ONE per-row JVM expression - "
        "F.aggregate over its token array folding the frozen weight "
        "literal, no explode, no stream aggregation, ZERO stream "
        "state, append mode. Bit-identical to batch "
        "quality_perceptron because training and serving share the "
        "same integer arithmetic. This train-batch/serve-stream split "
        "is exactly how a quality filter runs in front of a 100 "
        "TB/day crawl ingest."
    ),
)
def streaming_quality_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators.dedup import portable_hash60
    from ..sources.streams import documents_stream
    from .corpus import _DSIR_B, pct_train

    w, b = pct_train(load_table(spark, sf_dir, "documents"))
    warr = F.array(*[F.lit(int(v)).cast("long") for v in w])

    feed = documents_stream(spark, sf_dir)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    score = F.aggregate(
        toks,
        F.lit(int(b)).cast("long"),
        lambda acc, t: acc
        + F.element_at(warr, ((portable_hash60(t) % _DSIR_B) + 1).cast("int")),
    )
    scored = feed.select(
        "doc_id",
        "lang",
        score.alias("clf_score"),
        F.when(score > 0, 1).otherwise(0).cast("int").alias("pred_en"),
    )
    return run_available_now(scored, output_mode="append")


@query(
    "streaming_queryable_state",
    oracle="""
    SELECT user_id, count(*) AS cnt,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
                AS DOUBLE) / 10000.0 AS sum_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id ORDER BY user_id
    """,
    doc=(
        "queryable state (Flink SURVEY §2.11, previously a documented "
        "non-goal — now implemented via Spark 4's state data source): "
        "run a checkpointed per-user streaming aggregate, then read "
        "the operator's KEYED STATE back from the checkpoint as a "
        "DataFrame (streaming/state_query.py) — the state itself, not "
        "the sink output, must equal the batch aggregate. Exact "
        "integer cents keep the state comparison bit-stable; each "
        "committed micro-batch is a queryable state version (batchId "
        "option = time travel)."
    ),
)
def streaming_queryable_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..streaming.state_query import read_keyed_state

    ev = events_stream(spark, sf_dir, watermark=None).where(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        (F.col("value").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("cents"),
    )
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("cents_sum")
    )
    ckpt = tempfile.mkdtemp(prefix="queryable_state_ckpt_")
    run_available_now(agg, output_mode="complete", checkpoint_dir=ckpt)
    # the state schema names value fields after the physical agg
    # buffers, not our aliases — introspect the buffer names and
    # rebind BY NAME (a misordered positional rebind can't happen:
    # unknown names raise inside read_keyed_state)
    from ..streaming.state_query import keyed_state_schema

    sch = keyed_state_schema(spark, ckpt)
    cnt_buf = next(n for n, _ in sch["value"] if "count" in n.lower())
    sum_buf = next(n for n, _ in sch["value"] if "sum" in n.lower())
    state = read_keyed_state(
        spark, ckpt, rename={cnt_buf: "cnt", sum_buf: "cents_sum"}
    )
    return state.select(
        "user_id",
        "cnt",
        (F.col("cents_sum").cast("double") / 10000.0).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Group-window SQL front-end, streaming twins (reference TableDemo.scala
# runs its HOP/SESSION group-window SQL on UNBOUNDED tables: :768-800 and
# :853-884). The rewritten text from operators/group_window_sql.py is
# already streaming-legal — window()/session_window() group on a
# streaming temp view — so the twin is just: register the streaming view,
# run the verbatim Flink SQL through the rewriter, drain availableNow.


@query(
    "streaming_group_window_sql",
    oracle="""
    WITH sensor AS (
      SELECT event_type AS id, CAST(ts AS TIMESTAMP) AS t,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events
    ), exp AS (
      SELECT id, vc,
             time_bucket(INTERVAL 5 SECOND, t) - g.k * INTERVAL 5 SECOND AS ws
      FROM sensor CROSS JOIN (VALUES (0), (1)) AS g(k)
    )
    SELECT id,
           strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(ws + INTERVAL 10 SECOND, '%Y-%m-%d %H:%M:%S') AS window_end,
           CAST(SUM(vc) AS BIGINT) AS vc_sum
    FROM exp
    GROUP BY 1, 2, 3
    ORDER BY id, window_start
    """,
    doc=(
        "Flink HOP group-window SQL run VERBATIM over an unbounded table "
        "(reference TableDemo.scala:768-800 streams its sensor HOP query): "
        "the rewriter's output executes directly on a streaming temp view "
        "(readStream -> watermark -> spark.sql -> memory sink); equals "
        "the batch twin group_window_sql_hop and the DuckDB oracle."
    ),
)
def streaming_group_window_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.group_window_sql import group_window_sql

    events_stream(spark, sf_dir, watermark="10 minutes").select(
        F.col("event_type").alias("id"),
        F.col("ts").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    ).createOrReplaceTempView("sensor_unbounded")
    # reference TableDemo.scala:793-798, verbatim (table name aside)
    sdf = group_window_sql(
        spark,
        """select id,
DATE_FORMAT(HOP_START(t,INTERVAL '5' SECOND,INTERVAL '10' SECOND),'yyyy-MM-dd HH:mm:ss') as window_start,
DATE_FORMAT(HOP_END(t,INTERVAL '5' SECOND,INTERVAL '10' SECOND),'yyyy-MM-dd HH:mm:ss') as window_end,
SUM(vc) as vc_sum
from sensor_unbounded
group by id,HOP(t,INTERVAL '5' SECOND,INTERVAL '10' SECOND)
""",
    )
    result = run_available_now(sdf, output_mode="complete")
    return result.orderBy("id", "window_start")


@query(
    "streaming_group_window_sql_session",
    oracle="""
    WITH sensor AS (
      SELECT event_type AS id, CAST(ts AS TIMESTAMP) AS t,
             CAST(round(value * 100) AS BIGINT) AS vc,
             event_id AS eid
      FROM events
    ), marked AS (
      -- both window passes MUST share one deterministic total order:
      -- with tied timestamps (common at 10x density) an ORDER BY t
      -- alone lets LAG and the running SUM break ties differently and
      -- garble session labels (caught by the sf1 sweep); the tiebreak
      -- does not change session CONTENT (tied rows merge either way,
      -- delta 0 <= gap)
      SELECT id, t, vc,
             CASE WHEN t - LAG(t) OVER (PARTITION BY id ORDER BY t, eid)
                       <= INTERVAL 3 SECOND
                  THEN 0 ELSE 1 END AS new_s,
             eid
      FROM sensor
    ), gs AS (
      SELECT *, SUM(new_s) OVER (
        PARTITION BY id ORDER BY t, eid ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT id,
           strftime(MIN(t), '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(MAX(t) + INTERVAL 3 SECOND, '%Y-%m-%d %H:%M:%S') AS window_end,
           CAST(SUM(vc) AS BIGINT) AS vc_sum
    FROM gs
    GROUP BY id, sid
    ORDER BY id, window_start
    """,
    doc=(
        "Flink SESSION group-window SQL run VERBATIM over an unbounded "
        "table (reference TableDemo.scala:853-884 streams its sensor "
        "SESSION query): session_window() state-merged sessions on a "
        "streaming temp view; equals the batch twin "
        "group_window_sql_session and the DuckDB oracle."
    ),
)
def streaming_group_window_sql_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.group_window_sql import group_window_sql

    events_stream(spark, sf_dir, watermark="10 minutes").select(
        F.col("event_type").alias("id"),
        F.col("ts").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    ).createOrReplaceTempView("sensor_unbounded_sess")
    # reference TableDemo.scala:878-883, verbatim (table name aside)
    sdf = group_window_sql(
        spark,
        """select id,
DATE_FORMAT(SESSION_START(t,INTERVAL '3' SECOND),'yyyy-MM-dd HH:mm:ss') as window_start,
DATE_FORMAT(SESSION_END(t,INTERVAL '3' SECOND),'yyyy-MM-dd HH:mm:ss') as window_end,
SUM(vc) as vc_sum
from sensor_unbounded_sess
group by id,SESSION(t,INTERVAL '3' SECOND)
""",
    )
    result = run_available_now(sdf, output_mode="complete")
    return result.orderBy("id", "window_start")


@query(
    "streaming_session_dynamic",
    twin="window_session_dynamic",
    doc=(
        "STREAMING dynamic-gap session window (reference Window.scala:157 "
        "SessionWindowTimeGapExtractor runs on an unbounded stream): "
        "session_window(ts, CASE WHEN ...) over readStream + watermark — "
        "per-event gaps merge in state exactly as in batch; equals the "
        "batch twin window_session_dynamic and the running-max-end oracle."
    ),
)
def streaming_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .temporal import dynamic_session_gap

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    agg = session_agg(ev, dynamic_session_gap())
    result = run_available_now(agg, output_mode="complete")
    return result.orderBy("user_id", "session_start")


def _qcut_serve_oracle() -> str:
    # same CTE text as quality_stratified_cut (one copy in datapipe),
    # extended with the boundary-threshold serve semantics
    from .datapipe import _QCUT_CTES

    return _QCUT_CTES + """
    , t AS (
      SELECT lang, source, quality_bp AS thr
      FROM r WHERE rn = (4 * n_stratum + 9) // 10
    )
    SELECT q.doc_id, q.lang, q.source, q.quality_bp
    FROM q JOIN t USING (lang, source)
    WHERE q.quality_bp >= t.thr
    ORDER BY q.doc_id
    """


@query(
    "streaming_quality_cut",
    oracle=_qcut_serve_oracle(),
    doc=(
        "per-stratum quality threshold SERVING on a live document feed "
        "- the deploy half of quality_stratified_cut, the same "
        "train-batch/serve-stream split as streaming_quality_"
        "perceptron: the boundary quality_bp of each (lang, source) "
        "stratum (the value at rank ceil(0.4n)) is computed ONCE on "
        "the static corpus, then every arriving document is scored by "
        "the shared integer heuristic and stream-static broadcast-"
        "joined against the threshold table (strata count is bounded "
        "by langs x sources - always broadcastable). Serving keeps "
        "quality_bp >= threshold, so boundary TIES are admitted - the "
        "honest online semantics (a rank cut needs the whole stratum; "
        "a threshold does not) - and the oracle encodes exactly that. "
        "ZERO stream state, append mode; the threshold frame is "
        "persisted so the stream-static join does not rebuild the "
        "rank windows every micro-batch."
    ),
)
def streaming_quality_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..sources.streams import documents_stream
    from .datapipe import quality_bp_frame, stratum_quality_thresholds

    static = load_table(spark, sf_dir, "documents")
    thresholds = stratum_quality_thresholds(static).persist()

    feed = documents_stream(spark, sf_dir)
    q_feed = quality_bp_frame(feed, keep=("source",))
    kept = (
        q_feed.join(F.broadcast(thresholds), ["lang", "source"])
        .where(F.col("quality_bp") >= F.col("thr"))
        .select("doc_id", "lang", "source", "quality_bp")
    )
    return run_available_now(kept, output_mode="append")


@query(
    "streaming_vad_segments",
    twin="multimodal_vad_segments",
    doc=(
        "voice-activity segmentation on a LIVE clip feed - the "
        "streaming form of multimodal_vad_segments: each arriving "
        "payload is decoded and segmented ENTIRELY inside its Arrow "
        "batch (`wav_vad_segments_local`: per-frame int64 energies, "
        "mean-square threshold, consecutive-active merge on the "
        "clip's own samples), because a clip is self-contained - no "
        "window function (illegal on streams), no stream state, "
        "append mode. Segments are bit-identical to the batch "
        "gaps-and-islands plan and share its oracle; this is how "
        "audio preprocessing actually rides an ingest: per-file "
        "parallel, nothing crosses file boundaries."
    ),
)
def streaming_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal
    from ..sources.streams import documents_stream

    feed = documents_stream(spark, sf_dir).select("doc_id")
    clips = multimodal.synthesize_wav_clips(feed, "doc_id")
    segs = multimodal.wav_vad_segments_local(clips, "doc_id", "audio", frame=160)
    return run_available_now(segs, output_mode="append")


@query(
    "streaming_shot_boundaries",
    twin="multimodal_shot_boundaries",
    doc=(
        "shot-boundary detection on a LIVE clip feed - the streaming "
        "form of multimodal_shot_boundaries, and already streaming-"
        "legal as-is: `y4m_frame_sad` is one mapInPandas decode "
        "emitting per-transition exact SADs and the boundary cut is a "
        "plain filter - no window, no stream state, append mode; "
        "shares the batch oracle."
    ),
)
def streaming_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal
    from ..sources.streams import documents_stream

    feed = documents_stream(spark, sf_dir).select("doc_id")
    clips = multimodal.synthesize_y4m_clips(feed, "doc_id")
    sads = multimodal.y4m_frame_sad(clips, "doc_id", "video")
    return run_available_now(sads.where(F.col("sad") > 1500), output_mode="append")


def _waterfill_serve_oracle() -> str:
    from .corpus import _WATERFILL_CTES

    return _WATERFILL_CTES + """
    , r AS (
      SELECT s.lang,
             CAST(least(s.toks, c.cap) * 10000 // s.toks AS BIGINT)
               AS keep_rate_bp
      FROM s CROSS JOIN cap c
    )
    SELECT d.doc_id, d.lang, r.keep_rate_bp
    FROM documents d JOIN r USING (lang)
    WHERE (((d.doc_id % 1000003) * 2654435761 + 12345) % 1000000007)
            % 10000 < r.keep_rate_bp
    ORDER BY d.doc_id
    """


@query(
    "streaming_mix_waterfill",
    oracle=_waterfill_serve_oracle(),
    doc=(
        "token-budget waterfilling SERVED on a live document feed - "
        "the deploy half of mix_waterfill_budget and the completion "
        "of the mixing family's train-batch/serve-stream split "
        "(streaming_mix_temperature's pattern): the per-domain keep "
        "rates (basis points from the exact integer water level) are "
        "computed once on the static corpus, persisted, and broadcast "
        "onto the arriving documents; each doc keeps iff its shared "
        "multiplicative-hash bucket (mod 1e4) falls under its "
        "domain's rate - the same deterministic acceptance rule as "
        "sample_stratified, zero stream state, append mode. At 100 TB "
        "the rate table is #domains rows - always broadcastable."
    ),
)
def streaming_mix_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators import text as _text
    from ..sources.streams import documents_stream
    from .corpus import waterfill_rates

    static = _text.fan_out(load_table(spark, sf_dir, "documents"))
    rates = waterfill_rates(static).select("lang", "keep_rate_bp").persist()

    feed = documents_stream(spark, sf_dir)
    bucket = (
        ((F.col("doc_id") % 1000003) * 2654435761 + 12345) % 1000000007
    ) % 10000
    return run_available_now(
        feed.join(F.broadcast(rates), "lang")
        .where(bucket < F.col("keep_rate_bp"))
        .select("doc_id", "lang", "keep_rate_bp"),
        output_mode="append",
    )


@query(
    "streaming_rate_spikes",
    twin="events_rate_spikes",
    doc=(
        "ingest rate-spike detection on the LIVE feed - the streaming "
        "twin of events_rate_spikes, built like streaming_drift_chi2: "
        "ONE watermarked hourly window aggregation per event type "
        "(complete mode - the bounded (type x hour) census), then the "
        "trailing-24-observed-hours integer cross-multiplication runs "
        "on the sink output, which is census-sized regardless of "
        "event volume. Shares the batch oracle; the compare is pure "
        "integer so batch and stream agree bit-for-bit."
    ),
)
def streaming_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import rate_spikes_frame

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    w = F.window("ts", "1 hour").alias("w")
    counts = run_available_now(
        ev.groupBy("event_type", w).agg(F.count(F.lit(1)).alias("cnt")),
        output_mode="complete",
    )
    return rate_spikes_frame(
        counts.select("event_type", F.col("w.start").alias("window_start"), "cnt")
    )


@query(
    "streaming_funnel_conversion",
    twin="funnel_conversion",
    doc=(
        "funnel conversion (view -> click -> purchase) on the LIVE "
        "event stream - the streaming twin of funnel_conversion "
        "(round-8 verdict: the reference treats behavior analytics as "
        "continuous streams). The per-user event accumulation is the "
        "single incremental streaming aggregation (complete mode, "
        "collect_list state keyed by user - the engine's per-key "
        "state store), and the ordered funnel fold + cumulative-stage "
        "census run on the bounded sink output: array_sort makes the "
        "fold ts/event_id-ordered regardless of micro-batch arrival "
        "order, so the result is bit-identical to the batch twin and "
        "shares its oracle. Per-user state is one user's events - in "
        "production bound it with a per-funnel time window (the "
        "standard funnel-scope knob), exactly as the batch twin "
        "documents."
    ),
)
def streaming_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import funnel_reach, funnel_step

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    per_user = _per_user_events(
        ev, F.col("ts"), F.col("event_id").alias("eid"), funnel_step().alias("si")
    )
    return funnel_reach(
        per_user.select("user_id", F.array_sort("evts").alias("evts"))
    )


@query(
    "streaming_browse_transitions",
    twin="browse_transition_topk",
    doc=(
        "browse-graph Markov transitions (top-3 next pages) on the "
        "LIVE stream - streaming twin of browse_transition_topk. The "
        "per-user journey accumulates as the single incremental "
        "streaming aggregation (complete-mode collect_list keyed by "
        "user); the sink output then sorts each journey by (ts, "
        "event_id), zips consecutive visits into (src, dst) hops "
        "WITHOUT a window function (arrays_zip of the two shifted "
        "slices - per-row array math, no second user shuffle), and "
        "the edge census / outdegree / integer-basis-point top-3 cut "
        "is the same bounded dashboard math as batch, so stream and "
        "batch agree bit-for-bit on the shared oracle."
    ),
)
def streaming_browse_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import transition_topk_frame

    return transition_topk_frame(_page_hops(spark, sf_dir))


@query(
    "streaming_user_event_diversity",
    twin="user_event_diversity",
    doc=(
        "per-user Gini-Simpson behavioral diversity on the LIVE "
        "stream - streaming twin of user_event_diversity. The "
        "(user, event_type) count census runs as the single "
        "incremental watermarked streaming aggregation (complete "
        "mode - the census is key-bounded at any event volume, the "
        "ideal streaming-state shape), and the exact integer "
        "basis-point reduction (10000 - sum(cnt^2)*1e4 DIV n^2) runs "
        "on the census-sized sink output. Shares the batch oracle; "
        "pure integer arithmetic, so batch and stream agree "
        "bit-for-bit."
    ),
)
def streaming_user_event_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import event_diversity_frame, event_type_counts

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    counts = run_available_now(event_type_counts(ev), output_mode="complete")
    return event_diversity_frame(counts)


@query(
    "streaming_gopher_rules",
    twin="quality_gopher_rules",
    doc=(
        "Gopher quality rules on the LIVE document feed - the "
        "streaming twin of quality_gopher_rules and the shape of a "
        "real crawl-ingest filter (rules run AS documents arrive, "
        "junk never reaches storage). Pure stateless per-row math, so "
        "the stream runs in append mode with no state store at all - "
        "the cheapest possible streaming operator - and shares the "
        "batch oracle bit-for-bit (all-integer rule arithmetic)."
    ),
)
def streaming_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import documents_stream
    from .corpus import gopher_rules_frame

    docs = documents_stream(spark, sf_dir)
    return run_available_now(gopher_rules_frame(docs), output_mode="append")


@query(
    "streaming_browse_triangles",
    twin="browse_triangle_count",
    doc=(
        "browse-graph triangle census on the LIVE stream - streaming "
        "twin of browse_triangle_count: per-user journeys accumulate "
        "as the single incremental complete-mode collect_list "
        "aggregation (the streaming_browse_transitions state shape), "
        "the sink output zips consecutive visits into undirected "
        "distinct edges, and the wedge/closure joins + node/edge "
        "censuses run on the PAGE-PAIR census (catalog-bounded, never "
        "event-sized). Shares the batch oracle - pure integer counts, "
        "bit-identical."
    ),
)
def streaming_browse_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import triangle_census_frame

    return triangle_census_frame(_page_hops(spark, sf_dir))


@query(
    "streaming_mad_outliers",
    twin="events_hourly_mad_outliers",
    doc=(
        "hourly MAD anomaly flags on the LIVE stream - streaming twin "
        "of events_hourly_mad_outliers, built like "
        "streaming_rate_spikes: the hour census runs as the single "
        "watermarked complete-mode window aggregation, then the exact "
        "integer 2x-median / 4x-MAD order-statistic math runs on the "
        "census-sized sink output (with the same 1-row broadcasts as "
        "batch). Shares the batch oracle; all-integer arithmetic, "
        "bit-identical."
    ),
)
def streaming_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import mad_outliers_frame

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    w = F.window("ts", "1 hour").alias("w")
    counts = run_available_now(
        ev.groupBy(w).agg(F.count(F.lit(1)).cast("long").alias("cnt")),
        output_mode="complete",
    ).select(F.col("w.start").alias("window_start"), "cnt").persist()
    return mad_outliers_frame(counts)


@query(
    "streaming_oov_rate",
    twin="text_oov_rate",
    doc=(
        "OOV-rate serve on the LIVE document feed with a FROZEN "
        "vocabulary - the deploy shape of text_oov_rate (train the "
        "vocab on the existing corpus once, score arriving docs "
        "against it): the top-16 vocabulary derives from the static "
        "corpus census and lands in a 16-row bounded collect (the "
        "waterfill/DSIR frozen-literal serve pattern), then every "
        "arriving document scores as PURE row math - array_contains "
        "against the vocabulary literal, no join, no state, append "
        "mode. Shares the batch oracle (the replayed feed IS the "
        "training corpus, so frozen-vocab scores equal the batch "
        "self-scores bit-for-bit)."
    ),
)
def streaming_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators import text
    from ..sources.streams import documents_stream

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.transform(text.tokens("text"), lambda t: F.lower(t))
        ).alias("tk")
    )
    census = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("freq"))
    # 16-row bounded collect: the frozen vocabulary ships as a literal
    vocab = [
        r.tk
        for r in census.orderBy(F.desc("freq"), F.asc("tk")).limit(16).collect()
    ]
    vocab_arr = F.array(*[F.lit(t) for t in sorted(vocab)])

    feed = documents_stream(spark, sf_dir)
    scored = feed.select(
        "doc_id",
        text.bind(
            F.transform(text.tokens("text"), lambda t: F.lower(t)),
            lambda toks: F.struct(
                F.size(toks).cast("long").alias("n_tokens"),
                F.size(
                    F.filter(toks, lambda t: ~F.array_contains(vocab_arr, t))
                ).cast("long").alias("n_oov"),
            ),
        ).alias("m"),
    ).select(
        "doc_id",
        F.col("m.n_tokens").alias("n_tokens"),
        F.col("m.n_oov").alias("n_oov"),
        F.expr("m.n_oov * 10000 DIV m.n_tokens").alias("oov_bp"),
    )
    return run_available_now(scored, output_mode="append")


@query(
    "streaming_session_pairs",
    twin="session_page_pairs_topk",
    doc=(
        "in-session page co-occurrence on the LIVE stream - streaming "
        "twin of session_page_pairs_topk: per-user journeys accumulate "
        "as the single complete-mode collect_list aggregation (the "
        "behavioral-twin state shape), then the sink output replays "
        "the lag-gap sessionization, in-flight pair expansion, and "
        "census top-15 - the same bounded dashboard math as batch, on "
        "the bounded replay output. Shares the batch oracle "
        "bit-for-bit (pure integer counts, full tie-break)."
    ),
)
def streaming_session_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import page_pairs_topk_frame

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    page = F.get_json_object("props", "$.k").cast("int")
    per_user = _per_user_events(
        ev, F.col("ts"), F.col("event_id").alias("eid"), page.alias("page")
    )
    rows = per_user.select(
        "user_id", F.explode("evts").alias("e")
    ).select("user_id", "e.ts", F.col("e.eid").alias("event_id"), "e.page")
    return page_pairs_topk_frame(rows, F.col("page"))


@query(
    "streaming_source_gini",
    twin="corpus_source_gini",
    doc=(
        "corpus balance (Gini) on the LIVE document feed - streaming "
        "twin of corpus_source_gini, the ingest-side mixing monitor: "
        "per-source token totals run as the single incremental "
        "complete-mode streaming aggregation (source-keyed census "
        "state - bounded by #sources at any volume, the ideal "
        "streaming-state shape), and the exact integer order-"
        "statistic Gini reduces the census-sized sink output. Shares "
        "the batch oracle; all-integer, bit-identical."
    ),
)
def streaming_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import documents_stream
    from .corpus import source_gini_frame, source_token_counts

    feed = documents_stream(spark, sf_dir)
    census = run_available_now(source_token_counts(feed), output_mode="complete")
    return source_gini_frame(census)


@query(
    "streaming_label_drift",
    twin="embedding_label_drift",
    doc=(
        "per-label embedding centroid drift on the LIVE vector feed - "
        "streaming twin of embedding_label_drift (the online "
        "representation-health monitor): the (label, dim) DECIMAL "
        "sums and counts run as the single incremental complete-mode "
        "streaming aggregation (census state = #labels x dim rows, "
        "volume-free), then centroid assembly, the derived global "
        "centroid, and the fold-exact cosine reduce the sink output. "
        "The global centroid derives from the label census "
        "(sum-of-sums at DECIMAL precision = the direct global sum, "
        "exactly - decimal addition is associative), so the stream "
        "shares the batch oracle bit-for-bit."
    ),
)
def streaming_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import embeddings_stream
    from .datapipe import label_drift_frame

    # scan_guard: the 64-way posexplode + decimal cast runs map-side
    # BEFORE the partial agg - spread it (round 12)
    feed = embeddings_stream(spark, sf_dir, scan_guard=True)
    x = feed.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    census = run_available_now(
        x.groupBy("label", "pos").agg(
            F.sum(F.col("val").cast("decimal(28,12)")).alias("sv"),
            F.count(F.lit(1)).alias("c"),
        ),
        output_mode="complete",
    ).persist()
    lc = census.select(
        "label", "pos", (F.col("sv").cast("double") / F.col("c")).alias("mv")
    )
    gc = census.groupBy("pos").agg(
        (F.sum("sv").cast("double") / F.sum("c")).alias("mv")
    )
    n = census.where(F.col("pos") == 0).select(
        "label", F.col("c").cast("long").alias("n_vecs")
    )
    return label_drift_frame(lc, gc, _fresh_ids(n))


@query(
    "streaming_retention_cohort",
    twin="retention_weekly_cohort",
    doc=(
        "weekly cohort retention on the LIVE stream - streaming twin "
        "of retention_weekly_cohort: per user, the first-activity "
        "week (min) and the distinct active-week set accumulate as "
        "the single incremental complete-mode aggregation (per-user "
        "state is a handful of week timestamps - horizon-bounded), "
        "then the sink output explodes each user's weeks into "
        "(cohort, offset) cells and counts users per cell: the weeks "
        "are already deduped per user, so a plain count equals the "
        "batch COUNT(DISTINCT user_id) exactly. Shares the batch "
        "oracle; pure integer counts."
    ),
)
def streaming_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    per_user = run_available_now(
        ev.select("user_id", "ts")
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.collect_set(F.date_trunc("week", F.col("ts"))).alias("weeks"),
        ),
        output_mode="complete",
    )
    return (
        per_user.select(
            F.date_trunc("week", F.col("first_ts")).alias("cohort_week"),
            F.explode("weeks").alias("wk"),
        )
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.col("wk"), F.col("cohort_week")) / 7
            ).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "streaming_dau_wau_mau",
    twin="events_dau_wau_mau",
    doc=(
        "DAU/WAU/MAU on the LIVE stream - streaming twin of "
        "events_dau_wau_mau: the (day, user) distinct census runs as "
        "the single incremental complete-mode streaming aggregation "
        "(users-x-days keyed state, volume-free - the ideal "
        "streaming-state shape), and the trailing-window explode + "
        "distinct counts reduce the census-sized sink output exactly "
        "as batch. Shares the batch oracle; pure integer counts."
    ),
)
def streaming_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import dau_wau_mau_frame

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    du = run_available_now(
        ev.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
        )
        .groupBy("d", "user_id")
        .agg(F.count(F.lit(1)).alias("__n")),
        output_mode="complete",
    ).select("d", "user_id").persist()
    return dau_wau_mau_frame(du)


@query(
    "streaming_window_cumulate",
    twin="window_cumulate",
    doc=(
        "CUMULATE windows on the LIVE stream - the construct's native "
        "habitat (Flink ships cumulate precisely for early-firing "
        "dashboards: 'today so far, updated hourly'): the integer "
        "explode assigns each arriving event to every cumulate window "
        "that ends after it (stateless row math), and the (span, end, "
        "type) count runs as the single watermarked complete-mode "
        "streaming aggregation - window-census state, constant "
        "explode fan-out. Shares the batch oracle; pure integer "
        "epoch-second bounds."
    ),
)
def streaming_window_cumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    return run_available_now(cumulate_counts(ev), output_mode="complete")


@query(
    "streaming_value_quantiles",
    twin="events_value_quantiles_by_type",
    doc=(
        "exact per-type value quantiles on the LIVE stream - "
        "streaming twin of events_value_quantiles_by_type: the "
        "(type, cents) value census runs as the single incremental "
        "complete-mode streaming aggregation (value-domain-bounded "
        "state - the census shape that makes EXACT streaming "
        "quantiles possible where sort-based percentiles are not), "
        "and the cumulate + conditional-aggregate quantile cut "
        "reduces the census-sized sink output. Shares the batch "
        "oracle; pure integer order statistics."
    ),
)
def streaming_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import value_cent_counts, value_quantiles_frame

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    c = run_available_now(value_cent_counts(ev), output_mode="complete")
    return value_quantiles_frame(c)


def _lang_census_oracle():
    from ..operators import langid

    return f"""
    WITH {langid.oracle_scored_cte(keep_cols="doc_id")}
    SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM __lid_scored
    GROUP BY pred_lang
    ORDER BY pred_lang
    """


@query(
    "streaming_lang_id_census",
    oracle=_lang_census_oracle(),
    doc=(
        "language-ID census on the LIVE document feed - streaming "
        "twin of lang_id_ngram reduced to the per-language census a "
        "crawl-ingest dashboard watches: the integer n-gram scorer "
        "runs as stateless per-row expressions on arriving documents "
        "(fused into the stream scan - no state), and the only state "
        "is the pred_lang census of the complete-mode count "
        "(bounded: |languages|+1 rows). Oracle derives the same "
        "labels and census in DuckDB."
    ),
)
def streaming_lang_id_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import langid
    from ..sources.streams import documents_stream

    feed = documents_stream(spark, sf_dir)
    labeled = langid.with_lang_scores(feed.select("doc_id", "text"))
    return run_available_now(
        labeled.groupBy("pred_lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        ),
        output_mode="complete",
    )


@query(
    "streaming_dau_wau_mau_hll",
    oracle=None,  # sketch estimates are engine-specific; pinned by
    # tests/test_round10.py (exact equality vs the batch HLL twin -
    # HLL register merge is order-insensitive - plus the shared
    # 5*rsd bound against the exact triple)
    doc=(
        "sketch-tier DAU/WAU/MAU on the LIVE stream - streaming twin "
        "of events_dau_wau_mau_hll and the true 100 TB/day dashboard "
        "shape: the per-day HLL runs as the single incremental "
        "complete-mode streaming aggregation, so keyed state is "
        "#days x ~KB sketches (vs the exact twin's users-x-days "
        "census rows - the state collapse is the whole point of the "
        "sketch tier), and the trailing 7/30-day hll_union_agg "
        "merges reduce the day-sketch sink output. Estimates equal "
        "the batch HLL twin exactly (register max-merge is order- "
        "and partitioning-insensitive)."
    ),
)
def streaming_dau_wau_mau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    day_sk = run_available_now(
        ev.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
        )
        .groupBy("d")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")),
        output_mode="complete",
    ).persist()
    dau = day_sk.select(
        "d", F.hll_sketch_estimate("sk").cast("long").alias("dau")
    )

    def trailing(n: int, alias: str) -> DataFrame:
        return (
            day_sk.select(
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("delta"),
                "d",
                "sk",
            )
            .select(F.date_add(F.col("d"), F.col("delta")).alias("d"), "sk")
            .groupBy("d")
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("sk"))
                .cast("long")
                .alias(alias)
            )
        )

    return (
        dau.join(trailing(7, "wau"), "d")
        .join(trailing(30, "mau"), "d")
        .select(F.col("d").cast("timestamp").alias("day"), "dau", "wau", "mau")
    )


@query(
    "streaming_repetition_rules",
    twin="quality_repetition_rules",
    doc=(
        "Gopher repetition rules on the LIVE document feed - "
        "streaming twin of quality_repetition_rules, and the shape a "
        "crawl-ingest filter actually wants: every repetition "
        "statistic is computed INSIDE the arriving row by JVM "
        "higher-order array folds (corpus.repetition_rules_stateless "
        "- O(distinct-grams x n) per row in codegen, right for "
        "policy-bounded doc lengths), so the stream is append-mode "
        "with ZERO state - no watermark, no store, nothing to "
        "checkpoint. Shares the batch oracle bit-for-bit: only gram "
        "COUNTS feed the fractions, so the fold and the batch "
        "(doc_id, gram) shuffle agree exactly."
    ),
)
def streaming_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import documents_stream
    from .corpus import repetition_rules_stateless

    feed = documents_stream(spark, sf_dir)
    return run_available_now(
        repetition_rules_stateless(feed.select("doc_id", "text")),
        output_mode="append",
    )


@query(
    "streaming_decayed_popularity",
    twin="events_decayed_popularity",
    doc=(
        "exponential-decay trending pages on the LIVE stream - "
        "streaming twin of events_decayed_popularity (the dashboard "
        "this ranking actually serves is continuously updated): the "
        "(day, page) count census runs as the single incremental "
        "complete-mode streaming aggregation (days x pages keyed "
        "state - bounded by the catalog, volume-free), then the "
        "horizon anchor, power-of-two weights and DECIMAL fold "
        "reduce the census-sized sink output exactly as batch. "
        "Shares the batch oracle; exact integer weights, so the "
        "stream and batch rankings can never diverge by float "
        "drift."
    ),
)
def streaming_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import day_page_counts, decayed_popularity_frame

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    census = run_available_now(day_page_counts(ev), output_mode="complete").persist()
    return decayed_popularity_frame(census)


@query(
    "streaming_chunk_cdc",
    twin="chunk_cdc",
    doc=(
        "content-defined chunking on the LIVE document feed - how CDC "
        "actually runs in an incremental-crawl ingest (each arriving "
        "doc chunks itself; boundaries depend only on local content, "
        "so a doc's chunks never depend on arrival order or on any "
        "other doc): the chunker is the shared stateless array "
        "program (corpus.cdc_chunk_frame) riding append mode with "
        "ZERO stream state, and the corpus-frequency census + join "
        "back run on the sink output exactly as batch (at 100 TB "
        "that census is the same inverted-index shuffle either way "
        "- the streaming side only changes WHEN chunks are "
        "produced, not what they cost). Shares the batch oracle "
        "bit-for-bit."
    ),
)
def streaming_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import documents_stream
    from .corpus import cdc_chunk_frame, chunk_freq_frame

    # scan_guard: the per-row CDC rolling hash is the expensive stage
    # (round 12, same rationale as streaming_dedup_minhash)
    feed = documents_stream(spark, sf_dir, scan_guard=True)
    per_chunk = run_available_now(cdc_chunk_frame(feed), output_mode="append")
    return chunk_freq_frame(_fresh_ids(per_chunk.persist()))


@query(
    "streaming_vocab_coverage",
    twin="text_vocab_coverage",
    doc=(
        "vocabulary coverage curve on the LIVE document feed - the "
        "tokenizer-design dashboard updated as the crawl ingests: "
        "the token census runs as the single incremental "
        "complete-mode streaming aggregation (vocabulary-sized "
        "keyed state, Heaps-bounded - volume-free), then the rank, "
        "constant array fan-out and 1-row total reduce the "
        "census-sized sink output exactly as batch. Shares the "
        "batch oracle; pure integer counts."
    ),
)
def streaming_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import documents_stream
    from .datapipe import vocab_coverage_frame, word_counts

    feed = documents_stream(spark, sf_dir)
    census = run_available_now(word_counts(feed), output_mode="complete")
    return vocab_coverage_frame(census.persist())


@query(
    "streaming_interarrival_bots",
    twin="user_interarrival_bots",
    doc=(
        "burstiness bot screen on the LIVE stream - the signal is "
        "only useful while the traffic is arriving: per-user event "
        "journeys accumulate as the single complete-mode incremental "
        "aggregation (collect_list keyed state, the funnel/session "
        "twins' journey shape), and the gap math runs on the "
        "census-sized sink output with array_sort making the fold "
        "arrival-order-independent - the sorted (ts_ms, event_id) "
        "walk reproduces the batch lag window exactly. Shares the "
        "batch oracle; exact integer milliseconds."
    ),
)
def streaming_interarrival_bots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import interarrival_bots_frame

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    per_user = _per_user_events(
        ev, F.unix_millis("ts").alias("ts_ms"), F.col("event_id").alias("eid")
    )
    ts_sorted = F.transform(F.array_sort("evts"), lambda s: s["ts_ms"])
    gaps = F.zip_with(
        F.slice(ts_sorted, 2, F.greatest(F.size(ts_sorted) - 1, F.lit(1))),
        F.slice(ts_sorted, 1, F.greatest(F.size(ts_sorted) - 1, F.lit(1))),
        lambda a, b: a - b,
    )
    s = per_user.select(
        "user_id",
        F.when(F.size("evts") > 1, F.size("evts") - 1)
        .otherwise(0)
        .cast("long")
        .alias("n_gaps"),
        F.when(
            F.size("evts") > 1,
            F.size(F.filter(gaps, lambda g: g < 60000)),
        )
        .otherwise(0)
        .cast("long")
        .alias("burst_gaps"),
    )
    return interarrival_bots_frame(s)


@query(
    "streaming_chunk_savings",
    twin="dedup_chunk_level",
    doc=(
        "chunk-level dedup savings on the LIVE crawl - the "
        "content-addressed-store dashboard number updated as "
        "documents arrive: the stateless CDC chunker feeds the "
        "chunk-hash census as the single incremental complete-mode "
        "streaming aggregation (state = unique chunks, which is "
        "exactly the store's own key space), and the 1-row savings "
        "reduce runs on the census-sized sink output. Shares "
        "dedup_chunk_level's batch oracle; exact integer bp."
    ),
)
def streaming_chunk_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.streams import documents_stream
    from .corpus import chunk_census, chunk_savings_frame

    # scan_guard (round 12): see streaming_chunk_cdc
    feed = documents_stream(spark, sf_dir, scan_guard=True)
    census = run_available_now(chunk_census(feed), output_mode="complete")
    return chunk_savings_frame(census)


@query(
    "streaming_attribution",
    twin="attribution_last_touch",
    doc=(
        "last-touch attribution on the LIVE stream - the growth "
        "dashboard this query feeds is watched in real time: "
        "per-user event journeys accumulate as the single "
        "complete-mode incremental aggregation (collect_list keyed "
        "state, the funnel twins' shape), and the attribution walk "
        "runs on the census-sized sink output as one array fold "
        "over the (ts_ms, event_id)-sorted journey - the carry is "
        "the batch twin's packed BIGINT, and the 24 h window "
        "compare is kept in multiples of 1000 (carry >= "
        "(ts-86400000)*1000) so the fold never divides - exact "
        "integer arithmetic end to end, bit-equal to the batch "
        "window-function formulation. Shares the batch oracle."
    ),
)
def streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    page = F.get_json_object("props", "$.k").cast("int")
    per_user = _per_user_events(
        ev,
        F.unix_millis("ts").alias("ts_ms"),
        F.col("event_id").alias("eid"),
        (F.col("event_type") == "click").cast("int").alias("is_click"),
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
        page.alias("page"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    hit_t = "array<struct<page:int,cents:bigint>>"
    fold = F.aggregate(
        F.array_sort("evts"),
        F.struct(
            F.lit(None).cast("long").alias("carry"),
            F.expr(f"CAST(array() AS {hit_t})").alias("hits"),
        ),
        lambda acc, e: F.struct(
            # page BETWEEN 0 AND 999: the pack reserves 3 decimal
            # digits — same encoding guard as the batch twin
            # (round-11 ADVICE)
            F.when(
                (e["is_click"] == 1) & e["page"].between(0, 999),
                e["ts_ms"] * 1000 + e["page"],
            )
            .otherwise(acc["carry"])
            .alias("carry"),
            F.when(
                (e["is_purchase"] == 1)
                & acc["carry"].isNotNull()
                & (acc["carry"] >= (e["ts_ms"] - 86400000) * 1000),
                F.concat(
                    acc["hits"],
                    F.array(
                        F.struct(
                            (acc["carry"] % 1000).cast("int").alias("page"),
                            e["cents"].alias("cents"),
                        )
                    ),
                ),
            )
            .otherwise(acc["hits"])
            .alias("hits"),
        ),
    )
    return (
        per_user.select(F.explode(fold["hits"]).alias("h"))
        .select("h.page", "h.cents")
        .groupBy("page")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_attributed"),
            F.sum("cents").cast("long").alias("attributed_cents"),
        )
    )


@query(
    "streaming_session_duration",
    twin="session_duration_quantiles",
    doc=(
        "session-duration quantiles on the LIVE stream - the "
        "engagement dashboard's continuous form: per-user journeys "
        "accumulate as the single complete-mode incremental "
        "aggregation (collect_list keyed state), then the sink "
        "output replays the batch twin's exact pipeline - lag-gap "
        "sessionize in integer milliseconds, per-session duration "
        "reduce, census-and-cumulate exact quantiles. Shares the "
        "batch oracle; the duration census is domain-bounded, so "
        "the post-sink math never touches event volume."
    ),
)
def streaming_session_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .behavior import session_duration_frame

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    per_user = _per_user_events(
        ev, F.unix_millis("ts").alias("ts_ms"), F.col("event_id").alias("eid")
    )
    rows = per_user.select(
        "user_id", F.explode("evts").alias("e")
    ).select("user_id", "e.ts_ms", F.col("e.eid").alias("event_id"))
    return session_duration_frame(rows)


def _evicting_session_quantiles(
    spark: SparkSession, sf_dir: str, chunks: int
) -> DataFrame:
    """Session-duration quantiles from the evicting operator over an
    EOF-padded events replay cut into ``chunks`` micro-batches."""
    from ..sources.streams import eof_pad_hours
    from ..streaming.stateful import session_durations_evicting
    from .behavior import duration_quantiles

    gap_ms = 3_600_000  # pad derived from the SAME constant (r12 ADVICE)
    ev = events_stream(
        spark, sf_dir, chunks=chunks, pad_hours=eof_pad_hours(gap_ms)
    )
    per_session = run_available_now(
        session_durations_evicting(ev, gap_ms=gap_ms), output_mode="append"
    )
    d = per_session.where(F.col("user_id") >= 0)  # drop the sentinel
    return duration_quantiles(d)


@query(
    "streaming_session_duration_v2",
    twin="session_duration_quantiles",
    doc=(
        "session-duration quantiles with EVICTING state - the "
        "production form of streaming_session_duration (round-10 "
        "verdict #4): per-user state is ONLY the open session's "
        "(start_ms, last_ms) - 2 longs - via applyInPandasWithState; "
        "a session emits its duration the moment a 1 h gap closes it, "
        "and the final open session flushes on event-time timeout "
        "when the watermark passes it (an EOF sentinel row drags the "
        "final watermark past every gap horizon - the bounded-replay "
        "analogue of Flink's end-of-input MAX_WATERMARK; Flink's own "
        "session windows do exactly this eviction, state = the open "
        "window's accumulator). The sink holds one row per SESSION "
        "(not per event), and the exact census-and-cumulate quantiles "
        "run on that session-sized output. At 100 TB the state store "
        "grows with CONCURRENT users, not with history - the v1 twin "
        "keeps whole journeys and is the parity-shape form, this is "
        "the one to deploy. Shares the batch oracle bit-for-bit."
    ),
)
def streaming_session_duration_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _evicting_session_quantiles(spark, sf_dir, chunks=1)


@query(
    "streaming_session_duration_v2_multi",
    twin="session_duration_quantiles",
    doc=(
        "streaming_session_duration_v2 replayed across MULTIPLE "
        "micro-batches (3 time-ordered chunks at maxFilesPerTrigger=1 "
        "+ the EOF sentinel batch + the final timeout batch) instead "
        "of the single-batch availableNow contract - the deployment "
        "reality where a user's session spans triggers and the "
        "watermark advances while a key is silent. The evicting "
        "operator must carry open (start_ms, last_ms) state over "
        "trigger boundaries and its event-time timeout must fire at "
        "the REAL gap horizon, never early (the round-12 fix: arm at "
        "last_ms + gap, re-check in the timed-out branch) - before "
        "that fix this exact replay split sessions at every batch "
        "boundary. Shares the batch oracle bit-for-bit with the "
        "single-batch twin, so the driver verifies trigger-boundary "
        "state carry-over on every run."
    ),
)
def streaming_session_duration_v2_multi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _evicting_session_quantiles(spark, sf_dir, chunks=3)


@query(
    "streaming_attribution_v2",
    twin="attribution_last_touch",
    doc=(
        "last-touch attribution with EVICTING state - the production "
        "form of streaming_attribution (same upgrade as "
        "streaming_session_duration_v2): per-user state is ONE packed "
        "long (the latest click's ts_ms*1000+page, the batch twin's "
        "pack with the same page-in-[0,1000) guard) via "
        "applyInPandasWithState, and every purchase emits its "
        "attributed (page, cents) row the moment it arrives - 8 bytes "
        "of state per user instead of the journey, the Flink "
        "ValueState shape of the original, and no timeout/flush at "
        "all (purchases attribute immediately; nothing stays open at "
        "end of input). The sink holds one row per ATTRIBUTED "
        "PURCHASE and the catalog-bounded page census folds on top. "
        "Shares the batch oracle bit-for-bit."
    ),
)
def streaming_attribution_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import attribution_evicting

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    per_purchase = run_available_now(
        attribution_evicting(ev), output_mode="append"
    )
    return per_purchase.groupBy(
        F.col("page").cast("int").alias("page")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_attributed"),
        F.sum("cents").cast("long").alias("attributed_cents"),
    )


@query(
    "streaming_prequential_accuracy",
    twin="browse_prequential_accuracy",
    doc=(
        "prequential next-page accuracy on the LIVE stream - the "
        "deployment shape of browse_prequential_accuracy: transitions "
        "are extracted by an EVICTING stateful operator (state = the "
        "last seen (ts, eid, page) per user, 3 longs - the streaming "
        "lag window; every event emits its hop on arrival, nothing "
        "stays open, no timeout), and the per-src test-then-train "
        "walk runs on the transition-sized sink output exactly as "
        "batch (catalog-bounded src groups, pinned-partition "
        "applyInPandas). Shares the batch oracle bit-for-bit: the "
        "extractor carries null pages through like lag does, so the "
        "clean frame - and therefore every prediction - is identical."
    ),
)
def streaming_prequential_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..plans.behavior import prequential_summary
    from ..streaming.stateful import transitions_evicting

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    hops = run_available_now(
        transitions_evicting(ev), output_mode="append"
    )
    clean = hops.where(
        F.col("src").isNotNull() & (F.col("src") != F.col("dst"))
    )
    return prequential_summary(clean)
