"""User-behavior analytics: the reference's applied `hot-item` project
re-expressed on the events table (SURVEY.md §2.6/2.7 applied rows).

- HotItems sliding-window Top-N  (HotItems.scala:25-122)
- PV / UV hourly                 (PvAnalysis, UvAnalysis)
- Bloom/approx UV                (UvCountWithBloomByWindow.scala:13-38)
- ad-click blacklist             (FilterBlackListUser.scala:19-49)
- fraud small-then-large pattern (frauddetect/v3/FraudDetector.scala:17-56)
- order/conversion timeout       (OrderPay.scala:31-53, LongRides)
- tumbling window join           (DataStreamFunc.scala:1514-1639)
- CEP V-pattern                  (MATCH_RECOGNIZE QueryTest.scala:942-1026)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import layout
from .registry import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@query(
    "hotitems_topn",
    oracle="""
    WITH per_window AS (
      SELECT window_start, user_id, count(*) AS n_views
      FROM (
        SELECT time_bucket(INTERVAL 30 MINUTES, CAST(e.ts AS TIMESTAMP))
                 - (o.off * INTERVAL 30 MINUTES) AS window_start,
               e.user_id
        FROM events e CROSS JOIN (VALUES (0), (1)) AS o(off)
        WHERE e.event_type = 'view'
      )
      GROUP BY window_start, user_id
    )
    SELECT window_start, rk, user_id, n_views FROM (
      SELECT window_start, user_id, n_views,
             CAST(row_number() OVER (PARTITION BY window_start
                                     ORDER BY n_views DESC, user_id) AS INT) AS rk
      FROM per_window
    ) WHERE rk <= 3
    ORDER BY window_start, rk
    """,
    doc=(
        "HotItems (reference HotItems.scala:25-122): sliding 1h/30m window "
        "view-count per user, top-3 per window. Spark: window() agg + "
        "row_number partitioned by window start (WindowGroupLimit keeps "
        "3 rows/partition during the sort)."
    ),
    bench=True,
)
def hotitems_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hotitems_top3(hotitems_window_views(_events(spark, sf_dir)))


def hotitems_window_views(ev: DataFrame) -> DataFrame:
    """Views per (1h/30m sliding window, user): the aggregation that
    the streaming twin keeps in state."""
    return (
        ev.where(F.col("event_type") == "view")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_views"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_views")
    )


def hotitems_top3(per_window: DataFrame) -> DataFrame:
    """The 3 users with the most views in each window (user_id breaks
    ties)."""
    rk = Window.partitionBy("window_start").orderBy(F.desc("n_views"), "user_id")
    return (
        per_window.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= 3)
        .select("window_start", "rk", "user_id", "n_views")
    )


@query(
    "pv_uv_hourly",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           count(*)                 AS pv,
           count(DISTINCT user_id)  AS uv
    FROM events
    WHERE event_type IN ('view', 'click')
    GROUP BY 1
    ORDER BY 1
    """,
    doc=(
        "hourly PV + exact UV (reference PvAnalysis 29-33, UvAnalysis "
        "25-33: count + count(distinct userId) per window)."
    ),
    bench=True,
)
def pv_uv_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(F.col("event_type").isin("view", "click"))
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("pv"),
            F.countDistinct("user_id").alias("uv"),
        )
        .select(F.col("w.start").alias("window_start"), "pv", "uv")
        
    )


@query(
    "uv_approx_hll",
    oracle=None,  # HLL sketch differs per engine; |HLL-exact| <= 5*rsd
    # pinned by tests/test_plans.py::test_uv_approx_hll_within_error_bound
    doc=(
        "approximate UV via HLL (reference Bloom-filter UV "
        "UvCountWithBloomByWindow.scala:13-38 -> approx_count_distinct, "
        "the scale path for 100 TB distinct counts)."
    ),
)
def uv_approx_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("uv_approx"))
        .select(F.col("w.start").alias("window_start"), "uv_approx")
        
    )


@query(
    "click_blacklist",
    oracle="""
    SELECT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           count(*) AS n_clicks
    FROM events
    WHERE event_type = 'click'
    GROUP BY 1, 2
    HAVING count(*) >= 3
    ORDER BY user_id, day
    """,
    doc=(
        "blacklist: users exceeding a daily click budget (reference "
        "FilterBlackListUser.scala:19-49 — >N clicks/day per (user, ad) "
        "with daily state reset; batch form = per-day group + HAVING)."
    ),
)
def click_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(F.col("event_type") == "click")
    return (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .where(F.col("n_clicks") >= 3)
        
    )


@query(
    "fraud_small_then_large",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
             lag(value)    OVER w AS prev_value,
             lag(event_id) OVER w AS prev_id,
             lag(CAST(ts AS TIMESTAMP)) OVER w AS prev_ts
      FROM events
      WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    )
    SELECT user_id, prev_id AS small_id, event_id AS large_id
    FROM seq
    WHERE prev_value < 50 AND value > 300
      AND ts <= prev_ts + INTERVAL 1 DAY
    ORDER BY user_id, small_id
    """,
    doc=(
        "fraud detector (reference frauddetect/v3/FraudDetector.scala:11-56: "
        "amount < 1 then > 500 within 60s): purchase under 50 immediately "
        "followed by one over 300 within a day."
    ),
)
def fraud_small_then_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "value",
        "ts",
        F.lag("value").over(w).alias("prev_value"),
        F.lag("event_id").over(w).alias("prev_id"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    return (
        seq.where(
            (F.col("prev_value") < 50)
            & (F.col("value") > 300)
            & (F.col("ts") <= F.col("prev_ts") + F.expr("INTERVAL 1 DAY"))
        )
        .select(
            "user_id",
            F.col("prev_id").alias("small_id"),
            F.col("event_id").alias("large_id"),
        )
        
    )


@query(
    "conversion_timeout",
    oracle="""
    SELECT s.event_id AS signup_id, s.user_id,
           CAST(s.ts AS TIMESTAMP) AS signup_ts
    FROM events s
    WHERE s.event_type = 'signup'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = s.user_id
          AND CAST(p.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
          AND CAST(p.ts AS TIMESTAMP) <  CAST(s.ts AS TIMESTAMP) + INTERVAL 7 DAY
      )
    ORDER BY signup_id
    """,
    doc=(
        "timeout detection, batch form (reference OrderPay.scala:31-53 "
        "create-without-pay-in-15min; LongRidesSolution.scala:97-131): "
        "signups with no purchase within 7 days -> anti join with range."
    ),
)
def conversion_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    s = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    return (
        s.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("signup_ts"))
            & (F.col("p_ts") < F.col("signup_ts") + F.expr("INTERVAL 7 DAY")),
            "left_anti",
        )
        .select("signup_id", "user_id", "signup_ts")
        
    )


@query(
    "window_join",
    oracle="""
    SELECT v.window_start, v.user_id,
           v.event_id AS view_id, c.event_id AS click_id
    FROM (SELECT event_id, user_id,
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start
          FROM events WHERE event_type = 'view') v
    JOIN (SELECT event_id, user_id,
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start
          FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id AND v.window_start = c.window_start
    ORDER BY view_id, click_id
    """,
    doc=(
        "tumbling window join (reference DataStreamFunc.scala:1514-1639): "
        "views x clicks of the same user inside the same hour window — "
        "join on window-bucket equality, a pure equi-join (one shuffle, "
        "no range predicate)."
    ),
)
def window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.window("ts", "1 hour")["start"].alias("window_start"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.window("ts", "1 hour")["start"].alias("c_window"),
    )
    return (
        v.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("window_start") == F.col("c_window")),
        )
        .select("window_start", "user_id", "view_id", "click_id")
        
    )


@query(
    "cep_order_timeout",
    # the NFA's sequential skip-past-last consumption IS SQL-expressible
    # here because anchor scanning is monotone: a signup is emitted iff
    # it is not strictly inside a consumed (success, purchase] interval,
    # and the consumed intervals are a recursive chain over successes
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
      SELECT n.user_id, n.event_id, n.rn, n.np_rn,
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
    )
    SELECT g.user_id, g.event_id AS anchor_id,
           CASE WHEN g.np_ok THEN 'success' ELSE 'timeout' END AS status,
           NOT g.np_ok AS is_timeout
    FROM sig g
    WHERE NOT EXISTS (
      SELECT 1 FROM walk c
      WHERE c.user_id = g.user_id AND g.rn > c.s_rn AND g.rn <= c.np_rn
    )
    ORDER BY anchor_id
    """,
    bench=True,
    doc=(
        "CEP timeout side-output (reference TimeoutMatchByCep.scala:10-19, "
        "OrderPay.scala:31-53): signup followedBy purchase within 7 days "
        "per user; completed pairs emit status=success, expired partials "
        "emit status=timeout with the anchoring signup — one DataFrame "
        "with an is_timeout flag (the Spark shape of a side output)."
    ),
)
def cep_order_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cep

    ev = _events(spark, sf_dir).select("user_id", "event_id", "event_type", "ts")
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

    out = cep.match_pattern(
        ev, pat, ["user_id"], "ts", ok,
        "user_id long, anchor_id long, status string, is_timeout boolean",
        order_cols=["ts", "event_id"],
        timeout_measures=timed_out,
    )
    return out


@query(
    "cep_v_pattern",
    # SQL-expressible for THIS pattern (start any; down+ consecutive,
    # skip-till-first-down; up skip-till-first-up; skip past last):
    # a failed anchor implies all later anchors fail (the first down
    # island and the first up after it only move right), so matches
    # form a recursive chain pos -> up_rn + 1
    oracle="""
    WITH RECURSIVE pur AS MATERIALIZED (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), base AS MATERIALIZED (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             CASE WHEN value < lag(value) OVER w THEN -1
                  WHEN value > lag(value) OVER w THEN 1
                  ELSE 0 END AS dir
      FROM pur
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), isl AS MATERIALIZED (
      -- consecutive dir=-1 islands and their right edge
      SELECT user_id, rn,
             max(rn) OVER (PARTITION BY user_id, grp) AS run_end
      FROM (
        SELECT user_id, rn,
               rn - row_number() OVER (PARTITION BY user_id ORDER BY rn)
                 AS grp
        FROM base WHERE dir = -1
      )
    ), nx AS MATERIALIZED (
      SELECT b.*,
             min(CASE WHEN b.dir = -1 THEN b.rn END) OVER (
               PARTITION BY b.user_id ORDER BY b.rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_down,
             min(CASE WHEN b.dir = 1 THEN b.rn END) OVER (
               PARTITION BY b.user_id ORDER BY b.rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_up
      FROM base b
    ), match_at AS MATERIALIZED (
      SELECT a.user_id, a.rn AS pos,
             a.event_id AS start_id,
             e.event_id AS bottom_id,
             up.event_id AS up_id,
             e.value AS bottom_value,
             up.rn AS up_rn
      FROM nx a
      JOIN isl i ON i.user_id = a.user_id AND i.rn = a.next_down
      JOIN nx e ON e.user_id = a.user_id AND e.rn = i.run_end
      JOIN nx up ON up.user_id = a.user_id AND up.rn = e.next_up
    ), walk(user_id, pos) AS (
      SELECT user_id, CAST(1 AS BIGINT) FROM (SELECT DISTINCT user_id FROM pur)
      UNION ALL
      SELECT m.user_id, m.up_rn + 1
      FROM walk w JOIN match_at m ON m.user_id = w.user_id AND m.pos = w.pos
    )
    SELECT m.user_id, m.start_id, m.bottom_id, m.up_id, m.bottom_value
    FROM walk w JOIN match_at m ON m.user_id = w.user_id AND m.pos = w.pos
    ORDER BY m.user_id, m.start_id
    """,
    doc=(
        "CEP V-pattern via the NFA operator (reference MATCH_RECOGNIZE "
        "QueryTest.scala:942-1026: PATTERN (START PRICE_DOWN+ PRICE_UP)): "
        "per-user purchase-value valleys; applyInPandas NFA, "
        "AFTER MATCH SKIP PAST LAST EVENT."
    ),
)
def cep_v_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cep

    ev = _events(spark, sf_dir).where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_dir = ev.select(
        "user_id",
        "event_id",
        "value",
        "ts",
        F.when(F.col("value") < F.lag("value").over(w), -1)
        .when(F.col("value") > F.lag("value").over(w), 1)
        .otherwise(0)
        .alias("dir"),
    )
    pat = cep.Pattern.begin("start", lambda r: True)
    pat.followed_by("down", lambda r: r["dir"] == -1).one_or_more()
    pat.followed_by("up", lambda r: r["dir"] == 1)

    def measures(rows, bindings):
        return {
            "start_id": int(rows.iloc[bindings["start"][0]]["event_id"]),
            "bottom_id": int(rows.iloc[bindings["down"][-1]]["event_id"]),
            "up_id": int(rows.iloc[bindings["up"][0]]["event_id"]),
            "bottom_value": float(rows.iloc[bindings["down"][-1]]["value"]),
        }

    out = cep.match_pattern(
        with_dir,
        pat,
        key_cols=["user_id"],
        ts_col="ts",
        measures=measures,
        output_schema=(
            "user_id long, start_id long, bottom_id long, up_id long, "
            "bottom_value double"
        ),
        order_cols=["ts", "event_id"],
    )
    return out


@query(
    "cep_iterative_threshold",
    # skip_to_next advances the anchor one row per match, so matches are
    # exactly the adjacent (small, large) pairs — expressible with lead()
    oracle="""
    WITH pur AS (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), s AS (
      SELECT user_id, event_id AS small_id, value AS small_value,
             lead(event_id) OVER w AS large_id,
             lead(value) OVER w AS large_value
      FROM pur
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, small_id, large_id,
           round(small_value, 2) AS small_value,
           round(large_value, 2) AS large_value
    FROM s
    WHERE small_value < 30 AND large_value > 2 * small_value
    ORDER BY user_id, small_id
    """,
    doc=(
        "CEP IterativeCondition (CEPDemo.scala:383-417): 'small then "
        "large' where the threshold is RELATIVE to the matched event — "
        "the 'large' predicate reads ctx.events_for_pattern('small') "
        "and requires value > 2x the small purchase. NFA in "
        "mapInPandas, AFTER MATCH SKIP TO NEXT."
    ),
)
def cep_iterative_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cep

    ev = _events(spark, sf_dir).where(F.col("event_type") == "purchase")
    pat = cep.Pattern.begin("small", lambda r: r["value"] < 30).next(
        "large",
        lambda r, ctx: r["value"]
        > 2 * ctx.events_for_pattern("small")[0]["value"],
    )
    pat.skip_to_next()

    def measures(rows, bindings):
        s = rows.iloc[bindings["small"][0]]
        g = rows.iloc[bindings["large"][0]]
        return {
            "small_id": int(s["event_id"]),
            "large_id": int(g["event_id"]),
            "small_value": round(float(s["value"]), 2),
            "large_value": round(float(g["value"]), 2),
        }

    out = cep.match_pattern(
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
    return out


# ---------------------------------------------------------------------------
# Funnel + retention analytics (user-behavior suite; the reference's
# hot-item/UV apps are per-window — these add the cross-session user
# journey shapes every behavior pipeline needs at scale)
# ---------------------------------------------------------------------------


@query(
    "funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_full_funnel
    """,
    doc=(
        "ordered funnel view->click->purchase per user (each stage "
        "strictly after the previous stage's first occurrence): three "
        "keyed aggregations, each stage's table shrinks — no event "
        "self-join blowup at scale."
    ),
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.lit(1).alias("one"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(
            F.broadcast(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        )
        .crossJoin(
            F.broadcast(p.agg(F.count(F.lit(1)).alias("n_full_funnel")))
        )
    )


@query(
    "retention_weekly_cohort",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP)))
                  AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(floor(date_diff('day', f.cohort_week,
                 date_trunc('week', CAST(e.ts AS TIMESTAMP))) / 7) AS BIGINT)
             AS week_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc=(
        "weekly cohort retention: cohort = week of first activity; "
        "one agg for cohorts (user-cardinality, broadcastable), one "
        "distinct-count keyed on (cohort, offset)."
    ),
)
def retention_weekly_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                    / 7
                )
            ).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "cep_skip_to_last_pairs",
    # skip_to_last re-anchors each match at its LAST bound event, so
    # times(2) over purchases walks the overlapping consecutive-pair
    # chain — the lag self-join is the exact relational twin
    oracle="""
    WITH pur AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'
    )
    SELECT a.user_id, a.event_id AS first_id, b.event_id AS second_id
    FROM pur a JOIN pur b ON b.user_id = a.user_id AND b.rn = a.rn + 1
    ORDER BY a.user_id, first_id
    """,
    doc=(
        "AFTER MATCH SKIP TO LAST on the events fixture (reference "
        "CEPDemo.scala skipToLast:949, golden-pinned in "
        "test_cep_skip_to_first_and_last_goldens): times(2) with "
        "relaxed loop contiguity over the purchase sub-stream, "
        "re-anchored at the last bound event -> the sliding "
        "consecutive-pair chain per user."
    ),
)
def cep_skip_to_last_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cep

    ev = _events(spark, sf_dir).select("user_id", "event_id", "event_type", "ts")
    pat = (
        cep.Pattern.begin("p", lambda r: r["event_type"] == "purchase")
        .times(2)
        .relaxed()
        .skip_to_last("p")
    )
    out = cep.match_pattern(
        ev, pat, ["user_id"], "ts", cep.first_two_ids,
        "user_id long, first_id long, second_id long",
        order_cols=["ts", "event_id"],
    )
    return out


@query(
    "cep_skip_to_first_prefixes",
    # the pinned anchor emits EVERY solution: a reluctant relaxed
    # times_or_more(2) yields each prefix of the purchase chain, so
    # the j-th emitted row is simply the j-th purchase (j >= 2)
    oracle="""
    WITH pur AS (
      SELECT user_id, event_id,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, CAST(rn AS BIGINT) AS n_members,
           event_id AS last_id
    FROM pur WHERE rn >= 2
    ORDER BY user_id, n_members
    """,
    doc=(
        "AFTER MATCH SKIP TO FIRST (reference CEPDemo.scala "
        "skipToFirst:914): the anchor is pinned at each user's first "
        "purchase and every solution at that anchor emits — all "
        "prefixes of the relaxed purchase chain, one row per prefix "
        "length."
    ),
)
def cep_skip_to_first_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cep

    ev = _events(spark, sf_dir).select("user_id", "event_id", "event_type", "ts")
    pat = (
        cep.Pattern.begin("p", lambda r: r["event_type"] == "purchase")
        .times_or_more(2)
        .relaxed()
        .reluctant()
        .skip_to_first("p")
    )

    def measures(rows, b):
        return {
            "n_members": int(len(b["p"])),
            "last_id": int(rows.iloc[b["p"][-1]]["event_id"]),
        }

    out = cep.match_pattern(
        ev, pat, ["user_id"], "ts", measures,
        "user_id long, n_members long, last_id long",
        order_cols=["ts", "event_id"],
    )
    return out


@query(
    "cep_no_skip_branches",
    # NO_SKIP emits every followedByAny branch at every anchor: each
    # (signup, later purchase within 1 day) pair, exactly the
    # time-bounded self-join
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    )
    SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id
    FROM e s JOIN e p ON p.user_id = s.user_id
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
      AND (p.ts > s.ts OR (p.ts = s.ts AND p.event_id > s.event_id))
      AND p.ts - s.ts <= INTERVAL 1 DAY
    ORDER BY s.user_id, signup_id, purchase_id
    """,
    doc=(
        "Flink NO_SKIP emission via Pattern.no_skip() (reference "
        "CEPDemo.scala followedByAny:674-704 'every branch, every "
        "anchor'): signup followedByAny purchase WITHIN 1 day -> one "
        "row per (signup, in-horizon later purchase) pair."
    ),
)
def cep_no_skip_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cep

    ev = _events(spark, sf_dir).select("user_id", "event_id", "event_type", "ts")
    pat = (
        cep.Pattern.begin("s", lambda r: r["event_type"] == "signup")
        .followed_by_any("p", lambda r: r["event_type"] == "purchase")
        .within_time("1D")
        .no_skip()
    )

    def measures(rows, b):
        return {
            "signup_id": int(rows.iloc[b["s"][0]]["event_id"]),
            "purchase_id": int(rows.iloc[b["p"][0]]["event_id"]),
        }

    out = cep.match_pattern(
        ev, pat, ["user_id"], "ts", measures,
        "user_id long, signup_id long, purchase_id long",
        order_cols=["ts", "event_id"],
    )
    return out


@query(
    "iterate_min_label",
    # the consecutive-pair edges chain ALL of a user's purchases into
    # one path, so min-label propagation converges to the user's
    # minimum purchase id — an exact one-window oracle
    oracle="""
    WITH pur AS (
      SELECT user_id, event_id FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id AS v, min(event_id) OVER (PARTITION BY user_id) AS lbl
    FROM pur ORDER BY v
    """,
    doc=(
        "bulk iteration (reference DataSetFunc.scala:790-808 "
        "iterate(n)): driver-looped min-label propagation over the "
        "consecutive-purchase-pair path graph with early convergence "
        "and periodic localCheckpoint lineage truncation — each round "
        "is distributed, only loop control sits on the driver."
    ),
)
def iterate_min_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.iterate import bulk_iterate

    pur = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = pur.select(
        F.col("event_id").alias("a"),
        F.lead("event_id").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    edges = nxt.unionByName(
        nxt.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).cache()
    labels0 = pur.select(
        F.col("event_id").alias("v"), F.col("event_id").alias("lbl")
    )

    def step(cur: DataFrame, i: int) -> DataFrame:
        # neighbor-min propagation PLUS pointer jumping (lbl(lbl(v))):
        # path halving turns the O(diameter) neighbor walk into
        # O(log n) rounds — the same trick large-star/small-star uses
        prop = (
            edges.join(cur, edges.a == cur.v)
            .select(F.col("b").alias("v"), "lbl")
        )
        lut = cur.select(
            F.col("v").alias("__lv"), F.col("lbl").alias("__ll")
        )
        jumped = (
            cur.join(lut, cur.lbl == F.col("__lv"), "left")
            .select("v", F.coalesce("__ll", "lbl").alias("lbl"))
        )
        return (
            jumped.unionByName(prop)
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"))
        )

    last_sum: list = [None]

    def converged(prev: DataFrame, cur: DataFrame) -> bool:
        # one action per round: prev's sum is last round's cached value
        s = cur.agg(F.sum("lbl")).first()[0]
        done = last_sum[0] == s
        last_sum[0] = s
        return done

    # eager checkpoint EVERY round: the convergence probe is an action,
    # and un-truncated lineage would recompute all prior rounds per
    # probe (O(rounds^2) work)
    out = bulk_iterate(
        labels0, step, max_iterations=64, converged=converged,
        checkpoint_every=1,
    )
    edges.unpersist()
    return out


@query(
    "geo_grid_cells",
    # deterministic synthetic coordinates on a 0.01-degree lattice
    # (identical double arithmetic in both engines: floor, %, *, + —
    # no libm), NYC bounding-box filter, GeoUtils grid-cell mapping
    oracle="""
    WITH r AS (
      -- all-DOUBLE arithmetic (DuckDB would otherwise fold the
      -- literals as DECIMAL and floor() on exact values while Spark
      -- floors IEEE doubles)
      SELECT event_id,
             CAST(-74.05 AS DOUBLE)
               + (CAST(floor(value * 100) AS BIGINT) % 60)
                 * CAST(0.01 AS DOUBLE) AS lon,
             CAST(40.5 AS DOUBLE)
               + (user_id % 55) * CAST(0.01 AS DOUBLE) AS lat
      FROM events
    ), nyc AS (
      SELECT *,
             CAST(floor((CAST(-73.7 AS DOUBLE) - lon)
                        / CAST(0.0014 AS DOUBLE)) AS INT)
               + CAST(floor((CAST(41.0 AS DOUBLE) - lat)
                            / CAST(0.00125 AS DOUBLE)) AS INT) * 250
               AS cell
      FROM r
      WHERE lon <= -73.7 AND lon >= -74.05 AND lat <= 41.0 AND lat >= 40.5
    )
    SELECT cell, count(*) AS n_rides
    FROM nyc GROUP BY cell ORDER BY cell
    """,
    doc=(
        "GeoUtils parity (reference GeoUtils.java:31-60 + "
        "RideCleansingSolution.scala:16): NYC bounding-box filter and "
        "x + y*250 grid-cell id over deterministic synthetic "
        "coordinates, counted per cell — pure column arithmetic, no "
        "UDF."
    ),
)
def geo_grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import geo

    ev = _events(spark, sf_dir)
    lon = (
        F.lit(-74.05)
        + (F.floor(F.col("value") * 100).cast("bigint") % 60) * F.lit(0.01)
    )
    lat = F.lit(40.5) + (F.col("user_id") % 55) * F.lit(0.01)
    rides = ev.select(
        "event_id", lon.alias("lon"), lat.alias("lat")
    ).where(geo.is_in_nyc(F.col("lon"), F.col("lat")))
    return (
        rides.select(geo.grid_cell(F.col("lon"), F.col("lat")).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_rides"))
        
    )


@query(
    "side_output_channels",
    # each side output is an independent filtered child of one parent
    # plan; a row matching several predicates appears in each channel
    oracle="""
    SELECT 'purchase' AS channel, event_id FROM events
      WHERE event_type = 'purchase'
    UNION ALL
    SELECT 'error' AS channel, event_id FROM events
      WHERE event_type = 'error'
    UNION ALL
    SELECT 'big' AS channel, event_id FROM events WHERE value > 300
    ORDER BY channel, event_id
    """,
    doc=(
        "side outputs via split_stream (reference OutputTag + "
        "ctx.output, SideOutput.scala:21): one parent plan split into "
        "named filtered channels, re-tagged and unioned for the "
        "oracle-comparable shape; overlapping predicates duplicate "
        "into each channel exactly like multiple ctx.output calls."
    ),
)
def side_output_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.streams_util import split_stream

    ev = _events(spark, sf_dir)
    outs = split_stream(
        ev,
        {
            "purchase": F.col("event_type") == "purchase",
            "error": F.col("event_type") == "error",
            "big": F.col("value") > 300,
        },
    )
    tagged = [
        df.select(F.lit(name).alias("channel"), "event_id")
        for name, df in sorted(outs.items())
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out


@query(
    "lookup_broadcast_dict",
    # the broadcast-dict map must equal the equivalent left join to
    # the dim table it was built from
    oracle="""
    SELECT e.event_id, e.user_id, n.n_name AS region_name
    FROM events e
    LEFT JOIN nation n ON n.n_nationkey = e.user_id % 25
    ORDER BY e.event_id
    """,
    doc=(
        "batch dim lookup through a BROADCAST python dict (the "
        "reference's cached dim lookup, Async I/O Database.scala "
        "shape, batch form): the 25-row nation map ships once per "
        "executor and each Arrow batch is one vectorized Series.map — "
        "result equals the left join to the dim table."
    ),
)
def lookup_broadcast_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lookup import batch_lookup

    nation = {
        int(r.n_nationkey): r.n_name
        for r in load_table(spark, sf_dir, "nation").collect()
    }
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", (F.col("user_id") % 25).alias("nk")
    )
    out = batch_lookup(ev, "nk", nation, out_col="region_name")
    return out.select("event_id", "user_id", "region_name")


_HOUR_SQL = (
    "(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 % 65536)"
)


@query(
    "zorder_values",
    oracle=f"""
    SELECT event_id, user_id,
           {_HOUR_SQL} AS hour_bucket,
           {layout.z_value_sql("user_id", _HOUR_SQL)} AS zvalue
    FROM events
    ORDER BY event_id
    """,
    doc=(
        "Z-order (Morton) clustering key over (user_id, event hour): "
        "bit-interleaved so files sorted by zvalue carry tight min/max "
        "stats on BOTH dimensions — the write-side layout that makes "
        "box-query predicate pushdown actually skip files at 100 TB "
        "(Delta OPTIMIZE ZORDER shape). Pure shift/and column math, "
        "zero shuffles for the key itself; operators/layout.py's "
        "write_zordered does the one range-partition shuffle that "
        "persists the layout, clustering verified by "
        "test_zorder_layout_clusters_files."
    ),
)
def zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    hour = F.expr("unix_timestamp(ts) div 3600 % 65536")
    return ev.select(
        "event_id",
        "user_id",
        hour.alias("hour_bucket"),
        layout.z_value(F.col("user_id"), hour).alias("zvalue"),
    )


@query(
    "hilbert_values",
    oracle=f"""
    SELECT event_id, user_id,
           {_HOUR_SQL} AS hour_bucket,
           {layout.hilbert_value_sql("user_id", _HOUR_SQL)} AS hvalue
    FROM events
    ORDER BY event_id
    """,
    doc=(
        "Hilbert-curve clustering key over (user_id, event hour): the "
        "better-locality companion to zorder_values — every unit step "
        "along the curve is a 4-adjacent cell, so box queries decompose "
        "into fewer contiguous key ranges (fewer files per box than "
        "Morton at equal file count; Delta OPTIMIZE offers both). "
        "Single JVM F.aggregate fold per row (operators/layout.py, "
        "exhaustively pinned vs an independent xy2d reference); "
        "write-side persistence reuses write_zordered's range "
        "partition + in-file sort."
    ),
)
def hilbert_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    hour = F.expr("unix_timestamp(ts) div 3600 % 65536")
    return ev.select(
        "event_id",
        "user_id",
        hour.alias("hour_bucket"),
        layout.hilbert_value(F.col("user_id"), hour).alias("hvalue"),
    )


_DRIFT_S = 1_000_000  # chi-square reported in micro-units


@query(
    "drift_chi2_hourly",
    oracle=f"""
    WITH ev AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w, event_type
      FROM events
    ), census AS (
      SELECT event_type, count(*) AS g FROM ev GROUP BY 1
    ), tot AS (SELECT sum(g) AS gt FROM census),
    wins AS (SELECT w, count(*) AS n FROM ev GROUP BY 1),
    o AS (SELECT w, event_type, count(*) AS o FROM ev GROUP BY 1, 2),
    grid AS (
      SELECT wins.w, wins.n, c.event_type, c.g, t.gt
      FROM wins CROSS JOIN census c CROSS JOIN tot t
    ), terms AS (
      SELECT w, n,
             CAST(({_DRIFT_S} * CAST(o0 * gt - n * g AS HUGEINT)
                             * CAST(o0 * gt - n * g AS HUGEINT))
                  // (CAST(n AS HUGEINT) * g * gt) AS BIGINT) AS term
      FROM (
        SELECT grid.*, COALESCE(o.o, 0) AS o0
        FROM grid LEFT JOIN o
          ON o.w = grid.w AND o.event_type = grid.event_type
      )
    )
    SELECT w AS window_start, CAST(n AS BIGINT) AS n_events,
           CAST(sum(term) AS BIGINT) AS chi2_micro
    FROM terms GROUP BY 1, 2 ORDER BY 1
    """,
    doc=(
        "Windowed distribution-drift monitor - the data-quality watch "
        "a production ingest runs continuously: each hourly window's "
        "event-type distribution is scored against the global census "
        "with a chi-square statistic sum((o-e)^2/e), computed in "
        "EXACT integer arithmetic (each term is S*(o*G - n*g)^2 DIV "
        "(n*g*G) in DECIMAL(38)/HUGEINT fixed-point micro-units, so "
        "both engines agree bit-for-bit - the same contract as the "
        "DSIR weights). Absent (window, type) combos contribute their "
        "full expected-count penalty via the windows-x-census grid "
        "(5-row census broadcast), not silently skipped. Plan: three "
        "partial-agg shuffles on bounded keys (census, per-window "
        "totals, per-(window,type) counts) + one broadcast grid join; "
        "the census never exceeds the type-domain size - holds at "
        "100 TB."
    ),
)
def drift_chi2_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = F.window("ts", "1 hour").alias("w")
    census = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("g"))
    wins = ev.groupBy(w).agg(F.count(F.lit(1)).alias("n"))
    o = ev.groupBy(w, F.col("event_type")).agg(F.count(F.lit(1)).alias("o"))
    return drift_chi2_frame(census, wins, o)


def drift_chi2_frame(census: DataFrame, wins: DataFrame, o: DataFrame) -> DataFrame:
    """Per-window chi-square of the (window, event_type) counts ``o``
    against the global type census, from the window sizes ``wins``."""
    census = census.withColumn("gt", F.sum("g").over(Window.partitionBy()))
    grid = wins.crossJoin(F.broadcast(census))
    j = grid.join(o, ["w", "event_type"], "left").withColumn(
        "o0", F.coalesce(F.col("o"), F.lit(0).cast("long"))
    )
    term = F.expr(
        f"CAST(({_DRIFT_S} * CAST(o0 * gt - n * g AS DECIMAL(38,0))"
        f" * CAST(o0 * gt - n * g AS DECIMAL(38,0)))"
        f" DIV (CAST(n AS DECIMAL(38,0)) * g * gt) AS BIGINT)"
    )
    return (
        j.select("w", "n", term.alias("term"))
        .groupBy("w", "n")
        .agg(F.sum("term").alias("chi2_micro"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("n").alias("n_events"),
            "chi2_micro",
        )
    )


_FUNNEL_STEPS = ["view", "click", "purchase"]


def _funnel_oracle() -> str:
    """Chained-min funnel SQL. Deliberately NOT the list_sort +
    list_reduce formulation: on the sf1 probe DuckDB 1.0.0's large
    grouped list aggregation returned internally inconsistent folds
    (10 of 15,000 users mis-staged; `WHERE stage < 3` even returned
    rows whose projected stage was 3), while a pure-Python replay and
    Spark both agree on the chained-min result. The set-based
    formulation is equivalent to the per-user ordered fold: stage i is
    reached at the FIRST step-i event strictly after the stage-(i-1)
    position, encoded on a single sortable HUGEINT key
    (epoch_us * 1e9 + event_id — event_id is the unique tiebreak)."""
    steps = _FUNNEL_STEPS
    ctes = [
        """e AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))::HUGEINT * 1000000000
               + event_id AS k,
             CASE event_type """
        + " ".join(f"WHEN '{s}' THEN {i + 1}" for i, s in enumerate(steps))
        + """ ELSE 0 END AS si
      FROM events
    )""",
        "t1 AS (SELECT user_id, min(k) AS k1 FROM e WHERE si = 1"
        " GROUP BY user_id)",
    ]
    for i in range(2, len(steps) + 1):
        ctes.append(
            f"t{i} AS (SELECT e.user_id, min(e.k) AS k{i}"
            f" FROM e JOIN t{i - 1} USING (user_id)"
            f" WHERE e.si = {i} AND e.k > t{i - 1}.k{i - 1}"
            f" GROUP BY e.user_id)"
        )
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS step, '{s}' AS step_name,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM t{i + 1}) AS n_users_reached"
        for i, s in enumerate(steps)
    )
    return "WITH " + ",\n    ".join(ctes) + f"\n    {selects}\n    ORDER BY step"


@query(
    "funnel_conversion",
    oracle=_funnel_oracle(),
    doc=(
        "Funnel conversion analysis (view -> click -> purchase) - the "
        "ordered-step behavioral query every product-analytics stack "
        "ships: per user, events sort by (ts, event_id) and a single "
        "integer fold walks the funnel (advance only when the NEXT "
        "step arrives, later out-of-order repeats ignored), then one "
        "conditional aggregate counts users reaching each cumulative "
        "stage. Engine-exact: the per-user event list folds "
        "identically in Spark (array_sort + F.aggregate) and DuckDB "
        "(list_sort + list_reduce), ties broken by the unique "
        "event_id. Plan: ONE user_id shuffle carrying (ts, eid, "
        "step-index) triples, map-side partial collect; per-task "
        "state is one user's event list - bound it with a time window "
        "per funnel in production (the standard funnel-scope knob) if "
        "single users reach millions of events."
    ),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    e = F.struct(F.col("ts"), F.col("event_id").alias("eid"), funnel_step().alias("si"))
    per_user = (
        ev.select("user_id", e.alias("e"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("evts"))
    )
    return funnel_reach(per_user)


def funnel_step() -> Column:
    """An event's 1-based funnel step, 0 off the funnel."""
    si = F.lit(0).cast("long")
    for i, s in enumerate(_FUNNEL_STEPS):
        si = F.when(F.col("event_type") == s, i + 1).otherwise(si)
    return si


def funnel_reach(per_user: DataFrame) -> DataFrame:
    """Users reaching each funnel step, from each user's time-sorted
    (ts, eid, si = ``funnel_step``) structs ``evts``."""
    stage = per_user.select(
        "user_id",
        F.aggregate(
            F.transform("evts", lambda s: s["si"]),
            F.lit(0).cast("long"),
            lambda a, b: F.when(b == a + 1, b).otherwise(a),
        ).alias("stage"),
    )
    agg = stage.agg(
        *[
            F.sum(F.when(F.col("stage") >= i + 1, 1).otherwise(0))
            .cast("long")
            .alias(f"r{i + 1}")
            for i in range(len(_FUNNEL_STEPS))
        ]
    )
    stack = ", ".join(
        f"{i + 1}, '{s}', r{i + 1}" for i, s in enumerate(_FUNNEL_STEPS)
    )
    return agg.select(
        F.expr(
            f"stack({len(_FUNNEL_STEPS)}, {stack})"
            " AS (step, step_name, n_users_reached)"
        )
    ).select(
        F.col("step").cast("int"), "step_name", F.col("n_users_reached").cast("long")
    )


def _pagerank_oracle(iterations: int = 3, scale: int = 10**12, d: int = 85) -> str:
    """DuckDB replay of pagerank_fixed_point with the iterations
    unrolled as CTEs — pure integer arithmetic on both sides, so the
    result is bit-exact (the embedding_kmeans / quality_perceptron
    oracle pattern)."""
    parts = [
        f"""
    WITH pages AS (
      SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS page
      FROM events
    ), hops AS (
      SELECT lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS src,
             page AS dst
      FROM pages
    ), edges AS (
      SELECT src, dst, count(*) AS cnt FROM hops
      WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2
    ), outdeg AS (
      SELECT src, sum(cnt) AS od FROM edges GROUP BY 1
    ), nodes AS (SELECT DISTINCT page AS node FROM pages),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, {scale} // nn.n AS r FROM nodes CROSS JOIN nn)"""
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        parts.append(f""",
    i{k} AS (
      SELECT e.dst AS node, sum(e.cnt * (r.r // o.od)) AS m
      FROM edges e JOIN r{p} r ON e.src = r.node
                   JOIN outdeg o ON e.src = o.src
      GROUP BY 1
    ),
    d{k} AS (
      SELECT coalesce(sum(r.r), 0) AS dang
      FROM r{p} r LEFT JOIN outdeg o ON r.node = o.src
      WHERE o.src IS NULL
    ),
    r{k} AS (
      SELECT n.node,
             ({scale} * {100 - d} // 100) // nn.n
               + {d} * (coalesce(i.m, 0) + dd.dang // nn.n) // 100 AS r
      FROM nodes n LEFT JOIN i{k} i ON n.node = i.node
      CROSS JOIN d{k} dd CROSS JOIN nn
    )""")
    parts.append(f"""
    SELECT CAST(node AS INT) AS page, CAST(r AS BIGINT) AS rank_fp
    FROM r{iterations} ORDER BY page
    """)
    return "".join(parts)


@query(
    "pagerank_browse",
    oracle=_pagerank_oracle(),
    bench=True,
    doc=(
        "PageRank over the browse graph — the crawl-frontier / URL "
        "ranking primitive of web-corpus curation (Page et al. 1999; "
        "Common Crawl ranks its frontier with centrality over the host "
        "graph). Edges are consecutive page visits per user (lag over "
        "(user_id, ts, event_id), self-loops dropped) weighted by "
        "multiplicity; 3 iterations of operators/graph."
        "pagerank_fixed_point in pure BIGINT fixed-point (scale 1e12, "
        "damping 85/100, dangling mass redistributed uniformly), so "
        "the DuckDB oracle replays the whole run bit-for-bit with the "
        "iterations unrolled as CTEs. Plan per iteration: one src-keyed "
        "join carrying r DIV outdeg per edge + one dst-keyed partial-"
        "aggregating groupBy — two O(E) shuffles, the Pregel plan; the "
        "node census and dangling row are 1-row broadcasts. At 100 TB "
        "the rank frame is O(V) and never collected."
    ),
)
def pagerank_browse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    ev = _events(spark, sf_dir)
    page = F.get_json_object("props", "$.k").cast("int")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pages = ev.select("user_id", "ts", "event_id", page.alias("page"))
    hops = pages.select(
        F.lag("page").over(w).alias("src"), F.col("page").alias("dst")
    )
    edges = (
        hops.where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nodes = pages.select(F.col("page").alias("node")).distinct()
    pr = graph.pagerank_fixed_point(edges, nodes=nodes, iterations=3)
    return pr.select(F.col("node").alias("page"), "rank_fp")


@query(
    "events_rate_spikes",
    oracle="""
    WITH c AS (
      SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, h, cnt,
             CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT) AS trail_events,
             CAST(count(cnt) OVER w AS BIGINT) AS trail_hours
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, CAST(h AS TIMESTAMP) AS window_start,
           cnt, trail_hours, trail_events
    FROM t
    WHERE trail_hours >= 6
      AND cnt * trail_hours * 100 > 150 * trail_events
    ORDER BY event_type, window_start
    """,
    doc=(
        "ingest rate-spike detection - the volume-anomaly twin of the "
        "distribution-drift monitor (drift watches WHAT arrives, this "
        "watches HOW MUCH): per (event_type, hour) counts compared to "
        "the trailing 24 observed hours, flagging hours 50% above the "
        "trailing mean. The compare is pure integer cross-"
        "multiplication (cnt * trail_hours * 100 > 150 * trail_events "
        "- no float mean, no division), warm-up hours (< 6 trailing) "
        "suppressed. Trailing frame is ROWS-based (observed hours), "
        "identical on both engines. Plan: one partial-agg shuffle to "
        "the (type, hour) census, then the window runs over census "
        "rows (types x hours, bounded by the time span, never row "
        "volume) - holds at any event rate."
    ),
)
def events_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("window_start")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return rate_spikes_frame(c)


def rate_spikes_frame(c: DataFrame) -> DataFrame:
    """The (event_type, window_start) hours whose count ``cnt`` is over
    1.5x the mean of the type's previous 24 hours (at least 6 seen)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-24, -1)
    )
    t = c.withColumn(
        "trail_events",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long"),
    ).withColumn("trail_hours", F.count("cnt").over(w).cast("long"))
    return t.where(
        (F.col("trail_hours") >= 6)
        & (F.col("cnt") * F.col("trail_hours") * 100 > 150 * F.col("trail_events"))
    ).select("event_type", "window_start", "cnt", "trail_hours", "trail_events")


@query(
    "browse_transition_topk",
    oracle="""
    WITH pages AS (
      SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS page
      FROM events
    ), hops AS (
      SELECT lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS src,
             page AS dst
      FROM pages
    ), edges AS (
      SELECT src, dst, count(*) AS cnt FROM hops
      WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2
    ), outdeg AS (
      SELECT src, CAST(sum(cnt) AS BIGINT) AS od FROM edges GROUP BY 1
    ), r AS (
      SELECT e.src, e.dst, e.cnt,
             CAST(e.cnt * 10000 // o.od AS BIGINT) AS p_bp,
             row_number() OVER (PARTITION BY e.src
                                ORDER BY e.cnt DESC, e.dst) AS rk
      FROM edges e JOIN outdeg o ON e.src = o.src
    )
    SELECT src, dst, cnt, p_bp, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
    ORDER BY src, rk
    """,
    doc=(
        "browse-graph Markov transitions, top-3 next pages per page - "
        "the user-journey / prefetch model behind 'users who viewed X "
        "go to Y' (and the transition matrix PageRank's random surfer "
        "walks): the SAME lag-derived weighted edge list as "
        "pagerank_browse, transition probability in exact integer "
        "basis points (cnt * 1e4 DIV outdeg), per-src rank cut. The "
        "grouped top-k rides WindowGroupLimit over one src shuffle; "
        "the outdeg join is src-co-partitioned. Edges census-sized - "
        "holds at any event volume."
    ),
)
def browse_transition_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    page = F.get_json_object("props", "$.k").cast("int")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pages = ev.select("user_id", "ts", "event_id", page.alias("page"))
    hops = pages.select(
        F.lag("page").over(w).alias("src"), F.col("page").alias("dst")
    )
    return transition_topk_frame(hops)


def transition_topk_frame(hops: DataFrame) -> DataFrame:
    """The top-3 next pages of each page, from (src, dst) page hops."""
    edges = (
        hops.where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    outdeg = edges.groupBy("src").agg(F.sum("cnt").cast("long").alias("od"))
    rk = Window.partitionBy("src").orderBy(F.desc("cnt"), "dst")
    return (
        edges.join(outdeg, "src")
        .select(
            "src",
            "dst",
            "cnt",
            F.expr("CAST(cnt * 10000 DIV od AS BIGINT)").alias("p_bp"),
        )
        .withColumn("rk", F.row_number().over(rk).cast("long"))
        .where(F.col("rk") <= 3)
    )


@query(
    "user_event_diversity",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), u AS (
      SELECT user_id,
             CAST(sum(cnt) AS BIGINT) AS n_events,
             CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq
      FROM c GROUP BY 1
    )
    SELECT user_id, n_events,
           CAST(10000 - (sum_sq * 10000) // (n_events * n_events)
                AS BIGINT) AS diversity_bp
    FROM u
    ORDER BY user_id
    """,
    doc=(
        "behavioral diversity per user via the Gini-Simpson index in "
        "EXACT integer basis points (1 - sum(p_i^2), computed as "
        "10000 - sum(cnt^2)*1e4 DIV n^2 - no float probabilities, no "
        "log): 0 = single-event-type users (bots / scrapers), high = "
        "diverse engagement. The integer-exact stand-in for entropy "
        "in user segmentation and bot filtering. Plan: one "
        "(user, type) partial-agg shuffle collapsing into the per-"
        "user census, then a second bounded agg - no window, no "
        "join; both censuses are key-bounded at any event volume."
    ),
)
def user_event_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_diversity_frame(event_type_counts(_events(spark, sf_dir)))


def event_type_counts(ev: DataFrame) -> DataFrame:
    """Events per (user, event type)."""
    return ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))


def event_diversity_frame(c: DataFrame) -> DataFrame:
    """Each user's Gini-Simpson event-type diversity, in basis points."""
    u = c.groupBy("user_id").agg(
        F.sum("cnt").cast("long").alias("n_events"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sum_sq"),
    )
    return u.select(
        "user_id",
        "n_events",
        F.expr(
            "CAST(10000 - (sum_sq * 10000) DIV (n_events * n_events) AS BIGINT)"
        ).alias("diversity_bp"),
    )


@query(
    "browse_triangle_count",
    oracle="""
    WITH pages AS (
      SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS page
      FROM events
    ), hops AS (
      SELECT lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS src,
             page AS dst
      FROM pages
    ), edges AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM hops WHERE src IS NOT NULL AND src <> dst
    ), tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.b = e2.a
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM
              (SELECT a FROM edges UNION SELECT b FROM edges)) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(n_triangles AS BIGINT) FROM tri) AS n_triangles
    """,
    doc=(
        "triangle count on the undirected browse graph (distinct "
        "page-to-page transition edges) - the classic graph-structure "
        "census (clustering coefficient's numerator; navigation-loop "
        "detection). Node-iterator formulation: edges oriented a < b, "
        "wedges from joining edge lists on the shared middle vertex, "
        "closed by a third join on the (low, high) endpoints - each "
        "triangle counted exactly once. The edge set is the "
        "page-pair CENSUS (bounded by catalog size squared, not event "
        "volume), so after the one lag shuffle every join runs on "
        "census-sized frames (broadcast at this SF; at 100 TB the "
        "standard skew guard is degree-ordered orientation - "
        "documented, not needed at catalog-bounded degree)."
    ),
)
def browse_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    page = F.get_json_object("props", "$.k").cast("int")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = ev.select(
        "user_id", "ts", "event_id", page.alias("page")
    ).select(F.lag("page").over(w).alias("src"), F.col("page").alias("dst"))
    return triangle_census_frame(hops)


def triangle_census_frame(hops: DataFrame) -> DataFrame:
    """Nodes, edges and triangles of the undirected page graph whose
    edges are the (src, dst) page hops."""
    edges = (
        hops.where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        # the census-sized edge set feeds FOUR consumers (wedge join,
        # closing join, node census, edge count) — persist it so the
        # event scan + lag shuffle run once, not per consumer
        .persist()
    )
    e1 = edges.alias("e1")
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2")
    wedges = e1.join(F.broadcast(e2), "b").select("a", "c")
    closed = wedges.join(
        F.broadcast(edges.select(F.col("a"), F.col("b").alias("c"))),
        ["a", "c"],
        "inner",
    )
    tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    nodes = (
        edges.select(F.col("a").alias("v"))
        .union(edges.select(F.col("b").alias("v")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    ecnt = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return nodes.crossJoin(F.broadcast(ecnt)).crossJoin(F.broadcast(tri))


@query(
    "browse_path_topk",
    oracle="""
    WITH pages AS (
      SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS page
      FROM events
    ), seq AS (
      SELECT lag(page, 2) OVER w AS p1,
             lag(page, 1) OVER w AS p2,
             page AS p3
      FROM pages
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), paths AS (
      SELECT p1, p2, p3, CAST(count(*) AS BIGINT) AS cnt
      FROM seq WHERE p1 IS NOT NULL AND p2 IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT p1, p2, p3, cnt, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, row_number() OVER (ORDER BY cnt DESC, p1, p2, p3) AS rk
      FROM paths
    ) WHERE rk <= 20
    ORDER BY rk
    """,
    doc=(
        "top-20 three-page browse paths - the user-journey 'sankey' "
        "query behind navigation redesigns (which 3-step flows "
        "dominate): two lags per user build the path triples, the "
        "triple CENSUS aggregates (bounded by catalog-size^3, in "
        "practice the Zipf head - never event volume), and the global "
        "top-20 ranks the census with a full tie-break "
        "(cnt desc, then the triple) for determinism. ONE user_id "
        "shuffle + one census agg; the final rank's single-partition "
        "window runs on the census only."
    ),
)
def browse_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    page = F.get_json_object("props", "$.k").cast("int")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "ts", "event_id", page.alias("page")).select(
        F.lag("page", 2).over(w).alias("p1"),
        F.lag("page", 1).over(w).alias("p2"),
        F.col("page").alias("p3"),
    )
    paths = (
        seq.where(F.col("p1").isNotNull() & F.col("p2").isNotNull())
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    rk = Window.orderBy(F.desc("cnt"), "p1", "p2", "p3")
    return (
        paths.withColumn("rk", F.row_number().over(rk).cast("long"))
        .where(F.col("rk") <= 20)
    )


@query(
    "events_hourly_mad_outliers",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY cnt, window_start) AS rk,
             count(*) OVER () AS h
      FROM hourly
    ), med AS (
      -- exact 2x-median from the two middle order statistics (equal
      -- when h is odd): no float averaging anywhere
      SELECT CAST(sum(CASE WHEN rk = (h + 1) // 2 THEN cnt ELSE 0 END)
           + sum(CASE WHEN rk = h // 2 + 1 THEN cnt ELSE 0 END)
             AS BIGINT) AS med2
      FROM ranked
    ), dev AS (
      SELECT window_start, cnt,
             CAST(abs(2 * cnt - (SELECT med2 FROM med)) AS BIGINT) AS dev2
      FROM hourly
    ), dranked AS (
      SELECT *, row_number() OVER (ORDER BY dev2, window_start) AS rk,
             count(*) OVER () AS h
      FROM dev
    ), mad AS (
      SELECT CAST(sum(CASE WHEN rk = (h + 1) // 2 THEN dev2 ELSE 0 END)
           + sum(CASE WHEN rk = h // 2 + 1 THEN dev2 ELSE 0 END)
             AS BIGINT) AS mad4
      FROM dranked
    )
    SELECT window_start, cnt, dev2,
           (SELECT mad4 FROM mad) AS mad4,
           CAST(2 * dev2 > 3 * (SELECT mad4 FROM mad) AS INT) AS is_outlier
    FROM dev ORDER BY window_start
    """,
    doc=(
        "hourly ingest-volume anomaly flags via MEDIAN ABSOLUTE "
        "DEVIATION - the robust-statistics alternative to the "
        "rate-spike ratio test (a single huge hour cannot drag the "
        "baseline the way it drags a mean): hourly count census, "
        "exact integer 2x-median from the two middle order "
        "statistics, per-hour 2x-deviations, exact 4x-MAD the same "
        "way, flag when |cnt - median| > 3 * MAD - all in scaled "
        "integers (2x/4x clear the halves), bit-exact vs DuckDB. "
        "Plan: ONE event shuffle into the hour census; both "
        "order-statistic ranks and the flag math run on the census "
        "(#hours rows), with the two 1-row medians broadcast back - "
        "the exact-distributed-median pattern of "
        "quantile_exact_median, applied twice."
    ),
)
def events_hourly_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # the hour census feeds four consumers (median rank, deviation
    # projection, MAD rank, output) — persist so the event scan and
    # its shuffle run once; the census is #hours-sized
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt")).persist()
    return mad_outliers_frame(hourly)


def mad_outliers_frame(hourly: DataFrame) -> DataFrame:
    """Flag the (window_start, cnt) rows whose count is more than 3
    MADs from the median count."""
    # exact integer order-statistic medians: rk = (h+1) DIV 2 and
    # rk = h DIV 2 + 1 (equal when h is odd -> the sum doubles the
    # middle element, keeping med2 = 2 * median integer-exact)
    w1 = Window.orderBy("cnt", "window_start")
    ranked = hourly.select(
        "cnt",
        F.row_number().over(w1).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("h"),
    )
    med = ranked.agg(
        (
            F.sum(F.when(F.expr("rk = (h + 1) DIV 2"), F.col("cnt")).otherwise(0))
            + F.sum(F.when(F.expr("rk = h DIV 2 + 1"), F.col("cnt")).otherwise(0))
        ).cast("long").alias("med2")
    )
    dev = hourly.crossJoin(F.broadcast(med)).select(
        "window_start", "cnt",
        F.abs(2 * F.col("cnt") - F.col("med2")).cast("long").alias("dev2"),
    )
    w2 = Window.orderBy("dev2", "window_start")
    dranked = dev.select(
        "dev2",
        F.row_number().over(w2).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("h"),
    )
    mad = dranked.agg(
        (
            F.sum(F.when(F.expr("rk = (h + 1) DIV 2"), F.col("dev2")).otherwise(0))
            + F.sum(F.when(F.expr("rk = h DIV 2 + 1"), F.col("dev2")).otherwise(0))
        ).cast("long").alias("mad4")
    )
    return dev.crossJoin(F.broadcast(mad)).select(
        "window_start", "cnt", "dev2", "mad4",
        F.expr("CAST(2 * dev2 > 3 * mad4 AS INT)").alias("is_outlier"),
    )


def _session_sql_ctes() -> str:
    """Shared session-assignment CTEs (1-hour inactivity gap, ordered
    by (ts, event_id)): `sess` has one row per event with its session
    ordinal `sid`. The chained-min funnel formulation downstream
    avoids DuckDB's grouped-list fold (see _funnel_oracle)."""
    return """
    base AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
             props
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN lag(ts) OVER w IS NULL THEN 1
                     WHEN ts >= lag(ts) OVER w + INTERVAL 1 HOUR THEN 1
                     ELSE 0 END AS is_new
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type, props,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )"""


def _session_funnel_oracle() -> str:
    steps = _FUNNEL_STEPS
    ctes = [
        _session_sql_ctes(),
        """e AS (
      SELECT user_id, sid,
             epoch_us(ts)::HUGEINT * 1000000000 + event_id AS k,
             CASE event_type """
        + " ".join(f"WHEN '{s}' THEN {i + 1}" for i, s in enumerate(steps))
        + """ ELSE 0 END AS si
      FROM sess
    )""",
        "t1 AS (SELECT user_id, sid, min(k) AS k1 FROM e WHERE si = 1"
        " GROUP BY user_id, sid)",
    ]
    for i in range(2, len(steps) + 1):
        ctes.append(
            f"t{i} AS (SELECT e.user_id, e.sid, min(e.k) AS k{i}"
            f" FROM e JOIN t{i - 1} USING (user_id, sid)"
            f" WHERE e.si = {i} AND e.k > t{i - 1}.k{i - 1}"
            f" GROUP BY e.user_id, e.sid)"
        )
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS step, '{s}' AS step_name,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM t{i + 1})"
        f" AS n_sessions_reached"
        for i, s in enumerate(steps)
    )
    return "WITH " + ",\n    ".join(ctes) + f"\n    {selects}\n    ORDER BY step"


@query(
    "session_funnel_conversion",
    oracle=_session_funnel_oracle(),
    doc=(
        "funnel conversion SCOPED TO SESSIONS (1-hour inactivity gap) "
        "- the production funnel shape (funnel_conversion's own "
        "docstring names the per-funnel time scope as the knob that "
        "bounds per-key state; this query IS that knob): sessions "
        "assign via the lag-gap cumulative-sum trick on one user_id "
        "shuffle (both window passes reuse the partitioning), then "
        "each (user, session) folds the ordered step sequence exactly "
        "like the global funnel and one conditional aggregate counts "
        "sessions reaching each cumulative stage. Per-task state is "
        "one SESSION's events - bounded by the gap horizon at any "
        "event volume, the property the unscoped funnel lacks. The "
        "oracle replays it with the chained-min formulation (not "
        "list_reduce - see _funnel_oracle's DuckDB-bug note)."
    ),
)
def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(gap.isNull() | (gap >= 3600), 1).otherwise(0).alias("is_new"),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    si = F.lit(0).cast("long")
    for i, s in enumerate(_FUNNEL_STEPS):
        si = F.when(F.col("event_type") == s, i + 1).otherwise(si)
    per_sess = (
        sess.select(
            "user_id", "sid",
            F.struct(
                F.col("ts"), F.col("event_id").alias("eid"), si.alias("si")
            ).alias("e"),
        )
        .groupBy("user_id", "sid")
        .agg(F.array_sort(F.collect_list("e")).alias("evts"))
        .select(
            F.aggregate(
                F.transform("evts", lambda s: s["si"]),
                F.lit(0).cast("long"),
                lambda a, b: F.when(b == a + 1, b).otherwise(a),
            ).alias("stage")
        )
    )
    agg = per_sess.agg(
        *[
            F.sum(F.when(F.col("stage") >= i + 1, 1).otherwise(0))
            .cast("long")
            .alias(f"r{i + 1}")
            for i in range(len(_FUNNEL_STEPS))
        ]
    )
    stack = ", ".join(
        f"{i + 1}, '{s}', r{i + 1}" for i, s in enumerate(_FUNNEL_STEPS)
    )
    return agg.select(
        F.expr(
            f"stack({len(_FUNNEL_STEPS)}, {stack})"
            " AS (step, step_name, n_sessions_reached)"
        )
    ).select(
        F.col("step").cast("int"), "step_name",
        F.col("n_sessions_reached").cast("long"),
    )


@query(
    "session_page_pairs_topk",
    oracle="WITH " + _session_sql_ctes() + """
    , pp AS (
      SELECT DISTINCT user_id, sid, CAST(props->>'$.k' AS INT) AS page
      FROM sess
    ), pairs AS (
      SELECT a.page AS pa, b.page AS pb, CAST(count(*) AS BIGINT) AS cnt
      FROM pp a JOIN pp b
        ON a.user_id = b.user_id AND a.sid = b.sid AND a.page < b.page
      GROUP BY 1, 2
    )
    SELECT pa, pb, cnt, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, row_number() OVER (ORDER BY cnt DESC, pa, pb) AS rk
      FROM pairs
    ) WHERE rk <= 15
    ORDER BY rk
    """,
    doc=(
        "pages co-visited within a session, top-15 pairs - the "
        "market-basket / 'viewed together' co-occurrence query behind "
        "related-content modules: sessions from the same lag-gap "
        "cumulative sum as session_funnel_conversion, distinct pages "
        "per (user, session), unordered in-session pairs generated "
        "IN-FLIGHT from each session's sorted page set (the "
        "jaccard_pairs posting-list expansion - array lambdas, no "
        "self-join of an event-scale table), pair census counted, "
        "global top-15 with a full tie-break riding "
        "TakeOrderedAndProject on the census. Per-session pair "
        "fan-out is C(pages-in-session, 2) - bounded by the session "
        "gap horizon, the same guard the funnel twin documents."
    ),
    bench=True,
)
def session_page_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    page = F.get_json_object("props", "$.k").cast("int")
    return page_pairs_topk_frame(_events(spark, sf_dir), page)


def page_pairs_topk_frame(rows: DataFrame, page: Column) -> DataFrame:
    """The 15 page pairs seen together in most sessions (1h gap), from
    (user_id, ts, event_id) rows and their ``page``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = rows.select(
        "user_id", "ts", "event_id", page.alias("page"),
        F.when(gap.isNull() | (gap >= 3600), 1).otherwise(0).alias("is_new"),
    ).withColumn(
        "sid",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sets = (
        sess.select("user_id", "sid", "page")
        .distinct()
        .groupBy("user_id", "sid")
        .agg(F.array_sort(F.collect_list("page")).alias("pages"))
    )
    pair = F.flatten(
        F.transform(
            F.col("pages"),
            lambda x, i: F.transform(
                F.slice(F.col("pages"), i + 2, F.size(F.col("pages"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(pair).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    rk = Window.orderBy(F.desc("cnt"), "pa", "pb")
    return (
        pairs.withColumn("rk", F.row_number().over(rk).cast("long"))
        .where(F.col("rk") <= 15)
    )


@query(
    "events_dau_wau_mau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS d, user_id
      FROM events
    ), dau AS (
      SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY d
    ), wau AS (
      SELECT CAST(du.d + CAST(g.delta AS INT) AS DATE) AS d,
             CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM du, LATERAL unnest(generate_series(0, 6)) AS g(delta)
      GROUP BY 1
    ), mau AS (
      SELECT CAST(du.d + CAST(g.delta AS INT) AS DATE) AS d,
             CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM du, LATERAL unnest(generate_series(0, 29)) AS g(delta)
      GROUP BY 1
    )
    SELECT CAST(dau.d AS TIMESTAMP) AS day, dau, wau, mau
    FROM dau JOIN wau ON dau.d = wau.d JOIN mau ON dau.d = mau.d
    ORDER BY day
    """,
    doc=(
        "DAU / WAU / MAU - the flagship product-analytics triple "
        "(daily actives + trailing-7-day and trailing-30-day distinct "
        "actives per day): the (day, user) DISTINCT census built once "
        "(one shuffle, partial agg absorbs repeat events), then each "
        "census row PROJECTS FORWARD into the 7 / 30 trailing windows "
        "it serves via an integer explode - turning the 'distinct "
        "over a sliding window' problem (not incrementally "
        "aggregatable) into two plain distinct-count shuffles over "
        "censusx7 and censusx30 rows. The census is users-x-days "
        "bounded (never event volume); the explode factor is a "
        "constant. Only days with activity emit (inner join to the "
        "DAU census)."
    ),
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    du = (
        ev.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
        )
        .distinct()
        .persist()
    )
    return dau_wau_mau_frame(du)


def dau_wau_mau_frame(du: DataFrame) -> DataFrame:
    """Daily, trailing-7-day and trailing-30-day active users, from
    distinct (day ``d``, user_id) rows."""
    dau = du.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))

    def trailing(n: int, alias: str):
        return (
            du.select(
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("delta"),
                "d",
                "user_id",
            )
            .select(F.date_add(F.col("d"), F.col("delta")).alias("d"), "user_id")
            .groupBy("d")
            .agg(F.countDistinct("user_id").cast("long").alias(alias))
        )

    return (
        dau.join(trailing(7, "wau"), "d")
        .join(trailing(30, "mau"), "d")
        .select(F.col("d").cast("timestamp").alias("day"), "dau", "wau", "mau")
    )


@query(
    "events_value_quantiles_by_type",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT event_type, cents, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM c
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN cum >= (95 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p95_cents,
           CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p99_cents
    FROM r GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "EXACT per-type p50/p95/p99 value quantiles - the latency/"
        "value-distribution dashboard row, computed without "
        "approximation OR a per-row global sort: one shuffle into the "
        "(type, cents) VALUE census (partial agg absorbs repeats), a "
        "cumulative count over the census, and each quantile is the "
        "smallest value whose cumulative count reaches ceil(q*n) - "
        "exact integer order statistics (the census-and-cumulate "
        "pattern of quantile_exact_median, per key and for three "
        "quantiles in ONE conditional-aggregate pass). The census is "
        "value-domain-bounded (cents), never row-bounded - the "
        "property that keeps exact quantiles feasible at 100 TB "
        "where sort-based percentile_exact is not."
    ),
)
def events_value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return value_quantiles_frame(value_cent_counts(_events(spark, sf_dir)))


def value_cent_counts(ev: DataFrame) -> DataFrame:
    """Events per (event_type, value rounded to cents)."""
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy("event_type", cents.alias("cents")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def value_quantiles_frame(c: DataFrame) -> DataFrame:
    """Exact p50/p95/p99 cents per event type from the cent counts."""
    w = Window.partitionBy("event_type").orderBy("cents")
    r = c.select(
        "event_type", "cents",
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    qcol = lambda q: F.min(  # noqa: E731
        F.when(F.expr(f"cum >= ({q} * n + 99) DIV 100"), F.col("cents"))
    ).cast("long")
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        qcol(50).alias("p50_cents"),
        qcol(95).alias("p95_cents"),
        qcol(99).alias("p99_cents"),
    )


@query(
    "events_dau_wau_mau_hll",
    oracle=None,  # DataSketches HLL registers are engine-specific;
    # pinned by tests/test_round10.py::test_dau_wau_mau_hll_error_bound
    # (|hll - exact| <= 5 * rsd per day per metric, the uv_approx_hll
    # contract) and the exact-twin equality test for the streaming pair
    doc=(
        "sketch-tier DAU/WAU/MAU (round-9 verdict #2) - the 100 TB "
        "dashboard path for events_dau_wau_mau: ONE shuffle builds a "
        "per-day DataSketches HLL of user_ids (hll_sketch_agg, "
        "lgConfigK=12 -> ~1.6% rsd at a few KB per day), then the "
        "trailing 7- and 30-day windows are SKETCH MERGES "
        "(hll_union_agg over a constant forward-projection explode of "
        "the day-sketch frame) - so unlike the exact twin, nothing "
        "after the first shuffle ever touches user-granularity rows: "
        "the explode/merge runs on #days x k sketch rows where the "
        "exact path re-shuffles censusx7 + censusx30 (user, day) "
        "rows. HLL register merge is a per-bucket max - order- and "
        "partitioning-insensitive, so the estimate is deterministic "
        "for a given corpus. Inner join to the day frame keeps only "
        "days with activity (exact-twin semantics)."
    ),
    bench=True,
)
def events_dau_wau_mau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # per-day HLL sketch: the ONLY event-volume shuffle (partial
    # hll_sketch_agg absorbs repeat (day,user) events map-side);
    # persisted - consumed 3x (dau estimate + two trailing merges)
    day_sk = (
        ev.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
        )
        .groupBy("d")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
        .persist()
    )
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
    "events_decayed_popularity",
    oracle="""
    WITH census AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             CAST(props->>'$.k' AS INT) AS page,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events
      GROUP BY 1, 2
    ), mx AS (
      SELECT max(d) AS max_d FROM census
    )
    SELECT page,
           CAST(sum(cnt) AS BIGINT) AS total_events,
           CAST(sum(CAST(cnt AS HUGEINT)
                    * (CAST(1 AS BIGINT) << (29 - datediff('day', d, max_d))))
                AS DOUBLE) AS decayed_score
    FROM census, mx
    WHERE datediff('day', d, max_d) <= 29
    GROUP BY page
    ORDER BY decayed_score DESC, page
    LIMIT 10
    """,
    doc=(
        "exponential-decay trending pages - the 'what is hot NOW' "
        "ranking every content dashboard runs (recency-weighted "
        "popularity, Reddit/HN-style), computed EXACTLY: the (day, "
        "page) census is built in one partial-agg shuffle, each "
        "census row is weighted by the integer power-of-two half-life "
        "weight 2^(29 - age_days) (the census is FILTERED to the "
        "30-day horizon on both engines, so the shift amount is "
        "provably in [0, 29] - an exact BIGINT shift, no float pow, "
        "no cross-engine rounding, and no negative-shift divergence "
        "on longer spans), and the per-page fold runs "
        "in DECIMAL(38,0) so the sum is exact at any count (the "
        "final DOUBLE cast is presentation only - both engines cast "
        "the same exact integer). The "
        "horizon anchor max(day) is a 1-row broadcast off the "
        "persisted census; top-10 rides TakeOrderedAndProject. At "
        "100 TB the event scan collapses into the days x pages "
        "census in its ONE shuffle and every later step is "
        "census-sized - the same shape as events_dau_wau_mau."
    ),
    bench=True,
)
def events_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted: 2 consumers (max-day anchor, weighted fold)
    census = day_page_counts(_events(spark, sf_dir)).persist()
    return decayed_popularity_frame(census)


def day_page_counts(ev: DataFrame) -> DataFrame:
    """Events per (day ``d``, page)."""
    page = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        page.alias("page"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def decayed_popularity_frame(census: DataFrame) -> DataFrame:
    """The 10 pages with the highest daily-halving decayed event count
    over the 30 days up to the last day, from the (d, page) counts."""
    mx = census.agg(F.max("d").alias("max_d"))
    # 30-day horizon filter BEFORE the shift: days older than the
    # horizon would make the shift amount negative — DuckDB errors on a
    # negative shift while Spark's shiftleft masks the amount mod 64 and
    # silently fabricates weights (round-11 ADVICE). The docstring's
    # horizon is now enforced, not assumed, on both engines.
    weighted = (
        census.crossJoin(F.broadcast(mx))
        .where(F.expr("datediff(max_d, d) <= 29"))
        .select(
            "page",
            "cnt",
            F.expr(
                "CAST(cnt AS DECIMAL(38,0))"
                " * CAST(SHIFTLEFT(CAST(1 AS BIGINT),"
                "        29 - datediff(max_d, d)) AS DECIMAL(38,0))"
            ).alias("w"),
        )
    )
    return (
        weighted.groupBy("page")
        .agg(
            F.sum("cnt").cast("long").alias("total_events"),
            F.sum("w").cast("double").alias("decayed_score"),
        )
        .orderBy(F.col("decayed_score").desc(), "page")
        .limit(10)
    )


@query(
    "user_interarrival_bots",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms
      FROM events
    ), g AS (
      SELECT user_id,
             ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
                                      ORDER BY ts_ms, event_id) AS gap_ms
      FROM e
    ), s AS (
      SELECT user_id,
             CAST(count(gap_ms) AS BIGINT) AS n_gaps,
             CAST(count(*) FILTER (WHERE gap_ms < 60000) AS BIGINT)
               AS burst_gaps
      FROM g GROUP BY user_id
    )
    SELECT user_id, n_gaps, burst_gaps,
           CAST(burst_gaps * 10000 // n_gaps AS BIGINT) AS burst_share_bp,
           (burst_gaps * 2 >= n_gaps) AS is_bot
    FROM s WHERE n_gaps >= 20
    ORDER BY user_id
    """,
    doc=(
        "inter-arrival burstiness screen - the classic bot/scripted-"
        "traffic signal (humans pause; scripts fire sub-minute "
        "bursts): per user, consecutive event gaps in exact integer "
        "milliseconds (epoch_ms on both engines - no float seconds, "
        "no truncation mismatch), the share of gaps under 60 s in "
        "exact bp, and the bot flag at >= 50%% by integer cross-"
        "multiplication (burst_gaps * 2 >= n_gaps, no division). "
        "Users with < 20 gaps are suppressed (warm-up, same policy "
        "as the rate-spike monitor). ONE user_id shuffle serves "
        "both the lag window and the per-user aggregate - the "
        "partitioning is reused, so at 100 TB this is a single "
        "pass over events with census-sized output."
    ),
)
def user_interarrival_bots(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    g = ev.select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms")
    ).withColumn("gap_ms", F.col("ts_ms") - F.lag("ts_ms").over(w))
    s = g.groupBy("user_id").agg(
        F.count("gap_ms").cast("long").alias("n_gaps"),
        F.count(F.when(F.col("gap_ms") < 60000, 1))
        .cast("long")
        .alias("burst_gaps"),
    )
    return interarrival_bots_frame(s)


def interarrival_bots_frame(s: DataFrame) -> DataFrame:
    """Users with at least 20 inter-event gaps, their sub-minute gap
    share and the bot flag (half or more), from per-user (n_gaps,
    burst_gaps)."""
    return s.where(F.col("n_gaps") >= 20).select(
        "user_id",
        "n_gaps",
        "burst_gaps",
        F.expr("CAST(burst_gaps * 10000 DIV n_gaps AS BIGINT)").alias(
            "burst_share_bp"
        ),
        (F.col("burst_gaps") * 2 >= F.col("n_gaps")).alias("is_bot"),
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, value,
             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,
             CAST(props->>'$.k' AS INT) AS page
      FROM events
    ), t AS (
      SELECT *,
             last_value(CASE WHEN event_type = 'click'
                             AND page BETWEEN 0 AND 999
                             THEN ts_ms * 1000 + page END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pack
      FROM e
    )
    SELECT CAST(pack % 1000 AS INT) AS page,
           CAST(count(*) AS BIGINT) AS n_attributed,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS attributed_cents
    FROM t
    WHERE event_type = 'purchase' AND pack IS NOT NULL
      AND pack // 1000 >= ts_ms - 86400000
    GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "last-touch conversion attribution - the ads/growth query "
        "behind 'which page drives purchases': each purchase credits "
        "the user's latest click STRICTLY before it (ts, then "
        "event_id - deterministic even on timestamp ties) within a "
        "24 h window. The carried click is a single packed BIGINT "
        "(ts_ms * 1000 + page - exact, no struct-ordering "
        "portability hazard) via last(... IGNORE NULLS) over the "
        "user timeline, so the whole attribution is ONE user_id "
        "shuffle with no purchase-x-click join at all (the naive "
        "formulation is an interval self-join that explodes on "
        "active users); revenue lands in exact integer cents. The "
        "page census output is catalog-bounded at 100 TB."
    ),
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    page = F.get_json_object("props", "$.k").cast("int")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_millis("ts").alias("ts_ms"),
        page.alias("page"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = e.withColumn(
        "pack",
        F.last(
            # the pack reserves 3 decimal digits for the page, so the
            # encoding is only valid for page in [0, 1000) — enforced
            # here on BOTH engines rather than assumed from the current
            # 0-99 catalog (round-11 ADVICE: a wider catalog would
            # silently corrupt attribution identically on both sides,
            # parity-green but wrong)
            F.when(
                (F.col("event_type") == "click")
                & F.col("page").between(0, 999),
                F.col("ts_ms") * 1000 + F.col("page"),
            ),
            ignorenulls=True,
        ).over(w),
    )
    return (
        t.where(
            (F.col("event_type") == "purchase")
            & F.col("pack").isNotNull()
            & (F.expr("pack DIV 1000") >= F.col("ts_ms") - 86400000)
        )
        .groupBy(F.expr("CAST(pack % 1000 AS INT)").alias("page"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_attributed"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("attributed_cents"),
        )
    )


@query(
    "session_duration_quantiles",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms
      FROM events
    ), g AS (
      SELECT user_id, ts_ms, event_id,
             CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
                    ORDER BY ts_ms, event_id) > 3600000
                  THEN 1 ELSE 0 END AS brk
      FROM e
    ), s AS (
      SELECT user_id, ts_ms,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), d AS (
      SELECT (max(ts_ms) - min(ts_ms)) // 1000 AS dur_s
      FROM s GROUP BY user_id, sid
    ), c AS (
      SELECT dur_s, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY dur_s
    ), r AS (
      SELECT dur_s, cnt,
             sum(cnt) OVER (ORDER BY dur_s ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER () AS n
      FROM c
    )
    SELECT CAST(max(n) AS BIGINT) AS n_sessions,
           CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN dur_s END)
                AS BIGINT) AS p50_s,
           CAST(min(CASE WHEN cum >= (90 * n + 99) // 100 THEN dur_s END)
                AS BIGINT) AS p90_s,
           CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN dur_s END)
                AS BIGINT) AS p99_s
    FROM r
    """,
    doc=(
        "session-duration quantiles - the engagement-dashboard "
        "headline (p50/p90/p99 time-on-site): 1 h lag-gap sessions "
        "(the session_funnel_conversion sessionization, ONE user_id "
        "shuffle reused by lag + cumulative-sum + the per-session "
        "reduce), session durations in exact integer seconds, then "
        "EXACT quantiles by census-and-cumulate over the duration "
        "value domain (the events_value_quantiles_by_type pattern, "
        "global) - never a row sort, never an approximation. At "
        "100 TB: one event shuffle, then a duration-domain-bounded "
        "census."
    ),
)
def session_duration_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    e = ev.select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms")
    )
    return session_duration_frame(e)


def session_duration_frame(e: DataFrame) -> DataFrame:
    """Session count and exact p50/p90/p99 session durations (1h gap)
    from (user_id, event_id, ts_ms) rows."""
    wl = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    g = e.withColumn(
        "brk",
        F.when(
            F.col("ts_ms") - F.lag("ts_ms").over(wl) > 3600000, 1
        ).otherwise(0),
    )
    s = g.withColumn(
        "sid",
        # (ts_ms, event_id) — the SAME total order as the lag window:
        # a ROWS frame without the tie-break is nondeterministic on
        # duplicate (user, ts) rows and the engines could sessionize
        # differently (round-11 ADVICE; latent — no ties in the data)
        F.sum("brk").over(
            Window.partitionBy("user_id")
            .orderBy("ts_ms", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    d = s.groupBy("user_id", "sid").agg(
        F.expr("(max(ts_ms) - min(ts_ms)) DIV 1000").alias("dur_s")
    )
    return duration_quantiles(d)


def duration_quantiles(d: DataFrame) -> DataFrame:
    """Session count and exact p50/p90/p99 of the sessions' ``dur_s``."""
    c = d.groupBy("dur_s").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    r = c.select(
        "dur_s",
        F.sum("cnt")
        .over(
            Window.orderBy("dur_s").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy(F.lit(1))
        ).alias("n"),
    )
    qcol = lambda q, nm: F.min(  # noqa: E731
        F.when(F.expr(f"cum >= ({q} * n + 99) DIV 100"), F.col("dur_s"))
    ).cast("long").alias(nm)
    return r.agg(
        F.max("n").cast("long").alias("n_sessions"),
        qcol(50, "p50_s"),
        qcol(90, "p90_s"),
        qcol(99, "p99_s"),
    )


@query(
    "browse_prediction_accuracy",
    oracle="""
    WITH pages AS (
      SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS page
      FROM events
    ), hops AS (
      SELECT lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS src,
             page AS dst, CAST(ts AS TIMESTAMP) AS t
      FROM pages
    ), clean AS (
      SELECT src, dst, t FROM hops WHERE src IS NOT NULL AND src <> dst
    ), train AS (
      SELECT src, dst, count(*) AS cnt FROM clean
      WHERE t < TIMESTAMP '2024-01-16' GROUP BY 1, 2
    ), model AS (
      SELECT src, dst AS pred FROM (
        SELECT *, row_number() OVER (PARTITION BY src
                    ORDER BY cnt DESC, dst) AS rk
        FROM train
      ) WHERE rk = 1
    ), test AS (
      SELECT src, dst FROM clean WHERE t >= TIMESTAMP '2024-01-16'
    ), joined AS (
      SELECT te.dst, m.pred
      FROM test te LEFT JOIN model m ON m.src = te.src
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST(count(pred) AS BIGINT) AS n_covered,
             CAST(count(*) FILTER (WHERE dst = pred) AS BIGINT) AS n_correct
      FROM joined
    ), tr AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_train FROM train
    )
    SELECT n_train, n_test, n_covered, n_correct,
           CAST(CASE WHEN n_covered = 0 THEN 0
                ELSE n_correct * 10000 // n_covered END AS BIGINT)
             AS accuracy_bp,
           CAST(CASE WHEN n_test = 0 THEN 0
                ELSE n_covered * 10000 // n_test END AS BIGINT)
             AS coverage_bp
    FROM agg, tr
    """,
    doc=(
        "next-page prediction accuracy - the eval-harness row for the "
        "browse-graph Markov model (the behavioral family's "
        "similarity_recall_ivf): TEMPORAL holdout split (train on "
        "transitions before Jan 16, the corpus midpoint; test on the "
        "rest - the only honest split for a sequence model, never "
        "random), top-1 next page per source from the train counts "
        "(ties to the smaller page, the browse_transition_topk rank "
        "rule), then exact integer top-1 accuracy and model coverage "
        "on the held-out transitions. The transition frame is built "
        "ONCE (persisted) and both splits are filters over it; the "
        "model is the page-catalog census and broadcasts onto the "
        "test side - at 100 TB this is one user shuffle + one edge "
        "census, the browse_transition cost, with the eval adding "
        "census-sized work. Low accuracy here is the signal the "
        "prefetch/recommendation tier needs more than first-order "
        "transitions."
    ),
)
def browse_prediction_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    page = F.get_json_object("props", "$.k").cast("int")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = ev.select(
        "user_id", "ts", "event_id", page.alias("page")
    ).select(
        F.lag("page").over(w).alias("src"),
        F.col("page").alias("dst"),
        F.col("ts").alias("t"),
    )
    # persisted: the train census and the test filter both read it
    clean = (
        hops.where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .persist()
    )
    split = F.lit("2024-01-16").cast("timestamp")
    train = (
        clean.where(F.col("t") < split)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()  # 2 consumers: the model rank + the n_train total
    )
    rk = Window.partitionBy("src").orderBy(F.desc("cnt"), "dst")
    model = (
        train.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select(F.col("src").alias("m_src"), F.col("dst").alias("pred"))
    )
    test = clean.where(F.col("t") >= split).select("src", "dst")
    joined = test.join(
        F.broadcast(model), test["src"] == model["m_src"], "left"
    )
    agg = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.count("pred").cast("long").alias("n_covered"),
        F.count(F.when(F.col("dst") == F.col("pred"), 1))
        .cast("long")
        .alias("n_correct"),
    )
    tr = train.agg(F.sum("cnt").cast("long").alias("n_train"))
    return agg.crossJoin(F.broadcast(tr)).select(
        "n_train",
        "n_test",
        "n_covered",
        "n_correct",
        F.expr(
            "CAST(CASE WHEN n_covered = 0 THEN 0"
            " ELSE n_correct * 10000 DIV n_covered END AS BIGINT)"
        ).alias("accuracy_bp"),
        F.expr(
            "CAST(CASE WHEN n_test = 0 THEN 0"
            " ELSE n_covered * 10000 DIV n_test END AS BIGINT)"
        ).alias("coverage_bp"),
    )


def prequential_summary(clean: DataFrame) -> DataFrame:
    """Shared prequential (test-then-train) evaluator over a clean
    transition frame (src, dst, ts_ms, eid): per SRC page the online
    model is the running dst-count census, each transition is first
    TESTED against the model built from strictly-prior transitions
    (order (ts_ms, eid); prediction = max count, tie to the smaller
    dst) and then TRAINED on — the Gama et al. prequential protocol,
    the only evaluation that prices a model as it actually serves.
    Keyed by src, so per-key walks are independent and the global
    interleaving is irrelevant: a prediction for src s reads only
    counts[s]. The walk is genuinely sequential (argmax against a
    state that every step mutates — the CEP/NFA class of logic), so
    it runs as one applyInPandas pass per src group with the
    partition count pinned (AQE byte-coalescing would collapse the
    CPU-bound stage); group size is transitions-per-page, and state
    is the dst census of one page. Output: ONE summary row."""
    import pandas as pd

    def walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts_ms", "eid"])
        counts: dict[int, int] = {}
        covered = correct = 0
        for d in pdf["dst"].astype("int64"):
            d = int(d)
            if counts:
                covered += 1
                # max count, tie -> smaller dst
                pred = min((-c, k) for k, c in counts.items())[1]
                if pred == d:
                    correct += 1
            counts[d] = counts.get(d, 0) + 1
        return pd.DataFrame(
            [(len(pdf), covered, correct)],
            columns=["n_test", "n_covered", "n_correct"],
        )

    n_parts = int(
        clean.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    per_src = (
        clean.repartition(n_parts, "src")
        .groupBy("src")
        .applyInPandas(
            lambda pdf: walk(pdf),
            "n_test long, n_covered long, n_correct long",
        )
    )
    return prequential_rates(
        per_src.agg(
            F.sum("n_test").cast("long").alias("n_test"),
            F.sum("n_covered").cast("long").alias("n_covered"),
            F.sum("n_correct").cast("long").alias("n_correct"),
        )
    )


def prequential_rates(counts: DataFrame) -> DataFrame:
    """The (n_test, n_covered, n_correct) summary row with its accuracy
    and coverage in basis points."""
    return counts.select(
        "n_test",
        "n_covered",
        "n_correct",
        F.expr(
            "CAST(CASE WHEN n_covered = 0 THEN 0"
            " ELSE n_correct * 10000 DIV n_covered END AS BIGINT)"
        ).alias("accuracy_bp"),
        F.expr(
            "CAST(CASE WHEN n_test = 0 THEN 0"
            " ELSE n_covered * 10000 DIV n_test END AS BIGINT)"
        ).alias("coverage_bp"),
    )


@query(
    "browse_prequential_accuracy",
    # LINEAR prequential oracle (round-12 verdict #3; replaces the
    # quadratic strictly-prior self-join that was sf0.01-bounded). The
    # running argmax the walk maintains has a closed scan form: the count
    # of dst d among the prior transitions of src s equals the largest
    # within-(s,d) row_number among them, so the model's prediction at
    # each test point is the dst of the prior row maximizing
    # (within-(src,dst) row_number, then smaller dst) — ONE running max
    # over a packed key, O(n log n). Pack: rn * 2^20 + (2^20-1 - dst)
    # (pages are catalog-bounded ints in [0, 2^20); larger rn wins, ties
    # resolve to the SMALLER dst exactly like the walk's min((-c, k))).
    # This is a genuinely different formulation from the engine's
    # sequential test-then-train walk — their sf1 hash agreement is
    # independent evidence, not a shared derivation.
    oracle="""
    WITH pages AS (
      SELECT user_id, event_id,
             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,
             CAST(props->>'$.k' AS INT) AS page
      FROM events
    ), hops AS (
      SELECT lag(page) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
               AS src,
             page AS dst, ts_ms, event_id AS eid
      FROM pages
    ), clean AS (
      -- loud domain guard (round-12 ADVICE): the packed key below is
      -- only injective for pages in [0, 2^20); a datagen change past
      -- that bound must ERROR, not yield plausible-but-wrong accuracy
      SELECT src, dst, ts_ms, eid FROM hops
      WHERE src IS NOT NULL AND src <> dst
        AND CASE WHEN dst BETWEEN 0 AND 1048575 THEN TRUE
             ELSE CAST(error('prequential page outside [0, 2^20) '
                             'corrupts the packed scan key') AS BOOLEAN)
            END
    ), rn AS (
      SELECT src, dst, ts_ms, eid,
             CAST(row_number() OVER (PARTITION BY src, dst
                    ORDER BY ts_ms, eid) AS BIGINT) AS rn
      FROM clean
    ), scan AS (
      SELECT dst,
             max(rn * 1048576 + (1048575 - dst)) OVER (
               PARTITION BY src ORDER BY ts_ms, eid
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
      FROM rn
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST(count(best) AS BIGINT) AS n_covered,
             CAST(count(*) FILTER (
               WHERE 1048575 - (best % 1048576) = dst) AS BIGINT)
               AS n_correct
      FROM scan
    )
    SELECT n_test, n_covered, n_correct,
           CAST(CASE WHEN n_covered = 0 THEN 0
                ELSE n_correct * 10000 // n_covered END AS BIGINT)
             AS accuracy_bp,
           CAST(CASE WHEN n_test = 0 THEN 0
                ELSE n_covered * 10000 // n_test END AS BIGINT)
             AS coverage_bp
    FROM agg
    """,
    doc=(
        "PREQUENTIAL (test-then-train) next-page accuracy - the "
        "online-learning evaluation browse_prediction_accuracy's "
        "temporal split cannot express (Gama et al.'s protocol, the "
        "standard for stream mining): every transition is first "
        "TESTED against the Markov model built from strictly-prior "
        "traffic, then immediately TRAINED on - so the score prices "
        "the model exactly as it would have served in production, "
        "over the whole stream, with zero holdout waste. Per-src "
        "independence makes it distributed: the model for page s is "
        "only counts[s], so the walk shards by src (catalog-bounded "
        "groups, one applyInPandas pass, partition count pinned "
        "against AQE collapse) after ONE user-shuffle lag builds the "
        "transition frame. The oracle is a genuinely DIFFERENT "
        "formulation (round 12): a linear packed running-max scan - "
        "the prior-count argmax equals the prior row maximizing "
        "(within-(src,dst) row_number, smaller dst), one window pass, "
        "O(n log n) - so it runs at sf1 and its hash agreement with "
        "the sequential walk is independent evidence. At 100 TB: one "
        "event shuffle + one page-bounded pandas stage."
    ),
)
def browse_prequential_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    hops = prequential_hops(_events(spark, sf_dir))
    clean = hops.where(
        F.col("src").isNotNull() & (F.col("src") != F.col("dst"))
    )
    return prequential_summary(clean)


def prequential_hops(ev: DataFrame) -> DataFrame:
    """Each user's page hops (src, dst) in (ts_ms, eid) order, with the
    hop's ts_ms and eid."""
    page = F.get_json_object("props", "$.k").cast("int")
    pages = ev.select(
        "user_id",
        F.col("event_id").alias("eid"),
        F.unix_millis("ts").alias("ts_ms"),
        page.alias("page"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "eid")
    return pages.select(
        F.lag("page").over(w).alias("src"),
        F.col("page").alias("dst"),
        "ts_ms",
        "eid",
    )


@query(
    "browse_prequential_accuracy_scan",
    twin="browse_prequential_accuracy",
    doc=(
        "the prequential accuracy computed WITHOUT the sequential "
        "walk - a pure JVM window-scan twin of "
        "browse_prequential_accuracy (round 12): the walk's running "
        "dst-count argmax (tie to smaller dst) at each test point "
        "equals the strictly-prior transition maximizing "
        "(within-(src,dst) row_number, then smaller dst), so TWO "
        "window passes - row_number over (src,dst), running max of "
        "the packed key rn*2^20+(2^20-1-dst) over src - replace the "
        "applyInPandas stage entirely. Whole plan is whole-stage-"
        "codegen JVM expressions: at 100 TB this is the form to "
        "deploy (no Python workers, no Arrow transfer, two sort-"
        "shuffles that AQE sizes), while the walk twin remains the "
        "template for models whose update step has no closed scan "
        "form. Three independent formulations now agree: the pandas "
        "walk, this packed scan, and the DuckDB oracle (plus the "
        "pure-Python model test and the streaming extractor)."
    ),
)
def browse_prequential_accuracy_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hops = prequential_hops(_events(spark, sf_dir))
    R = 1 << 20  # pages are catalog-bounded ints in [0, 2^20)
    # loud domain guard (round-12 ADVICE): the packed key is only
    # injective for pages in [0, 2^20); a datagen change past that
    # bound must FAIL the job, not yield plausible-but-wrong accuracy
    domain_ok = F.coalesce(
        F.assert_true(
            (F.col("dst") >= 0) & (F.col("dst") < R),
            "prequential page outside [0, 2^20) corrupts the packed "
            "scan key",
        ).cast("boolean"),
        F.lit(True),
    )
    clean = hops.where(
        F.col("src").isNotNull()
        & (F.col("src") != F.col("dst"))
        & domain_ok
    )
    rn = F.row_number().over(
        Window.partitionBy("src", "dst").orderBy("ts_ms", "eid")
    )
    packed = rn.cast("long") * F.lit(R) + (F.lit(R - 1) - F.col("dst"))
    scan = clean.withColumn("packed", packed).select(
        "dst",
        F.max("packed")
        .over(
            Window.partitionBy("src")
            .orderBy("ts_ms", "eid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("best"),
    )
    pred = F.lit(R - 1) - (F.col("best") % F.lit(R))
    return prequential_rates(
        scan.agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.count("best").cast("long").alias("n_covered"),
            F.count(F.when(pred == F.col("dst"), 1)).cast("long").alias(
                "n_correct"
            ),
        )
    )


def prequential_by_day(clean: DataFrame) -> DataFrame:
    """Per-DAY prequential accuracy over a clean transition frame —
    the drift-monitoring readout (a falling curve = the browse graph
    is shifting faster than the model accumulates; the day the curve
    drops is the day to investigate). Same sharded test-then-train
    walk as prequential_summary; days are exact integer epoch-day
    indexes (ts_ms DIV 86400000 — no cross-engine calendar math)."""
    import pandas as pd

    def walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts_ms", "eid"])
        counts: dict[int, int] = {}
        days: dict[int, list[int]] = {}
        for d, day in zip(
            pdf["dst"].astype("int64"), pdf["epoch_day"].astype("int64")
        ):
            d, day = int(d), int(day)
            rec = days.setdefault(day, [0, 0, 0])
            rec[0] += 1
            if counts:
                rec[1] += 1
                pred = min((-c, k) for k, c in counts.items())[1]
                if pred == d:
                    rec[2] += 1
            counts[d] = counts.get(d, 0) + 1
        return pd.DataFrame(
            [(day, *rec) for day, rec in days.items()],
            columns=["epoch_day", "n_test", "n_covered", "n_correct"],
        )

    n_parts = int(
        clean.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    per_src_day = (
        clean.withColumn("epoch_day", F.expr("ts_ms DIV 86400000"))
        .repartition(n_parts, "src")
        .groupBy("src")
        .applyInPandas(
            lambda pdf: walk(pdf),
            "epoch_day long, n_test long, n_covered long, n_correct long",
        )
    )
    return per_src_day.groupBy("epoch_day").agg(
        F.sum("n_test").cast("long").alias("n_test"),
        F.sum("n_covered").cast("long").alias("n_covered"),
        F.sum("n_correct").cast("long").alias("n_correct"),
    ).select(
        "epoch_day",
        "n_test",
        "n_covered",
        "n_correct",
        F.expr(
            "CAST(CASE WHEN n_covered = 0 THEN 0"
            " ELSE n_correct * 10000 DIV n_covered END AS BIGINT)"
        ).alias("accuracy_bp"),
    )


@query(
    "browse_prequential_drift",
    oracle="""
    WITH pages AS (
      SELECT user_id, event_id,
             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,
             CAST(props->>'$.k' AS INT) AS page
      FROM events
    ), hops AS (
      SELECT lag(page) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
               AS src,
             page AS dst, ts_ms, event_id AS eid
      FROM pages
    ), clean AS (
      -- same loud page-domain guard as browse_prequential_accuracy (r12 ADVICE)
      SELECT src, dst, ts_ms, eid, ts_ms // 86400000 AS epoch_day
      FROM hops WHERE src IS NOT NULL AND src <> dst
        AND CASE WHEN dst BETWEEN 0 AND 1048575 THEN TRUE
             ELSE CAST(error('prequential page outside [0, 2^20) '
                             'corrupts the packed scan key') AS BOOLEAN)
            END
    ), rn AS (
      -- linear packed-scan form (round-12 verdict #3): see the
      -- browse_prequential_accuracy oracle for the equivalence argument
      SELECT src, dst, ts_ms, eid, epoch_day,
             CAST(row_number() OVER (PARTITION BY src, dst
                    ORDER BY ts_ms, eid) AS BIGINT) AS rn
      FROM clean
    ), scan AS (
      SELECT dst, epoch_day,
             max(rn * 1048576 + (1048575 - dst)) OVER (
               PARTITION BY src ORDER BY ts_ms, eid
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
      FROM rn
    ), agg AS (
      SELECT epoch_day,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(count(best) AS BIGINT) AS n_covered,
             CAST(count(*) FILTER (
               WHERE 1048575 - (best % 1048576) = dst) AS BIGINT)
               AS n_correct
      FROM scan GROUP BY epoch_day
    )
    SELECT epoch_day, n_test, n_covered, n_correct,
           CAST(CASE WHEN n_covered = 0 THEN 0
                ELSE n_correct * 10000 // n_covered END AS BIGINT)
             AS accuracy_bp
    FROM agg
    ORDER BY epoch_day
    """,
    doc=(
        "prequential accuracy BY DAY - the drift-monitoring curve "
        "(Gama et al. section on forgetting/drift: a model whose "
        "daily prequential accuracy falls is being outrun by "
        "distribution shift, and the day it drops names when): same "
        "sharded test-then-train walk as browse_prequential_accuracy "
        "with per-epoch-day counters (exact integer day index "
        "ts_ms DIV 86400000 - no cross-engine calendar math), "
        "emitting (day, n_test, n_covered, n_correct, accuracy_bp) - "
        "a #days-bounded census. Same plan shape: one user-shuffle "
        "lag + one pinned-partition pandas walk, no join; the oracle "
        "is the linear packed running-max scan (round 12), so it "
        "verifies at sf1 like the summary form."
    ),
)
def browse_prequential_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    hops = prequential_hops(_events(spark, sf_dir))
    clean = hops.where(
        F.col("src").isNotNull() & (F.col("src") != F.col("dst"))
    )
    return prequential_by_day(clean)
