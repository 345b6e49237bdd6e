"""MATCH_RECOGNIZE SQL queries over the events table.

The reference drives row-pattern matching through Flink SQL
(``QueryTest.scala:942-1026``, ``TableSQLFunc.scala:1569-2248``,
``TableSQLFunc2.scala:20-133``); here the SAME SQL text (ticker
column names, modulo a deterministic ``rid`` ORDER BY tiebreaker)
runs through the ``operators/match_recognize`` translator against the
purchases stream viewed as a ticker: symbol=user_id, rowtime=ts,
price=value.

Oracles replay the eager winner-takes-all semantics (see the
translator's module doc) in closed form: contiguous runs become
dir-islands over a row_number sequence, and the consuming AFTER MATCH
strategies become a recursive-CTE walk (SKIP TO NEXT ROW needs none —
every anchor is independent).

Scale: one shuffle on the partition key into ``applyInPandas``; state
per task is one user's purchase history — the same shape as every
other keyed-NFA operator in this engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.match_recognize import match_recognize
from .registry import query

# shared oracle prelude: purchases as a per-user ticker with row
# numbers and a direction flag vs the previous row
_BASE = """
    WITH RECURSIVE pur AS (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), base AS (
      SELECT user_id, event_id, value, ts,
             row_number() OVER w AS rn,
             CASE WHEN value < lag(value) OVER w THEN -1
                  WHEN value > lag(value) OVER w THEN 1
                  ELSE 0 END AS dir
      FROM pur
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
"""


def _ticker(ev: DataFrame, cents: bool = False) -> DataFrame:
    """The purchases in ``ev`` (the events table or its stream) as a
    per-user ticker: symbol, rowtime, price, rid."""
    price = (
        F.round(F.col("value") * 100).cast("long") if cents else F.col("value")
    )
    return ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("symbol"),
        F.col("ts").alias("rowtime"),
        price.alias("price"),
        F.col("event_id").alias("rid"),
    )


@query(
    "match_recognize_v_pattern",
    oracle=_BASE
    + """
    , nx AS (
      SELECT b.*,
             min(CASE WHEN dir <> -1 THEN rn END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_nondown
      FROM base b
    ), match_at AS (
      -- eager PRICE_DOWN+ consumes the whole dir=-1 run p+1..e;
      -- PRICE_UP must take the very next row u and beat the
      -- second-to-last down (LAST(PRICE_DOWN.price,1) during UP eval),
      -- which also forces >= 2 downs (NULL comparison otherwise)
      SELECT p.user_id, p.rn AS pos, p.ts AS start_ts,
             e.ts AS bottom_ts, u.ts AS end_ts, u.rn AS up_rn
      FROM nx p
      JOIN base e  ON e.user_id  = p.user_id AND e.rn  = p.next_nondown - 1
      JOIN base d1 ON d1.user_id = p.user_id AND d1.rn = p.next_nondown - 2
      JOIN base u  ON u.user_id  = p.user_id AND u.rn  = p.next_nondown
      WHERE p.next_nondown IS NOT NULL
        AND p.next_nondown - 1 - p.rn >= 2
        AND u.value > d1.value
    ), walk AS (
      SELECT user_id, CAST(1 AS BIGINT) AS cur
      FROM (SELECT DISTINCT user_id FROM pur)
      UNION ALL
      SELECT w.user_id, m.up_rn
      FROM walk w JOIN match_at m
        ON m.user_id = w.user_id
       AND m.pos = (SELECT min(pos) FROM match_at x
                    WHERE x.user_id = w.user_id AND x.pos >= w.cur)
    )
    SELECT w.user_id AS symbol, m.start_ts AS start_tmstp,
           m.bottom_ts AS bottom_tmstp, m.end_ts AS end_tmstp
    FROM walk w JOIN match_at m
      ON m.user_id = w.user_id
     AND m.pos = (SELECT min(pos) FROM match_at x
                  WHERE x.user_id = w.user_id AND x.pos >= w.cur)
    ORDER BY symbol, start_tmstp
    """,
    doc=(
        "the reference's MATCH_RECOGNIZE V-pattern SQL text "
        "(QueryTest.scala:963-1026) run through the translator on the "
        "purchases ticker: START_ROW PRICE_DOWN+ PRICE_UP with AFTER "
        "MATCH SKIP TO LAST PRICE_UP."
    ),
)
def match_recognize_v_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = match_recognize(
        _ticker(load_table(spark, sf_dir, "events")),
        """
        SELECT * FROM Ticker
          MATCH_RECOGNIZE (
           PARTITION BY symbol
           ORDER BY rowtime, rid
           MEASURES
            START_ROW.rowtime AS start_tmstp,
            LAST(PRICE_DOWN.rowtime) AS bottom_tmstp,
            PRICE_UP.rowtime AS end_tmstp
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO LAST PRICE_UP
           PATTERN (START_ROW PRICE_DOWN+ PRICE_UP)
           DEFINE
             PRICE_DOWN AS
               (LAST(PRICE_DOWN.price,1) IS NULL AND PRICE_DOWN.price < START_ROW.price) OR
               PRICE_DOWN.price < LAST(PRICE_DOWN.price,1),
             PRICE_UP AS
               PRICE_UP.price > LAST(PRICE_DOWN.price,1)
           ) MR
        """,
    )
    return out


# the rise-fall pattern, run by match_recognize_rise_fall and its
# streaming twin
_RISE_FALL = """
        SELECT * FROM Ticker
        MATCH_RECOGNIZE (
         PARTITION BY symbol
         ORDER BY rowtime, rid
         MEASURES
           FIRST(A.price) AS start_price,
           LAST(A.price) AS top_price,
           B.price AS end_price
         ONE ROW PER MATCH
         AFTER MATCH SKIP PAST LAST ROW
         PATTERN (A+ B)
           DEFINE
             A AS LAST(A.price,1) IS NULL OR A.price > LAST(A.price,1),
             B AS B.price < LAST(A.price,1)
         ) MR
        """


@query(
    "match_recognize_rise_fall",
    oracle=_BASE
    + """
    , nx AS (
      SELECT b.*,
             min(CASE WHEN dir <> 1 THEN rn END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_nonup,
             max(rn) OVER (PARTITION BY user_id) AS last_rn
      FROM base b
    ), match_at AS (
      -- eager A+ takes the anchor plus the whole rising run; B is the
      -- next row and must fall below the second-to-last A (>= 2 A's)
      SELECT p.user_id, p.rn AS pos,
             p.value AS start_price, e.value AS top_price,
             f.value AS end_price, f.rn AS b_rn
      FROM nx p
      JOIN base e  ON e.user_id  = p.user_id
                  AND e.rn  = coalesce(p.next_nonup, p.last_rn + 1) - 1
      JOIN base d1 ON d1.user_id = p.user_id
                  AND d1.rn = coalesce(p.next_nonup, p.last_rn + 1) - 2
      JOIN base f  ON f.user_id  = p.user_id
                  AND f.rn  = coalesce(p.next_nonup, p.last_rn + 1)
      WHERE coalesce(p.next_nonup, p.last_rn + 1) - p.rn >= 2
        AND f.value < d1.value
    ), walk AS (
      SELECT user_id, CAST(1 AS BIGINT) AS cur
      FROM (SELECT DISTINCT user_id FROM pur)
      UNION ALL
      SELECT w.user_id, m.b_rn + 1
      FROM walk w JOIN match_at m
        ON m.user_id = w.user_id
       AND m.pos = (SELECT min(pos) FROM match_at x
                    WHERE x.user_id = w.user_id AND x.pos >= w.cur)
    )
    SELECT w.user_id AS symbol,
           m.start_price, m.top_price, m.end_price
    FROM walk w JOIN match_at m
      ON m.user_id = w.user_id
     AND m.pos = (SELECT min(pos) FROM match_at x
                  WHERE x.user_id = w.user_id AND x.pos >= w.cur)
    ORDER BY symbol, m.pos
    """,
    doc=(
        "MATCH_RECOGNIZE rise-then-fall (TableSQLFunc.scala:1766-1790: "
        "PATTERN (A+ B), AFTER MATCH SKIP PAST LAST ROW) on the "
        "purchases ticker via the SQL translator."
    ),
)
def match_recognize_rise_fall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(_ticker(load_table(spark, sf_dir, "events")), _RISE_FALL)


@query(
    "match_recognize_sum_budget",
    oracle="""
    WITH pur AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), base AS (
      SELECT user_id, event_id, cents, ts,
             row_number() OVER w AS rn,
             sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS ps
      FROM pur
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    -- eager A+ anchored at a: consume while the running cents sum
    -- stays under 15000 (positive values -> the prefix-sum cutoff is
    -- exact); B is the next row, matched unconditionally. AFTER MATCH
    -- SKIP TO NEXT ROW -> every anchor is independent.
    SELECT a.user_id AS symbol,
           CAST(re.ps - (a.ps - a.cents) AS BIGINT) AS sum_price,
           a.ts AS start_time,
           bb.ts AS last_time
    FROM base a
    JOIN base re ON re.user_id = a.user_id
      AND re.rn = (SELECT max(x.rn) FROM base x
                   WHERE x.user_id = a.user_id AND x.rn >= a.rn
                     AND x.ps < a.ps - a.cents + 15000)
    JOIN base bb ON bb.user_id = a.user_id AND bb.rn = re.rn + 1
    ORDER BY symbol, start_time, sum_price
    """,
    bench=True,
    doc=(
        "MATCH_RECOGNIZE running-aggregate budget pattern "
        "(TableSQLFunc2.scala:87-100: A+ B with SUM(A.price) < "
        "threshold, AFTER MATCH SKIP TO NEXT ROW) on integer-cent "
        "prices so the aggregate is engine-exact."
    ),
)
def match_recognize_sum_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = match_recognize(
        _ticker(load_table(spark, sf_dir, "events"), cents=True),
        """
        SELECT * FROM Ticker
        MATCH_RECOGNIZE (
         PARTITION BY symbol
         ORDER BY rowtime, rid
         MEASURES
           SUM(A.price) AS sum_price,
           FIRST(rowtime) AS start_time,
           LAST(rowtime) AS last_time
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN(A+ B)
           DEFINE
             A AS SUM(A.price) < 15000
        ) MR
        """,
    )
    return out


@query(
    "streaming_match_recognize",
    twin="match_recognize_rise_fall",
    doc=(
        "streaming MATCH_RECOGNIZE: the rise-fall row-pattern over the "
        "replayed purchase stream via applyInPandasWithState (pending "
        "anchors buffered in keyed group state, matches emitted as "
        "their outcome is decided). Same oracle as the batch twin — "
        "A+ B ends with a required B, so every decidable match is "
        "decided by the data present, exactly like the batch run."
    ),
)
def streaming_match_recognize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.match_recognize import streaming_match_recognize
    from ..sources.streams import events_stream
    from ..streaming.runner import run_available_now

    ticker = _ticker(events_stream(spark, sf_dir, watermark=None))
    out = streaming_match_recognize(ticker, _RISE_FALL)
    return run_available_now(out, output_mode="append").orderBy(
        "symbol", "start_price", "top_price", "end_price"
    )


@query(
    "match_recognize_all_rows",
    # eager UP+ over contiguous dir=1 rows == gaps-and-islands; RUNNING
    # COUNT is the row number within the island, MATCH_NUMBER() the
    # island's per-user index, CLASSIFIER() constant 'UP'
    oracle="""
    WITH pur AS (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), base AS (
      SELECT user_id, event_id, value,
             row_number() OVER w AS rn,
             CASE WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS dir
      FROM pur
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ups AS (
      SELECT *, rn - row_number() OVER (
               PARTITION BY user_id ORDER BY rn) AS grp
      FROM base WHERE dir = 1
    )
    SELECT user_id, event_id,
           CAST(dense_rank() OVER (
             PARTITION BY user_id ORDER BY grp) AS BIGINT) AS mno,
           'UP' AS cls,
           CAST(row_number() OVER (
             PARTITION BY user_id, grp ORDER BY rn) AS BIGINT)
             AS rn_in_match,
           round(value, 2) AS value
    FROM ups
    ORDER BY user_id, event_id
    """,
    doc=(
        "ALL ROWS PER MATCH (SQL-standard row-pattern output shape, "
        "beyond the reference's ONE ROW PER MATCH usage): every row of "
        "each rising-value run per user, with RUNNING COUNT, "
        "MATCH_NUMBER() and CLASSIFIER(); oracle = gaps-and-islands."
    ),
)
def match_recognize_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    # pin the key exchange BEFORE the lag-window: the window and the
    # matcher both need hashpartitioning(user_id), so this is the ONE
    # shuffle of the query — and making it an explicit
    # REPARTITION_BY_NUM (not ENSURE_REQUIREMENTS) stops AQE's
    # byte-size coalescing from collapsing the CPU-bound window+NFA
    # stage to a handful of tasks (measured 8x on cep at sf0.1)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ev = ev.repartition(n_parts, "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_dir = ev.select(
        "user_id",
        "event_id",
        "value",
        "ts",
        F.when(F.col("value") > F.lag("value").over(w), 1)
        .otherwise(0)
        .alias("dir"),
    )
    mr = match_recognize(
        with_dir,
        """
        SELECT * FROM T MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES MATCH_NUMBER() AS mno,
                   CLASSIFIER() AS cls,
                   COUNT(value) AS rn_in_match
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (UP+)
          DEFINE UP AS UP.dir = 1
        )
        """,
    )
    return mr.select(
            "user_id",
            "event_id",
            "mno",
            "cls",
            "rn_in_match",
            F.round("value", 2).alias("value"),
        )


@query(
    "streaming_match_recognize_all_rows",
    # gaps-and-islands of value>=50 purchase runs, each CLOSED by the
    # first sub-threshold row (the required LOW keeps every emitted
    # match decidable mid-stream; a trailing open run stays pending,
    # exactly the streaming semantics, and is excluded here too)
    oracle="""
    WITH pur AS (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), base AS (
      SELECT user_id, event_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CASE WHEN value >= 50 THEN 1 ELSE 0 END AS hi
      FROM pur
    ), ups AS (
      SELECT *, rn - row_number() OVER (
               PARTITION BY user_id ORDER BY rn) AS grp
      FROM base WHERE hi = 1
    ), isl AS (
      SELECT user_id, grp, min(rn) AS s_rn, max(rn) AS e_rn
      FROM ups GROUP BY user_id, grp
    ), closed AS (
      SELECT i.user_id, i.s_rn, i.e_rn,
             CAST(row_number() OVER (
               PARTITION BY i.user_id ORDER BY i.s_rn) AS BIGINT) AS mno
      FROM isl i
      WHERE EXISTS (SELECT 1 FROM base b
                    WHERE b.user_id = i.user_id AND b.rn = i.e_rn + 1)
    )
    SELECT b.user_id, b.event_id, c.mno,
           CASE WHEN b.rn <= c.e_rn THEN 'HIGH' ELSE 'LOW' END AS cls,
           CAST(b.rn - c.s_rn + 1 AS BIGINT) AS rn_in_match,
           round(b.value, 2) AS value
    FROM closed c
    JOIN base b ON b.user_id = c.user_id
               AND b.rn BETWEEN c.s_rn AND c.e_rn + 1
    ORDER BY b.user_id, b.event_id
    """,
    doc=(
        "streaming ALL ROWS PER MATCH (round-4 gap closed; beyond the "
        "reference's ONE-ROW usage): every row of each high-value "
        "purchase run and its closing low row, emitted from keyed "
        "group state the moment the closing row decides the match, "
        "with per-row RUNNING COUNT, MATCH_NUMBER() continuity across "
        "micro-batches and CLASSIFIER()."
    ),
)
def streaming_match_recognize_all_rows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.match_recognize import streaming_match_recognize
    from ..sources.streams import events_stream
    from ..streaming.runner import run_available_now

    ticker = (
        events_stream(spark, sf_dir, watermark=None)
        .where(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value", "event_id")
    )
    out = streaming_match_recognize(
        ticker,
        """
        SELECT * FROM T MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES MATCH_NUMBER() AS mno,
                   CLASSIFIER() AS cls,
                   COUNT(value) AS rn_in_match
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (HIGH+ LOW)
          DEFINE HIGH AS HIGH.value >= 50,
                 LOW AS LOW.value < 50
        )
        """,
    )
    return run_available_now(out, output_mode="append").select(
            "user_id",
            "event_id",
            "mno",
            "cls",
            "rn_in_match",
            F.round("value", 2).alias("value"),
        )
