"""MATCH_RECOGNIZE translator goldens.

Each test replays a reference test's literal input data and SQL text
and asserts the reference's printed golden output:

- QueryTest.scala:942-1026   (V-pattern, SKIP TO LAST PRICE_UP)
- TableSQLFunc.scala:1727-1790 (A+ B rise-fall, SKIP PAST LAST ROW)
- TableSQLFunc.scala:1881-2010 (B* / B*? / B{1,}? quantifier modes)
- TableSQLFunc.scala:2012-2110 (WITHIN INTERVAL strictness)
- TableSQLFunc.scala:2149-2248 (unqualified SUM, LAST offsets)
- TableSQLFunc2.scala:20-133  (SUM(A.price) budget, 3 skip strategies)
"""

from __future__ import annotations

import datetime as dt

import pytest

from flink_demo_spark.operators.match_recognize import (
    match_recognize,
    match_recognize_sql,
    parse_match_recognize,
)


def _t(s: str) -> dt.datetime:
    return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def _ticker(spark, rows):
    return spark.createDataFrame(
        [(sym, _t(ts), price, tax, i) for i, (sym, ts, price, tax) in enumerate(rows)],
        "symbol string, ctime timestamp, price bigint, tax bigint, rid bigint",
    )


# docs/reference ACME ticker (QueryTest.scala:947-958)
ACME_V = [
    ("ACME", "2021-05-11 10:00:00", 12, 1),
    ("ACME", "2021-05-11 10:00:01", 17, 2),
    ("ACME", "2021-05-11 10:00:02", 19, 1),
    ("ACME", "2021-05-11 10:00:03", 21, 3),
    ("ACME", "2021-05-11 10:00:04", 25, 2),
    ("ACME", "2021-05-11 10:00:05", 18, 1),
    ("ACME", "2021-05-11 10:00:06", 15, 1),
    ("ACME", "2021-05-11 10:00:07", 14, 2),
    ("ACME", "2021-05-11 10:00:08", 24, 2),
    ("ACME", "2021-05-11 10:00:09", 25, 2),
    ("ACME", "2021-05-11 10:00:10", 19, 1),
]


def test_v_pattern_skip_to_last_price_up(spark):
    df = _ticker(spark, ACME_V)
    out = match_recognize(
        df,
        """
        SELECT * FROM Ticker MATCH_RECOGNIZE (
          PARTITION BY symbol
          ORDER BY ctime
          MEASURES
            START_ROW.ctime AS start_tmstp,
            LAST(PRICE_DOWN.ctime) AS bottom_tmstp,
            PRICE_UP.ctime AS end_tmstp
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
    ).collect()
    assert [(r.start_tmstp, r.bottom_tmstp, r.end_tmstp) for r in out] == [
        (_t("2021-05-11 10:00:04"), _t("2021-05-11 10:00:07"), _t("2021-05-11 10:00:08"))
    ]


# TableSQLFunc.scala:1735-1746 (two rows share ts 10:00:07 — arrival
# order 14 then 15; rid keeps that order deterministic in batch)
ACME_RISE_FALL = [
    ("ACME", "2021-05-11 10:00:00", 12, 1),
    ("ACME", "2021-05-11 10:00:01", 17, 2),
    ("ACME", "2021-05-11 10:00:02", 19, 1),
    ("ACME", "2021-05-11 10:00:03", 21, 3),
    ("ACME", "2021-05-11 10:00:04", 25, 2),
    ("ACME", "2021-05-11 10:00:07", 14, 2),
    ("ACME", "2021-05-11 10:00:07", 15, 2),
    ("ACME", "2021-05-11 10:00:08", 24, 2),
    ("ACME", "2021-05-11 10:00:09", 25, 2),
    ("ACME", "2021-05-11 10:00:10", 19, 1),
]

RISE_FALL_SQL = """
SELECT * FROM Ticker MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY ctime, rid
  MEASURES
    FIRST(A.price) AS START_PRICE,
    LAST(A.price) AS TOP_PRICE,
    B.price AS END_PRICE
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A+ B)
  DEFINE
    A AS LAST(A.price,1) IS NULL OR A.price > LAST(A.price,1),
    B AS B.price < LAST(A.price,1)
) MR
"""


def test_rise_fall_skip_past_last_row(spark):
    # golden TableSQLFunc.scala:1720-1727
    df = _ticker(spark, ACME_RISE_FALL)
    out = match_recognize(df, RISE_FALL_SQL).collect()
    assert [(r.START_PRICE, r.TOP_PRICE, r.END_PRICE) for r in out] == [
        (12, 25, 14),
        (15, 25, 19),
    ]


# TableSQLFunc2.scala:27-34 XYZ data
XYZ = [
    ("XYZ", "2018-09-17 10:00:01", 7, 1),
    ("XYZ", "2018-09-17 10:00:02", 9, 2),
    ("XYZ", "2018-09-17 10:00:03", 10, 1),
    ("XYZ", "2018-09-17 10:00:04", 5, 2),
    ("XYZ", "2018-09-17 10:00:05", 10, 2),
    ("XYZ", "2018-09-17 10:00:06", 7, 2),
    ("XYZ", "2018-09-17 10:00:07", 14, 2),
]


def _sum_budget_sql(skip: str) -> str:
    return f"""
    SELECT * FROM Ticker MATCH_RECOGNIZE (
      PARTITION BY symbol
      ORDER BY ctime
      MEASURES
        SUM(A.price) AS SUM_PRICE,
        FIRST(ctime) AS START_TIME,
        LAST(ctime) AS LAST_TIME
      ONE ROW PER MATCH
      AFTER MATCH {skip}
      PATTERN(A+ B)
      DEFINE
        A AS SUM(A.price) < 30
    ) MR
    """


def test_sum_budget_skip_past_last_row(spark):
    # golden TableSQLFunc2.scala:44-51
    out = match_recognize(_ticker(spark, XYZ), _sum_budget_sql("SKIP PAST LAST ROW")).collect()
    assert [(r.SUM_PRICE, r.START_TIME, r.LAST_TIME) for r in out] == [
        (26, _t("2018-09-17 10:00:01"), _t("2018-09-17 10:00:04")),
        (17, _t("2018-09-17 10:00:05"), _t("2018-09-17 10:00:07")),
    ]


def test_sum_budget_skip_to_next_row(spark):
    # golden TableSQLFunc2.scala:75-84 — note NO match anchored at
    # 10:00:06: eager A+ swallows the last row and B starves
    out = match_recognize(_ticker(spark, XYZ), _sum_budget_sql("SKIP TO NEXT ROW")).collect()
    assert [(r.SUM_PRICE, r.START_TIME, r.LAST_TIME) for r in out] == [
        (26, _t("2018-09-17 10:00:01"), _t("2018-09-17 10:00:04")),
        (24, _t("2018-09-17 10:00:02"), _t("2018-09-17 10:00:05")),
        (25, _t("2018-09-17 10:00:03"), _t("2018-09-17 10:00:06")),
        (22, _t("2018-09-17 10:00:04"), _t("2018-09-17 10:00:07")),
        (17, _t("2018-09-17 10:00:05"), _t("2018-09-17 10:00:07")),
    ]


def test_sum_budget_skip_to_last_a(spark):
    # golden TableSQLFunc2.scala:107-114
    out = match_recognize(_ticker(spark, XYZ), _sum_budget_sql("SKIP TO LAST A")).collect()
    assert [(r.SUM_PRICE, r.START_TIME, r.LAST_TIME) for r in out] == [
        (26, _t("2018-09-17 10:00:01"), _t("2018-09-17 10:00:04")),
        (25, _t("2018-09-17 10:00:03"), _t("2018-09-17 10:00:06")),
        (17, _t("2018-09-17 10:00:05"), _t("2018-09-17 10:00:07")),
    ]


# TableSQLFunc.scala:1887-1895
XYZ_STAR = [
    ("XYZ", "2018-09-17 10:00:02", 10, 1),
    ("XYZ", "2018-09-17 10:00:03", 11, 2),
    ("XYZ", "2018-09-17 10:00:04", 12, 1),
    ("XYZ", "2018-09-17 10:00:05", 13, 2),
    ("XYZ", "2018-09-17 10:00:06", 14, 1),
    ("XYZ", "2018-09-17 10:00:07", 13, 1),
    ("XYZ", "2018-09-17 10:00:08", 16, 2),
]


def _star_sql(quant: str) -> str:
    return f"""
    SELECT * FROM Ticker MATCH_RECOGNIZE (
      PARTITION BY symbol
      ORDER BY ctime
      MEASURES
        A.price AS START_PRICE,
        FIRST(B.price) AS B_START,
        LAST(B.price) AS B_LAST,
        C.price AS END_PRICE
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN(A B{quant} C)
      DEFINE
        A AS A.price > 12,
        B AS B.price < 15,
        C AS C.price > 10
    ) MR
    """


def test_star_greedy(spark):
    # golden TableSQLFunc.scala:1917-1922
    out = match_recognize(_ticker(spark, XYZ_STAR), _star_sql("*")).collect()
    assert [(r.START_PRICE, r.B_START, r.B_LAST, r.END_PRICE) for r in out] == [
        (13, 14, 13, 16)
    ]


def test_star_reluctant_prefers_zero_repeats(spark):
    # golden TableSQLFunc.scala:1949-1955
    out = match_recognize(_ticker(spark, XYZ_STAR), _star_sql("*?")).collect()
    assert [(r.START_PRICE, r.B_START, r.B_LAST, r.END_PRICE) for r in out] == [
        (13, None, None, 14),
        (13, None, None, 16),
    ]


def test_one_or_more_reluctant_behaves_greedy(spark):
    # golden TableSQLFunc.scala:1981-1987 — Flink's {1,}? quirk
    out = match_recognize(_ticker(spark, XYZ_STAR), _star_sql("{1,}?")).collect()
    assert [(r.START_PRICE, r.B_START, r.B_LAST, r.END_PRICE) for r in out] == [
        (13, 14, 13, 16)
    ]


# TableSQLFunc.scala:2021-2032
ACME_WITHIN = [
    ("ACME", "2021-05-11 10:00:00", 20, 1),
    ("ACME", "2021-05-11 10:20:00", 17, 2),
    ("ACME", "2021-05-11 10:40:00", 18, 1),
    ("ACME", "2021-05-11 11:00:00", 11, 3),
    ("ACME", "2021-05-11 11:20:00", 14, 2),
    ("ACME", "2021-05-11 11:40:00", 9, 1),
    ("ACME", "2021-05-11 12:00:00", 15, 1),
    ("ACME", "2021-05-11 12:20:00", 14, 2),
    ("ACME", "2021-05-11 12:40:00", 24, 2),
    ("ACME", "2021-05-11 13:00:00", 1, 2),
    ("ACME", "2021-05-11 13:20:00", 19, 1),
]


def _drop10_sql(within: str) -> str:
    return f"""
    SELECT * FROM Ticker MATCH_RECOGNIZE (
      PARTITION BY symbol
      ORDER BY ctime
      MEASURES
        A.price AS START_PRICE,
        A.ctime AS START_TIME,
        FIRST(B.price) AS B_START,
        LAST(B.price) AS B_LAST,
        C.price AS END_PRICE,
        C.ctime AS END_TIME
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN(A B* C){within}
      DEFINE
        B AS B.price > A.price - 10,
        C AS C.price < A.price - 10
    ) MR
    """


def test_drop10_no_timeout(spark):
    # golden TableSQLFunc.scala:2045-2051
    out = match_recognize(_ticker(spark, ACME_WITHIN), _drop10_sql("")).collect()
    assert [(r.START_PRICE, r.B_START, r.B_LAST, r.END_PRICE) for r in out] == [
        (20, 17, 14, 9),
        (15, 14, 24, 1),
    ]


def test_drop10_within_one_hour_is_strict(spark):
    # golden TableSQLFunc.scala:2078-2083 — a match completing at
    # exactly +1h (the 12:00 anchor) is rejected
    out = match_recognize(
        _ticker(spark, ACME_WITHIN), _drop10_sql(" WITHIN INTERVAL '1' HOUR")
    ).collect()
    assert [
        (r.START_PRICE, r.START_TIME, r.B_START, r.B_LAST, r.END_PRICE, r.END_TIME)
        for r in out
    ] == [
        (14, _t("2021-05-11 12:20:00"), 24, 24, 1, _t("2021-05-11 13:00:00"))
    ]


# TableSQLFunc.scala:2175-2184 / 2226-2241
ACME_RISING = [
    ("ACME", "2021-05-11 10:00:00", 10, 1),
    ("ACME", "2021-05-11 10:20:00", 15, 2),
    ("ACME", "2021-05-11 10:40:00", 20, 1),
    ("ACME", "2021-05-11 11:00:00", 31, 3),
    ("ACME", "2021-05-11 11:20:00", 35, 2),
]


def test_unqualified_sum_spans_whole_match(spark):
    # golden TableSQLFunc.scala:2252-2257 (comment block 2149-2157)
    out = match_recognize(
        _ticker(spark, ACME_RISING),
        """
        SELECT * FROM Ticker MATCH_RECOGNIZE (
          PARTITION BY symbol
          ORDER BY ctime
          MEASURES
            A.price AS A_PRICE,
            FIRST(B.price) AS B_START,
            LAST(B.price) AS B_LAST
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN(A B+ C)
          DEFINE
            A AS A.price >= 10,
            B AS B.price > A.price AND SUM(price) < 100 AND SUM(B.price) < 80
        ) MR
        """,
    ).collect()
    assert [(r.A_PRICE, r.B_START, r.B_LAST) for r in out] == [(10, 15, 31)]


def test_last_offset_two(spark):
    # golden TableSQLFunc.scala:2196-2208
    out = match_recognize(
        _ticker(spark, ACME_RISING),
        """
        SELECT * FROM Ticker MATCH_RECOGNIZE(
          PARTITION BY symbol
          ORDER BY ctime
          MEASURES
            A.price AS A_PRICE,
            FIRST(B.price) AS B_START,
            LAST(B.price) AS B_LAST
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B* C)
          DEFINE
            B AS (LAST(B.price,1) IS NULL OR B.price > LAST(B.price,1)) AND
            (LAST(B.price,2) IS NULL OR B.price > 2 * LAST(B.price,2))
        ) MR
        """,
    ).collect()
    assert [(r.A_PRICE, r.B_START, r.B_LAST) for r in out] == [(10, 15, 31)]


def test_match_recognize_sql_resolves_view(spark):
    _ticker(spark, ACME_RISE_FALL).createOrReplaceTempView("Ticker")
    out = match_recognize_sql(spark, RISE_FALL_SQL).collect()
    assert len(out) == 2


def test_all_rows_per_match_running_measures(spark):
    """ALL ROWS PER MATCH emits one row per consumed input row with
    RUNNING measures, MATCH_NUMBER() and CLASSIFIER() (SQL-standard
    semantics; V-pattern rows from the ACME ticker)."""
    df = _ticker(spark, ACME_V)
    out = match_recognize(
        df,
        """
        SELECT * FROM Ticker MATCH_RECOGNIZE (
          PARTITION BY symbol
          ORDER BY ctime
          MEASURES MATCH_NUMBER() AS mno,
                   CLASSIFIER() AS cls,
                   COUNT(price) AS rn_in_match,
                   SUM(price) AS running_sum
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.price < 20,
                 UP AS UP.price >= 20
        )
        """,
    ).orderBy("ctime").collect()
    # ACME prices: 12 17 19 21 25 | 18 15 14 24 25 | 19
    # match 1: DOWN+ = [12 17 19], UP+ = [21 25]
    # match 2: DOWN+ = [18 15 14], UP+ = [24 25]
    # trailing 19 starts DOWN+ but no UP follows -> no third match
    assert [r.mno for r in out] == [1] * 5 + [2] * 5
    assert [r.cls for r in out] == (
        ["DOWN"] * 3 + ["UP"] * 2 + ["DOWN"] * 3 + ["UP"] * 2
    )
    assert [r.rn_in_match for r in out] == [1, 2, 3, 4, 5] * 2
    assert [r.running_sum for r in out] == [
        12, 29, 48, 69, 94, 18, 33, 47, 71, 96,
    ]
    # every input column survives alongside the measures
    assert out[0].price == 12 and out[0].symbol == "ACME"


def test_all_rows_per_match_final_vs_running(spark):
    """FINAL measures see the whole match from every row; RUNNING (the
    ALL ROWS default) sees the prefix (SQL:2016 semantics modifiers)."""
    df = _ticker(spark, ACME_V)
    out = match_recognize(
        df,
        """
        SELECT * FROM Ticker MATCH_RECOGNIZE (
          PARTITION BY symbol
          ORDER BY ctime
          MEASURES RUNNING COUNT(price) AS rn,
                   FINAL COUNT(price) AS total_n,
                   FINAL SUM(price) AS total_sum
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.price < 20,
                 UP AS UP.price >= 20
        )
        """,
    ).orderBy("ctime").collect()
    assert [r.rn for r in out] == [1, 2, 3, 4, 5] * 2
    assert [r.total_n for r in out] == [5] * 10
    assert [r.total_sum for r in out] == [94] * 5 + [96] * 5


def test_all_rows_per_match_streaming_equals_batch(spark):
    """ALL ROWS PER MATCH through the keyed-state streaming twin on
    random micro-batch splits must equal the batch result — per-row
    RUNNING measures, CLASSIFIER(), and MATCH_NUMBER() continuity
    across micro-batches (round-4 NotImplementedError gap; beyond the
    reference's own ONE-ROW usage)."""
    import random

    from flink_demo_spark.operators.match_recognize import (
        streaming_match_recognize,
    )

    sql = """
        SELECT * FROM Ticker MATCH_RECOGNIZE (
          PARTITION BY symbol
          ORDER BY ctime
          MEASURES MATCH_NUMBER() AS mno,
                   CLASSIFIER() AS cls,
                   RUNNING COUNT(price) AS rn_in_match,
                   SUM(price) AS running_sum,
                   FINAL SUM(price) AS total_sum
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.price < 20,
                 UP AS UP.price >= 20
        )
        """
    batch_df = _ticker(spark, ACME_V)
    expected = sorted(map(tuple, match_recognize(batch_df, sql).collect()))
    assert len(expected) == 10  # two 5-row matches

    rows = [
        (sym, _t(ts), price, tax, i)
        for i, (sym, ts, price, tax) in enumerate(ACME_V)
    ]
    schema = "symbol string, ctime timestamp, price bigint, tax bigint, rid bigint"
    rng = random.Random(23)
    for trial in range(2):
        cuts = sorted(rng.sample(range(1, len(rows)), 3))
        batches, prev = [], 0
        for c in [*cuts, len(rows)]:
            batches.append(rows[prev:c])
            prev = c
        from tests.test_streaming import _mem_stream_batches
        from flink_demo_spark.streaming.runner import run_available_now

        got = sorted(
            map(
                tuple,
                run_available_now(
                    streaming_match_recognize(
                        _mem_stream_batches(spark, batches, schema), sql
                    ),
                    output_mode="append",
                ).collect(),
            )
        )
        assert got == expected, (trial, cuts)


def test_parse_rejects_empty_matchable_pattern(spark):
    """Flink rejects patterns that can match zero rows at compile time
    ('pattern can produce an empty match'); without the check the
    matcher's resume point never advances (ADVICE r3 high)."""
    for pat in ("A*", "A? B*", "A{0,3} B?"):
        with pytest.raises(ValueError, match="empty match"):
            parse_match_recognize(
                f"""SELECT * FROM T MATCH_RECOGNIZE (
                   PARTITION BY a ORDER BY b MEASURES COUNT(A.x) AS y
                   PATTERN ({pat}) DEFINE A AS A.x > 0)"""
            )
    # a pattern with at least one required step still parses
    parse_match_recognize(
        """SELECT * FROM T MATCH_RECOGNIZE (
           PARTITION BY a ORDER BY b MEASURES COUNT(A.x) AS y
           PATTERN (A* B) DEFINE B AS B.x > 0)"""
    )


def test_keyword_like_identifiers_do_not_break_section_split(spark):
    """Aliases containing section keywords as substrings (e.g.
    'pattern_start') must not corrupt the section split (ADVICE r3)."""
    df = _ticker(spark, ACME_V)
    out = match_recognize(
        df,
        """
        SELECT * FROM Ticker MATCH_RECOGNIZE (
          PARTITION BY symbol
          ORDER BY ctime
          MEASURES FIRST(UP.price) AS pattern_start,
                   LAST(UP.price) AS measures_a
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (UP UP)
          DEFINE UP AS UP.price > 0
        )
        """,
    ).collect()
    assert len(out) == 5
    assert out[0].pattern_start == 12 and out[0].measures_a == 17


def test_streaming_match_spans_micro_batches(spark):
    """A match whose rows straddle a micro-batch boundary must emit
    once the deciding row arrives; greedy partials at end-of-stream
    stay unemitted (Flink discards them — TableSQLFunc2.scala:44-51
    golden reproduced batch-by-batch)."""
    import sys

    sys.path.insert(0, "/root/repo/tests")
    from tests.test_streaming import _mem_stream_batches

    from flink_demo_spark.operators.match_recognize import (
        streaming_match_recognize,
    )
    from flink_demo_spark.streaming.runner import run_available_now

    rows = [
        ("XYZ", _t(ts), p, tax, i)
        for i, (sym, ts, p, tax) in enumerate(XYZ)
        for sym in [("XYZ")]
    ]
    # split mid-A-run: first match (rows 0-3) completes only in batch 2
    batches = [rows[:2], rows[2:5], rows[5:]]
    stream = _mem_stream_batches(
        spark,
        batches,
        "symbol string, ctime timestamp, price bigint, tax bigint, rid bigint",
    )
    out = streaming_match_recognize(stream, _sum_budget_sql("SKIP PAST LAST ROW"))
    got = run_available_now(out, output_mode="append").collect()
    assert sorted((r.SUM_PRICE, r.START_TIME, r.LAST_TIME) for r in got) == [
        (17, _t("2018-09-17 10:00:05"), _t("2018-09-17 10:00:07")),
        (26, _t("2018-09-17 10:00:01"), _t("2018-09-17 10:00:04")),
    ]


def test_streaming_greedy_tail_stays_pending(spark):
    """An A+ run still satisfiable at end-of-stream must NOT emit (the
    B row never arrived): eager greedy keeps it pending, matching the
    reference golden where the 10:00:06 anchor emits nothing."""
    import sys

    sys.path.insert(0, "/root/repo/tests")
    from tests.test_streaming import _mem_stream_batches

    from flink_demo_spark.operators.match_recognize import (
        streaming_match_recognize,
    )
    from flink_demo_spark.streaming.runner import run_available_now

    rows = [
        ("XYZ", _t("2018-09-17 10:00:01"), 7, 1, 0),
        ("XYZ", _t("2018-09-17 10:00:02"), 9, 2, 1),
    ]
    stream = _mem_stream_batches(
        spark,
        [rows[:1], rows[1:]],
        "symbol string, ctime timestamp, price bigint, tax bigint, rid bigint",
    )
    out = streaming_match_recognize(stream, _sum_budget_sql("SKIP PAST LAST ROW"))
    got = run_available_now(out, output_mode="append").collect()
    assert got == []


def test_streaming_equals_batch_on_random_splits(spark):
    """Property: for the A+ B budget pattern (ends in a required
    variable, so every decidable match is decided by present rows),
    the streaming matcher must produce EXACTLY the batch result no
    matter how the rows are split into micro-batches. Uses seeded
    random prices and random split points — 3 scenarios per run."""
    import random

    import sys

    sys.path.insert(0, "/root/repo/tests")
    from tests.test_streaming import _mem_stream_batches

    from flink_demo_spark.operators.match_recognize import (
        match_recognize,
        streaming_match_recognize,
    )
    from flink_demo_spark.streaming.runner import run_available_now

    rng = random.Random(17)
    schema = "symbol string, ctime timestamp, price bigint, tax bigint, rid bigint"
    sql = _sum_budget_sql("SKIP PAST LAST ROW")
    for case in range(3):
        n = rng.randint(5, 14)
        rows = [
            (
                "K",
                _t("2018-09-17 10:00:00")
                + dt.timedelta(seconds=i + 1),
                rng.randint(1, 20),
                1,
                i,
            )
            for i in range(n)
        ]
        batch_out = sorted(
            (r.SUM_PRICE, r.START_TIME, r.LAST_TIME)
            for r in match_recognize(
                spark.createDataFrame(rows, schema), sql
            ).collect()
        )
        # random split into 1-4 micro-batches
        cuts = sorted(rng.sample(range(1, n), rng.randint(0, min(3, n - 1))))
        batches = [
            rows[a:b] for a, b in zip([0, *cuts], [*cuts, n]) if rows[a:b]
        ]
        stream = _mem_stream_batches(spark, batches, schema)
        stream_out = sorted(
            (r.SUM_PRICE, r.START_TIME, r.LAST_TIME)
            for r in run_available_now(
                streaming_match_recognize(stream, sql), output_mode="append"
            ).collect()
        )
        assert stream_out == batch_out, (
            f"case {case}: split {cuts} diverged\n"
            f"batch  : {batch_out}\nstream : {stream_out}"
        )


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_streaming_restore_from_v2_state_payload(spark, provider):
    """A checkpointed restart restores the tagged ``mr2`` payload: a
    partial A+ run buffered before the stop completes after the
    restart, and final output equals the batch result on all rows.
    Parametrized over the state-store provider: the payload restore
    must also hold on a RocksDB-backed checkpoint (snapshot/changelog
    files, columnar encoding)."""
    import tempfile

    from .conftest import state_store_provider

    from flink_demo_spark.operators.match_recognize import (
        match_recognize,
        streaming_match_recognize,
    )

    sql = _sum_budget_sql("SKIP PAST LAST ROW")
    schema = "symbol string, ctime timestamp, price bigint, tax bigint, rid bigint"
    rows = [
        (sym, _t(ts), price, tax, i)
        for i, (sym, ts, price, tax) in enumerate(XYZ)
    ]
    expected = sorted(
        (r.SUM_PRICE, r.START_TIME, r.LAST_TIME)
        for r in match_recognize(spark.createDataFrame(rows, schema), sql).collect()
    )

    src = tempfile.mkdtemp(prefix="mr_v2_src_")
    ckpt = tempfile.mkdtemp(prefix="mr_v2_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="mr_v2_out_") + "/data"

    def write_batch(batch_rows, name):
        spark.createDataFrame(batch_rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    def run_once():
        with state_store_provider(spark, provider):
            stream = spark.readStream.schema(schema).parquet(f"{src}/*")
            q = (
                streaming_match_recognize(stream, sql)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(180)

    # split mid-A-run: the first match is undecided at the stop, so the
    # restored buffer must carry it across the restart
    write_batch(rows[:3], "b1")
    run_once()
    write_batch(rows[3:], "b2")
    run_once()

    got = sorted(
        (r.SUM_PRICE, r.START_TIME, r.LAST_TIME)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert got == expected


def test_streaming_match_number_continuity_rides_v2_payload(spark):
    """MATCH_NUMBER() keeps counting across a checkpointed restart
    under the default tagged payload (it rides inside the single
    binary state field — the state STRUCT schema never widened)."""
    import tempfile

    from flink_demo_spark.operators.match_recognize import (
        streaming_match_recognize,
    )

    sql = """
    SELECT * FROM Ticker MATCH_RECOGNIZE (
      PARTITION BY symbol
      ORDER BY ctime
      MEASURES MATCH_NUMBER() AS mno, SUM(A.price) AS SUM_PRICE
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN(A+ B)
      DEFINE A AS SUM(A.price) < 30
    ) MR
    """
    schema = "symbol string, ctime timestamp, price bigint, tax bigint, rid bigint"
    rows = [
        (sym, _t(ts), price, tax, i)
        for i, (sym, ts, price, tax) in enumerate(XYZ)
    ]
    src = tempfile.mkdtemp(prefix="mr_mno_src_")
    ckpt = tempfile.mkdtemp(prefix="mr_mno_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="mr_mno_out_") + "/data"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(f"{src}/*")
        q = (
            streaming_match_recognize(stream, sql)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    spark.createDataFrame(rows[:5], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/b1")
    run_once()
    spark.createDataFrame(rows[5:], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/b2")
    run_once()

    mnos = sorted(r.mno for r in spark.read.parquet(out_dir).collect())
    assert mnos == list(range(1, len(mnos) + 1)) and len(mnos) >= 2


def test_match_recognize_state_summary_introspection(spark):
    """match_recognize_state_summary reads the checkpointed keyed
    state: buffered_rows counts the undecided tail held in state and
    match_no the emitted matches."""
    import tempfile

    from flink_demo_spark.operators.match_recognize import (
        match_recognize_state_summary,
        streaming_match_recognize,
    )

    sql = _sum_budget_sql("SKIP PAST LAST ROW")
    schema = "symbol string, ctime timestamp, price bigint, tax bigint, rid bigint"
    # XYZ (two decided matches) + an undecided A+ tail (sum 7 < 30,
    # no B row yet) that must stay buffered in state
    fixture = XYZ + [
        ("XYZ", "2018-09-17 10:00:08", 3, 1),
        ("XYZ", "2018-09-17 10:00:09", 4, 1),
    ]
    rows = [
        (sym, _t(ts), price, tax, i)
        for i, (sym, ts, price, tax) in enumerate(fixture)
    ]
    src = tempfile.mkdtemp(prefix="mr_summ_src_")
    ckpt = tempfile.mkdtemp(prefix="mr_summ_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="mr_summ_out_") + "/data"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/b1")
    q = (
        streaming_match_recognize(
            spark.readStream.schema(schema).parquet(f"{src}/*"), sql
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    emitted = spark.read.parquet(out_dir).count()
    summ = match_recognize_state_summary(spark, ckpt).collect()
    assert len(summ) == 1  # one partition key: XYZ
    r = summ[0]
    assert r.symbol == "XYZ"
    assert r.match_no == emitted  # MATCH_NUMBER counter == emitted rows
    # the greedy A+ tail after the last decided match stays buffered
    assert r.buffered_rows > 0
