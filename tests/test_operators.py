"""Unit tests for the composite operators (the non-oracle-backed
surface: MinHash-LSH, SimHash, LSH ANN, CEP NFA)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_demo_spark.catalog import load_table
from flink_demo_spark.operators import cep, dedup, similarity
from flink_demo_spark.plans._util import first_vectors
from flink_demo_spark.plans.datapipe import LSH_PLANES


def test_minhash_lsh_pairs_subset_of_jaccard(spark, sf_dir):
    """LSH candidates verified at threshold t must be a subset of the
    exact Jaccard pairs at t (verification guarantees precision)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc1, r.doc2)
        for r in dedup.jaccard_pairs(docs, "text", "doc_id", 3, 0.3).collect()
    }
    lsh = {
        (r.doc1, r.doc2)
        for r in dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", 16, 4, 3, verify_threshold=0.3
        ).collect()
    }
    assert lsh <= exact


def test_jaccard_size_ratio_prune_equivalence(spark, sf_dir):
    """The opt-in size-ratio prune (jac <= min/max, exact integer
    bound from the threshold's rational form) must be result-identical
    to the unpruned pair generation — it may only drop pairs that the
    final jac >= t filter would drop anyway."""
    docs = load_table(spark, sf_dir, "documents")
    base = {
        tuple(r)
        for r in dedup.jaccard_pairs(
            docs, "text", "doc_id", 3, 0.3, size_ratio_prune=False
        ).collect()
    }
    pruned = {
        tuple(r)
        for r in dedup.jaccard_pairs(
            docs, "text", "doc_id", 3, 0.3, size_ratio_prune=True
        ).collect()
    }
    assert pruned == base and base


def test_minhash_lsh_verify_large_path_equivalence(spark, sf_dir):
    """The candidate-proportional verify path (forced via the plan-stats
    override) must return exactly the small-corpus path's pairs. r13:
    the large path now persists the shingle-set frame — its two verify
    consumers (s1, s2) would otherwise each re-run the corpus scan +
    semi-join + shingle expansion; the persist must not change rows."""
    docs = load_table(spark, sf_dir, "documents")
    small = {
        tuple(r)
        for r in dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", 16, 4, 3, verify_threshold=0.3
        ).collect()
    }
    spark.conf.set("spark.flinkDemoSpark.planStats.overrideBytes", str(2 << 30))
    try:
        large = {
            tuple(r)
            for r in dedup.minhash_lsh_pairs(
                docs, "text", "doc_id", 16, 4, 3, verify_threshold=0.3
            ).collect()
        }
    finally:
        spark.conf.unset("spark.flinkDemoSpark.planStats.overrideBytes")
        spark.catalog.clearCache()
    assert large == small and small


def test_jaccard_fraction_cap_scale_relative(spark):
    """max_posting_frac drops shingles whose document frequency
    exceeds ceil(frac * n_docs) (floored at min_posting_cap), so the
    boilerplate guard travels across corpus sizes — the fixed-count
    cap emptied the candidate set at sf1 (round-8 sweep)."""
    import pytest as _pytest

    # 12 docs: docs 0-9 share a viral boilerplate trigram (df=10);
    # docs 10 and 11 are near-dups sharing discriminative trigrams.
    boiler = "click here to subscribe now"
    dup = "the quick brown fox jumps over the lazy dog tonight"
    rows = [(i, f"{boiler} filler{i} fill{i}er f{i}iller pad{i}") for i in range(10)]
    rows += [(10, dup), (11, dup + " extra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # frac cap: ceil(0.5 * 12) = 6 (floor 1) -> boilerplate shingles
    # (df=10) leave the index; the near-dup pair survives on its own
    # discriminative shingles.
    capped = {
        (r.doc1, r.doc2)
        for r in dedup.jaccard_pairs(
            df, "text", "doc_id", 3, 0.3,
            max_posting_frac=0.5, min_posting_cap=1,
        ).collect()
    }
    assert (10, 11) in capped
    assert all(d1 >= 10 for d1, _ in capped)  # boilerplate-only pairs gone

    # floor: with min_posting_cap=64 the cap never binds on 12 docs ->
    # identical to exact/uncapped
    exact = {
        (r.doc1, r.doc2)
        for r in dedup.jaccard_pairs(df, "text", "doc_id", 3, 0.3).collect()
    }
    floored = {
        (r.doc1, r.doc2)
        for r in dedup.jaccard_pairs(
            df, "text", "doc_id", 3, 0.3, max_posting_frac=0.01
        ).collect()
    }
    assert floored == exact

    with _pytest.raises(ValueError, match="mutually exclusive"):
        dedup.jaccard_pairs(
            df, "text", "doc_id", 3, 0.3, max_posting=64, max_posting_frac=0.01
        )


def test_simhash_deterministic_and_discriminative(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    a = {r.doc_id: r.simhash for r in dedup.simhash(docs, "text", "doc_id").collect()}
    b = {r.doc_id: r.simhash for r in dedup.simhash(docs, "text", "doc_id").collect()}
    assert a == b
    # different docs should mostly have different signatures
    assert len(set(a.values())) > len(a) * 0.5


def test_lsh_topk_matches_brute_force_within_bucket(spark, sf_dir):
    """Every LSH neighbor must carry the same cosine the brute-force
    path computes (sims agree; LSH may return fewer/other neighbors)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3)
    bf = similarity.brute_force_top_k(emb, queries, k=500)
    bf_sims = {
        (r.query_id, r.neighbor_id): r.cosine_sim for r in bf.collect()
    }
    lsh = similarity.lsh_top_k(emb, queries, LSH_PLANES, k=5).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert bf_sims[(r.query_id, r.neighbor_id)] == pytest.approx(
            r.cosine_sim, abs=1e-9
        )


def test_cep_next_within(spark):
    """fail NEXT fail WITHIN 2s (reference LoginFail.scala:78-86)."""
    rows = [
        # user 1: two consecutive fails 1s apart -> match
        (1, "fail", 1000), (1, "fail", 2000), (1, "success", 3000),
        # user 2: fails interrupted by success -> no match
        (2, "fail", 1000), (2, "success", 1500), (2, "fail", 2000),
        # user 3: consecutive fails but 5s apart -> outside horizon
        (3, "fail", 1000), (3, "fail", 6000),
    ]
    df = spark.createDataFrame(
        [(u, t, dt.datetime(1970,1,1) + dt.timedelta(milliseconds=ms)) for u, t, ms in rows],
        "user_id long, event_type string, ts timestamp",
    )
    pat = (
        cep.Pattern.begin("first", lambda r: r["event_type"] == "fail")
        .next("second", lambda r: r["event_type"] == "fail")
        .within_time("2s")
    )

    def measures(rows_df, bindings):
        return {
            "first_ts": rows_df.iloc[bindings["first"][0]]["ts"],
            "second_ts": rows_df.iloc[bindings["second"][0]]["ts"],
        }

    out = cep.match_pattern(
        df,
        pat,
        key_cols=["user_id"],
        ts_col="ts",
        measures=measures,
        output_schema="user_id long, first_ts timestamp, second_ts timestamp",
    ).collect()
    assert len(out) == 1
    assert out[0].user_id == 1


def test_cep_followed_by_one_or_more(spark):
    """V-pattern: down+ then up (MATCH_RECOGNIZE QueryTest.scala:942-1026)."""
    prices = [(1, 10, 0), (1, 8, 1), (1, 6, 2), (1, 9, 3), (1, 11, 4)]
    df = spark.createDataFrame(
        [
            (s, p, dt.datetime(1970,1,1) + dt.timedelta(seconds=i), p)
            for s, p, i in prices
        ],
        "symbol long, price long, ts timestamp, p long",
    )

    # down = price lower than previous -> encode via shifted column
    pdf_pattern = cep.Pattern.begin("start", lambda r: True)
    pdf_pattern.followed_by("down", lambda r: r["dir"] == -1).one_or_more()
    pdf_pattern.followed_by("up", lambda r: r["dir"] == 1)

    from pyspark.sql import Window

    w = Window.partitionBy("symbol").orderBy("ts")
    with_dir = df.withColumn(
        "dir",
        F.when(F.col("price") < F.lag("price").over(w), -1)
        .when(F.col("price") > F.lag("price").over(w), 1)
        .otherwise(0),
    )

    def measures(rows_df, bindings):
        return {
            "bottom_price": int(rows_df.iloc[bindings["down"][-1]]["price"]),
            "end_price": int(rows_df.iloc[bindings["up"][0]]["price"]),
        }

    out = cep.match_pattern(
        with_dir,
        pdf_pattern,
        key_cols=["symbol"],
        ts_col="ts",
        measures=measures,
        output_schema="symbol long, bottom_price long, end_price long",
    ).collect()
    assert len(out) == 1
    assert out[0].bottom_price == 6 and out[0].end_price == 9


def test_asof_join_no_version_yields_null(spark):
    from flink_demo_spark.operators.asof import asof_join

    probe = spark.createDataFrame(
        [(1, dt.datetime(2024,1,1,10,0)), (2, dt.datetime(2024,1,1,9,0))],
        "k long, pt timestamp",
    )
    build = spark.createDataFrame(
        [(1, dt.datetime(2024,1,1,9,30), 100.0)],
        "k long, bt timestamp, rate double",
    )
    out = {
        r.k: r.rate
        for r in asof_join(
            probe, build, on="k", probe_time="pt", build_time="bt",
            payload_cols=["rate"],
        ).collect()
    }
    assert out[1] == 100.0
    assert out[2] is None


def _cep_df(spark, rows):
    """rows: (key, type, ms)"""
    return spark.createDataFrame(
        [(u, t, dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)) for u, t, ms in rows],
        "user_id long, event_type string, ts timestamp",
    )


def _run_pattern(spark, df, pat, names):
    def measures(rows_df, bindings):
        return {
            f"{n}_id": (
                int(rows_df.iloc[bindings[n][0]]["ts"].timestamp() * 1000)
                if bindings.get(n)
                else None
            )
            for n in names
        }

    schema = "user_id long, " + ", ".join(f"{n}_id long" for n in names)
    return cep.match_pattern(
        df, pat, key_cols=["user_id"], ts_col="ts",
        measures=measures, output_schema=schema,
    ).collect()


def test_cep_optional_step(spark):
    """a (b?) c (reference CEPDemo optional:344)."""
    rows = [
        (1, "a", 0), (1, "b", 1000), (1, "c", 2000),   # with b
        (2, "a", 0), (2, "c", 1000),                   # without b
    ]
    pat = cep.Pattern.begin("a", lambda r: r["event_type"] == "a")
    pat.followed_by("b", lambda r: r["event_type"] == "b").optional()
    pat.followed_by("c", lambda r: r["event_type"] == "c")
    out = _run_pattern(spark, _cep_df(spark, rows), pat, ["a", "b", "c"])
    got = {(r.user_id, r.b_id is not None) for r in out}
    assert got == {(1, True), (2, False)}


def test_cep_or_where(spark):
    """where x or y (reference CEPDemo or:419)."""
    rows = [(1, "x", 0), (2, "y", 0), (3, "z", 0)]
    pat = cep.Pattern.begin("m", lambda r: r["event_type"] == "x").or_where(
        lambda r: r["event_type"] == "y"
    )
    out = _run_pattern(spark, _cep_df(spark, rows), pat, ["m"])
    assert {r.user_id for r in out} == {1, 2}


def test_cep_not_next(spark):
    """a notNext(b) c: b immediately after a kills the match
    (reference CEPDemo notNext:566)."""
    rows = [
        (1, "a", 0), (1, "b", 1000), (1, "c", 2000),   # blocked by b
        (2, "a", 0), (2, "x", 1000), (2, "c", 2000),   # ok
    ]
    pat = cep.Pattern.begin("a", lambda r: r["event_type"] == "a")
    pat.not_next("nb", lambda r: r["event_type"] == "b")
    pat.followed_by("c", lambda r: r["event_type"] == "c")
    out = _run_pattern(spark, _cep_df(spark, rows), pat, ["a", "c"])
    assert {r.user_id for r in out} == {2}


def test_cep_not_followed_by(spark):
    """a notFollowedBy(b) c: any b before c kills the match
    (reference CEPDemo notFollowBy:640)."""
    rows = [
        (1, "a", 0), (1, "x", 500), (1, "b", 1000), (1, "c", 2000),  # blocked
        (2, "a", 0), (2, "x", 500), (2, "x", 1000), (2, "c", 2000),  # ok
    ]
    pat = cep.Pattern.begin("a", lambda r: r["event_type"] == "a")
    pat.not_followed_by("nb", lambda r: r["event_type"] == "b")
    pat.followed_by("c", lambda r: r["event_type"] == "c")
    out = _run_pattern(spark, _cep_df(spark, rows), pat, ["a", "c"])
    assert {r.user_id for r in out} == {2}


def test_cep_times_exact(spark):
    """b{3} exactly (reference CEPDemo times:73)."""
    rows = [
        (1, "b", 0), (1, "b", 100), (1, "b", 200), (1, "e", 300),
        (2, "b", 0), (2, "b", 100), (2, "e", 200),
    ]
    pat = cep.Pattern.begin("b", lambda r: r["event_type"] == "b").times(3)
    pat.followed_by("e", lambda r: r["event_type"] == "e")
    out = _run_pattern(spark, _cep_df(spark, rows), pat, ["b", "e"])
    assert {r.user_id for r in out} == {1}


def test_python_udtf_split(spark):
    """Reference TableFunction UDTF (QueryTest.scala:1256-1263: Split
    on comma, used via LATERAL TABLE): Spark 4 Python UDTF."""
    from pyspark.sql.functions import udtf, lit

    @udtf(returnType="word: string, length: int")
    class Split:
        def eval(self, s: str):
            for w in s.split(","):
                yield w, len(w)

    spark.udtf.register("split_words", Split)
    out = spark.sql(
        "SELECT * FROM split_words('alpha,beta,gamma')"
    ).collect()
    assert [(r.word, r.length) for r in out] == [
        ("alpha", 5), ("beta", 4), ("gamma", 5)
    ]
    # LATERAL join form (the reference's LATERAL TABLE(split(b)))
    spark.createDataFrame([("a,b",), ("c",)], "s string").createOrReplaceTempView(
        "udtf_src"
    )
    rows = spark.sql(
        "SELECT s, word FROM udtf_src, LATERAL split_words(s)"
    ).collect()
    assert len(rows) == 3


def test_cep_skip_to_next_overlapping(spark):
    """AFTER MATCH SKIP TO NEXT ROW emits overlapping matches
    (reference CEPDemo skipToNext:846 vs skipPastLastEvent:879)."""
    rows = [(1, "b", 0), (1, "b", 100), (1, "b", 200)]
    # pattern: two consecutive b's
    base = [
        ("skip_past", cep.Pattern.begin("x", lambda r: r["event_type"] == "b").next(
            "y", lambda r: r["event_type"] == "b")),
        ("skip_next", cep.Pattern.begin("x", lambda r: r["event_type"] == "b").next(
            "y", lambda r: r["event_type"] == "b").skip_to_next()),
    ]
    counts = {}
    for name, pat in base:
        out = _run_pattern(spark, _cep_df(spark, rows), pat, ["x", "y"])
        counts[name] = len(out)
    assert counts["skip_past"] == 1  # (0,1); row 2 alone can't pair
    assert counts["skip_next"] == 2  # (0,1) and (1,2)


def test_cep_skip_to_first_and_last_goldens(spark):
    """Replicates the CEPDemo.scala skipToFirst:914 / skipToLast:949 /
    skipPastLastEvent:879 golden outputs: ``timesOrMore(2)`` over the
    WaterSensor stream. Flink's loop default is relaxed contiguity, and
    its streaming NFA emits matches at earliest completion — which in
    this batch engine is ``relaxed().reluctant()``."""

    def water(seq):
        return spark.createDataFrame(
            [
                (1, i, dt.datetime(1970, 1, 1) + dt.timedelta(seconds=s), v)
                for i, s, v in seq
            ],
            "k long, id string, ts timestamp, vc long",
        )

    def run(df, pat):
        def measures(rows_df, b):
            return {
                "members": ",".join(
                    str(int(rows_df.iloc[i]["ts"].timestamp()))
                    for i in b["first"]
                )
            }

        out = cep.match_pattern(
            df, pat, key_cols=["k"], ts_col="ts",
            measures=measures, output_schema="k long, members string",
        )
        return {r.members for r in out.collect()}

    def pat():
        p = cep.Pattern.begin("first", lambda r: r["id"] == "sensor_1")
        return p.times_or_more(2).relaxed().reluctant()

    seq = [
        ("sensor_1", 92, 20), ("sensor_1", 93, 21), ("sensor_1", 94, 22),
        ("sensor_2", 92, 22), ("sensor_1", 96, 22), ("sensor_2", 99, 24),
    ]
    # CEPDemo:908-912 — anchor pinned at the first event, all lengths
    got = run(water(seq), pat().skip_to_first("first"))
    assert got == {"92,93", "92,93,94", "92,93,94,96"}
    # CEPDemo:943-947 — sliding chain re-anchored at the last event
    got = run(water(seq), pat().skip_to_last("first"))
    assert got == {"92,93", "93,94", "94,96"}
    # CEPDemo:875-877 — non-overlapping shift
    got = run(water(seq), pat())
    assert got == {"92,93", "94,96"}


def test_cep_until_stops_one_or_more(spark):
    """b+ until(e): expansion stops at the until row
    (reference CEPDemo until:489)."""
    rows = [(1, "b", 0), (1, "b", 100), (1, "e", 200), (1, "b", 300), (1, "c", 400)]
    pat = cep.Pattern.begin("b", lambda r: r["event_type"] == "b").one_or_more()
    pat.followed_by("c", lambda r: r["event_type"] == "c")
    pat.until(lambda r: r["event_type"] == "e")

    def measures(rows_df, bindings):
        return {"n_b": len(bindings["b"])}

    out = cep.match_pattern(
        _cep_df(spark, rows), pat, key_cols=["user_id"], ts_col="ts",
        measures=measures, output_schema="user_id long, n_b long",
    ).collect()
    assert len(out) == 1
    assert out[0].n_b == 2  # stopped at 'e'; did not absorb the later b


def test_cep_backtracking_quantifier(spark):
    """Greedy b+ must backtrack when it over-consumes: b+ then b->e
    sequence; a pure greedy scan eats all b's and fails."""
    rows = [(1, "b", 0), (1, "b", 100), (1, "b", 200), (1, "e", 300)]
    pat = cep.Pattern.begin("many", lambda r: r["event_type"] == "b").one_or_more()
    pat.next("last_b", lambda r: r["event_type"] == "b")
    pat.next("end", lambda r: r["event_type"] == "e")

    def measures(rows_df, bindings):
        return {"n_many": len(bindings["many"])}

    out = cep.match_pattern(
        _cep_df(spark, rows), pat, key_cols=["user_id"], ts_col="ts",
        measures=measures, output_schema="user_id long, n_many long",
    ).collect()
    assert len(out) == 1
    assert out[0].n_many == 2  # backtracked from 3 to 2


def test_cep_reluctant_quantifier(spark):
    """b+? takes the fewest repeats (MATCH_RECOGNIZE B*? reluctant,
    reference TableSQLFunc2.scala:20-267)."""
    rows = [(1, "b", 0), (1, "b", 100), (1, "b", 200), (1, "e", 300)]

    def mk(reluctant):
        pat = cep.Pattern.begin("many", lambda r: r["event_type"] == "b").one_or_more()
        if reluctant:
            pat.reluctant()
        pat.followed_by("end", lambda r: r["event_type"] == "e")
        return pat

    def measures(rows_df, bindings):
        return {"n_many": len(bindings["many"])}

    res = {}
    for name, rel in [("greedy", False), ("reluctant", True)]:
        out = cep.match_pattern(
            _cep_df(spark, rows), mk(rel), key_cols=["user_id"], ts_col="ts",
            measures=measures, output_schema="user_id long, n_many long",
        ).collect()
        res[name] = out[0].n_many
    assert res["greedy"] == 3
    assert res["reluctant"] == 1


def test_split_stream_side_outputs(spark, sf_dir):
    """Side outputs (reference SideOutput.scala:21): one parent plan,
    N filtered children; channels partition the input."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.operators.streams_util import split_stream

    ev = load_table(spark, sf_dir, "events")
    outs = split_stream(
        ev,
        {
            "errors": F.col("event_type") == "error",
            "purchases": F.col("event_type") == "purchase",
            "rest": ~F.col("event_type").isin("error", "purchase"),
        },
    )
    total = sum(df.count() for df in outs.values())
    assert total == ev.count()
    assert outs["errors"].select("event_type").distinct().collect()[0][0] == "error"


def test_cogroup_apply(spark, sf_dir):
    """coGroup (reference DataSetFunc.scala:334-477): per-key pair of
    groups — compute orders-minus-lineitem count difference per key."""
    import pandas as pd

    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.operators.streams_util import cogroup_apply

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )

    def diff(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        k = l["k"].iloc[0] if len(l) else r["k"].iloc[0]
        return pd.DataFrame({"k": [k], "n_orders": [len(l)], "n_items": [len(r)]})

    out = cogroup_apply(orders, li, ["k"], diff, "k long, n_orders long, n_items long")
    row = out.where(F.col("n_items") > 0).limit(1).collect()[0]
    assert row.n_orders == 1 and row.n_items >= 1
    # every order key appears exactly once
    assert out.count() == orders.select("k").distinct().count()


def test_rate_source_with_processing_time_trigger(spark):
    """Rate source + processing-time trigger (reference
    TaxiRideGenerator.java:37-64 rate-limited generator; proctime)."""
    import time
    import uuid

    from flink_demo_spark.sources.streams import click_stream

    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = (
        click_stream(spark, rows_per_second=500)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.table(name).count()
            if n > 0:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert n > 0
    pages = {r.page for r in spark.table(name).select("page").distinct().collect()}
    assert pages <= {"/help", "/index", "/shop", "/jobs", "/about", "/news"}


def test_geo_helpers(spark):
    """GeoUtils parity (reference GeoUtils.java:31-60; RideCleansing
    bounding-box filter RideCleansingSolution.scala:16)."""
    from flink_demo_spark.operators import geo

    rows = [
        # (lon, lat, in_nyc)   midtown / out-of-box west / out-of-box north
        (-73.98, 40.75, True),
        (-74.30, 40.75, False),
        (-73.98, 41.20, False),
    ]
    df = spark.createDataFrame(rows, "lon double, lat double, expected boolean")
    got = df.select(
        "expected",
        geo.is_in_nyc(F.col("lon"), F.col("lat")).alias("got"),
        geo.grid_cell(F.col("lon"), F.col("lat")).alias("cell"),
    ).collect()
    for r in got:
        assert r.got == r.expected
    # grid cells are non-negative ints inside the box
    assert all(r.cell >= 0 for r in got if r.expected)
    # distance: ~same point = 0; Manhattan->JFK ~ 20km ballpark
    d = spark.createDataFrame(
        [(-73.98, 40.75, -73.7789, 40.6397)], "a double, b double, c double, d double"
    ).select(
        geo.euclidean_km(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("km")
    ).collect()[0].km
    assert 15 < d < 25


def test_asof_join_reference_golden_rates(spark):
    """Golden fixture from the reference temporal table function join
    (changelog-tutorial/.../TemporalJoinTest.scala:19-70): each order
    joins the latest rate with r.rowtime <= o.rowtime for its currency;
    Euro orders straddle two rate versions (114 -> 116 at 12:00:05)."""
    from flink_demo_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2021, 5, 11, 12, 0, s)
    orders = spark.createDataFrame(
        [
            (2, "Euro", t(2)),
            (1, "US Dollar", t(2)),
            (50, "Yen", t(4)),
            (3, "Euro", t(5)),
        ],
        "amount long, currency string, rowtime timestamp",
    )
    rates = spark.createDataFrame(
        [
            ("US Dollar", 102, t(1)),
            ("Euro", 114, t(1)),
            ("Yen", 1, t(1)),
            ("Euro", 116, t(5)),
            ("Euro", 119, t(7)),
        ],
        "currency string, rate long, rowtime timestamp",
    )
    joined = asof_join(
        orders, rates, on="currency", probe_time="rowtime",
        build_time="rowtime", payload_cols=["rate"],
    ).withColumn("yen_amount", F.col("amount") * F.col("rate"))
    got = {
        (r.currency, r.amount, r.rate, r.yen_amount) for r in joined.collect()
    }
    # expected table per the reference's temporal semantics
    # (TableSQLFunc.scala:1211-1219 records the same join shape)
    assert got == {
        ("Euro", 2, 114, 228),        # before the 12:00:05 update
        ("US Dollar", 1, 102, 102),
        ("Yen", 50, 1, 50),
        ("Euro", 3, 116, 348),        # at 12:00:05 the new version applies
    }


def test_temporal_join_sql_reference_text_verbatim(spark):
    """The reference's FOR SYSTEM_TIME AS OF query text
    (QueryTest.scala:802-846 / TemporalJoinTest.scala:108-122) runs
    VERBATIM through the SQL front-end against the rates golden —
    including the LEFT JOIN null row for an order before any rate
    version exists, and both o_time/r_time version columns."""
    from flink_demo_spark.operators.asof import temporal_join_sql

    t = lambda s: dt.datetime(2021, 5, 11, 12, 0, s)
    spark.createDataFrame(
        [
            (7, "Franc", t(3)),  # no Franc version ever -> NULL rate
            (2, "Euro", t(2)),
            (1, "US Dollar", t(2)),
            (50, "Yen", t(4)),
            (3, "Euro", t(5)),
        ],
        "amount long, currency string, rowtime timestamp",
    ).createOrReplaceTempView("Orders")
    spark.createDataFrame(
        [
            ("US Dollar", 102, t(1)),
            ("Euro", 114, t(1)),
            ("Yen", 1, t(1)),
            ("Euro", 116, t(5)),
            ("Euro", 119, t(7)),
        ],
        "currency string, rate long, rowtime timestamp",
    ).createOrReplaceTempView("RatesHistory")

    out = temporal_join_sql(
        spark,
        # QueryTest.scala:831-843, byte-for-byte modulo margin pipes
        """
        SELECT
         o.currency
         ,o.amount
         ,r.rate
         ,o.amount * r.rate as yen_amount
         ,o.rowtime as o_time
         ,r.rowtime as r_time
        FROM Orders o
        LEFT JOIN RatesHistory FOR SYSTEM_TIME AS OF o.rowtime as r
        ON o.currency = r.currency
        """,
    )
    assert out.columns == [
        "currency", "amount", "rate", "yen_amount", "o_time", "r_time"
    ]
    got = {
        (r.currency, r.amount, r.rate, r.yen_amount, r.o_time, r.r_time)
        for r in out.collect()
    }
    assert got == {
        ("Franc", 7, None, None, t(3), None),
        ("Euro", 2, 114, 228, t(2), t(1)),
        ("US Dollar", 1, 102, 102, t(2), t(1)),
        ("Yen", 50, 1, 50, t(4), t(1)),
        ("Euro", 3, 116, 348, t(5), t(5)),
    }
    # plain (inner) JOIN drops the version-less probe row
    inner = temporal_join_sql(
        spark,
        """
        SELECT o.currency, o.amount, r.rate
        FROM Orders o
        JOIN RatesHistory FOR SYSTEM_TIME AS OF o.rowtime AS r
        ON o.currency = r.currency
        """,
    )
    assert {r.currency for r in inner.collect()} == {"Euro", "US Dollar", "Yen"}


def test_temporal_join_sql_parser_variants(spark):
    """Formatting variants the regex front-end must accept: swapped ON
    sides, missing AS keywords, case-mixed keywords, trailing
    semicolon — and clear errors for unsupported shapes."""
    import pytest as _pytest

    from flink_demo_spark.operators.asof import temporal_join_sql

    t = lambda s: dt.datetime(2021, 5, 11, 12, 0, s)
    spark.createDataFrame(
        [(2, "Euro", t(2))], "amount long, currency string, rowtime timestamp"
    ).createOrReplaceTempView("Orders")
    spark.createDataFrame(
        [("Euro", 114, t(1))],
        "currency string, rate long, rowtime timestamp",
    ).createOrReplaceTempView("RatesHistory")

    variants = [
        # swapped ON operand order + no AS anywhere
        """select o.amount, r.rate from Orders o
           join RatesHistory for system_time as of o.rowtime r
           on r.currency = o.currency""",
        # explicit AS + trailing semicolon + extra whitespace
        """SELECT  o.amount , r.rate
           FROM Orders AS o
           LEFT JOIN RatesHistory FOR SYSTEM_TIME AS OF o . rowtime AS r
           ON  o.currency=r.currency ;""",
    ]
    for sql in variants:
        got = {(r.amount, r.rate) for r in temporal_join_sql(spark, sql).collect()}
        assert got == {(2, 114)}, sql

    with _pytest.raises(ValueError, match="probe alias"):
        temporal_join_sql(
            spark,
            """SELECT o.amount FROM Orders o
               JOIN RatesHistory FOR SYSTEM_TIME AS OF r.rowtime AS r
               ON o.currency = r.currency""",
        )
    with _pytest.raises(ValueError, match="ON"):
        temporal_join_sql(
            spark,
            """SELECT o.amount FROM Orders o
               JOIN RatesHistory FOR SYSTEM_TIME AS OF o.rowtime AS r
               ON o.currency = r.currency AND o.amount > 1""",
        )
    with _pytest.raises(ValueError, match="not a SELECT"):
        temporal_join_sql(spark, "SELECT 1")


def test_match_recognize_ticker_golden(spark):
    """Reference MATCH_RECOGNIZE golden (QueryTest.scala:942-1026;
    expected match recorded at TableSQLFunc.scala:1561-1567): ACME
    ticker, PATTERN (START_ROW PRICE_DOWN+ PRICE_UP) — one V-shape:
    start 10:00:04 (price 25), bottom 10:00:07 (14), up 10:00:08 (24)."""
    prices = [12, 17, 19, 21, 25, 18, 15, 14, 24, 25, 19]
    base = dt.datetime(2021, 5, 11, 10, 0, 0)
    df = spark.createDataFrame(
        [("ACME", base + dt.timedelta(seconds=i), p) for i, p in enumerate(prices)],
        "symbol string, rowtime timestamp, price long",
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("symbol").orderBy("rowtime")
    with_dir = df.withColumn(
        "dir",
        F.when(F.col("price") < F.lag("price").over(w), -1)
        .when(F.col("price") > F.lag("price").over(w), 1)
        .otherwise(0),
    )
    pat = cep.Pattern.begin("start", lambda r: True)
    pat.next("down", lambda r: r["dir"] == -1).one_or_more()
    pat.next("up", lambda r: r["dir"] == 1)

    def measures(rows, b):
        return {
            "start_tmstp": rows.iloc[b["start"][0]]["rowtime"],
            "bottom_tmstp": rows.iloc[b["down"][-1]]["rowtime"],
            "end_tmstp": rows.iloc[b["up"][0]]["rowtime"],
        }

    out = cep.match_pattern(
        with_dir, pat, key_cols=["symbol"], ts_col="rowtime",
        measures=measures,
        output_schema=(
            "symbol string, start_tmstp timestamp, bottom_tmstp timestamp, "
            "end_tmstp timestamp"
        ),
    ).collect()
    assert len(out) == 1
    m = out[0]
    assert m.start_tmstp == base + dt.timedelta(seconds=4)
    assert m.bottom_tmstp == base + dt.timedelta(seconds=7)
    assert m.end_tmstp == base + dt.timedelta(seconds=8)


def test_batch_lookup_broadcast_dict(spark, sf_dir):
    """Vectorized dim lookup (reference DimAsyncFunction.java:119-160):
    broadcast dict + one Series.map per Arrow batch."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.operators.lookup import batch_lookup

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    table = {"click": "CLICK!", "purchase": "BUY!"}
    out = batch_lookup(
        ev, "event_type", table, out_col="label", default="other"
    )
    got = {
        r.event_type: r.label
        for r in out.select("event_type", "label").distinct().collect()
    }
    assert got["click"] == "CLICK!" and got["purchase"] == "BUY!"
    assert got["view"] == "other"


def test_batch_lookup_default_none_keeps_nulls(spark, sf_dir):
    """default=None must not crash pandas fillna; misses stay NULL."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.operators.lookup import batch_lookup

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    out = batch_lookup(ev, "event_type", {"click": "CLICK!"}, out_col="label")
    got = {
        r.event_type: r.label
        for r in out.select("event_type", "label").distinct().collect()
    }
    assert got["click"] == "CLICK!"
    assert got["view"] is None


def _sensor_df(spark, rows):
    """(sensor_id, ts_ms) events on one logical stream (key=0)."""
    return spark.createDataFrame(
        [
            (0, sid, dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms))
            for sid, ms in rows
        ],
        "k long, sensor string, ts timestamp",
    )


def test_cep_followed_by_any_reference_golden(spark):
    """followedByAny branches at every later match (CEPDemo.scala:
    674-704 golden: 4 matches). sensor_2's first event is shifted
    +500ms off the reference's tie so event order is deterministic."""
    df = _sensor_df(
        spark,
        [("sensor_1", 92000), ("sensor_2", 92500), ("sensor_1", 94000),
         ("sensor_1", 96000), ("sensor_2", 99000)],
    )
    pat = cep.Pattern.begin(
        "first", lambda r: r["sensor"] == "sensor_1"
    ).followed_by_any("third", lambda r: r["sensor"] == "sensor_2")

    def measures(rows_df, b):
        return {
            "first_ts": rows_df.iloc[b["first"][0]]["ts"],
            "third_ts": rows_df.iloc[b["third"][0]]["ts"],
        }

    out = cep.match_pattern(
        df, pat.no_skip(), ["k"], "ts", measures,
        "k long, first_ts timestamp, third_ts timestamp",
    ).collect()
    got = sorted((r.first_ts.second, r.third_ts.second) for r in out)
    assert got == [(32, 32), (32, 39), (34, 39), (36, 39)]


def test_cep_allow_combinations_reference_golden(spark):
    """times(2).allowCombinations() emits every 2-subset anchored at
    each match (CEPDemo.scala:211-246 golden: {92,94} {92,96} {94,96})."""
    df = _sensor_df(
        spark,
        [("sensor_1", 92000), ("sensor_2", 93000), ("sensor_1", 94000),
         ("sensor_1", 96000), ("sensor_2", 99000)],
    )
    pat = (
        cep.Pattern.begin("first", lambda r: r["sensor"] == "sensor_1")
        .times(2)
        .allow_combinations()
    )

    def measures(rows_df, b):
        return {
            "t1": rows_df.iloc[b["first"][0]]["ts"],
            "t2": rows_df.iloc[b["first"][1]]["ts"],
        }

    out = cep.match_pattern(
        df, pat.no_skip(), ["k"], "ts", measures, "k long, t1 timestamp, t2 timestamp"
    ).collect()
    got = sorted((r.t1.second, r.t2.second) for r in out)
    assert got == [(32, 34), (32, 36), (34, 36)]


def test_cep_pattern_group_reference_golden(spark):
    """Pattern group (2×sensor_1, relaxed) then strictly-next sensor_2
    (CEPDemo.scala:740 golden: start=[94, 96], second=[99])."""
    df = _sensor_df(
        spark,
        [("sensor_1", 92000), ("sensor_2", 93000), ("sensor_1", 94000),
         ("sensor_1", 96000), ("sensor_2", 99000)],
    )
    sub = (
        cep.Pattern.begin("start", lambda r: r["sensor"] == "sensor_1")
        .times(2)
        .relaxed()
    )
    pat = cep.Pattern.begin_group(sub).next(
        "second", lambda r: r["sensor"] == "sensor_2"
    )

    def measures(rows_df, b):
        return {
            "s1": rows_df.iloc[b["start"][0]]["ts"],
            "s2": rows_df.iloc[b["start"][1]]["ts"],
            "sec": rows_df.iloc[b["second"][0]]["ts"],
        }

    out = cep.match_pattern(
        df, pat.no_skip(), ["k"], "ts", measures,
        "k long, s1 timestamp, s2 timestamp, sec timestamp",
    ).collect()
    got = sorted((r.s1.second, r.s2.second, r.sec.second) for r in out)
    assert got == [(34, 36, 39)]


def test_cep_timeout_side_output(spark):
    """create->pay within 15min; unpaid orders go to the timeout side
    output (reference TimeoutMatchByCep.scala:10-19, OrderPay.scala:
    31-53: success for paid, 'timeout' with the create event for not)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "create", t0), (1, "pay", t0 + dt.timedelta(minutes=10)),
        (2, "create", t0),  # never paid -> timeout
        (3, "pay", t0),     # pay without create -> nothing
    ]
    df = spark.createDataFrame(rows, "order_id long, etype string, ts timestamp")
    pat = (
        cep.Pattern.begin("begin", lambda r: r["etype"] == "create")
        .followed_by("follow", lambda r: r["etype"] == "pay")
        .within_time("15min")
    )

    def ok(rows_df, b):
        return {"status": "success"}

    def timed_out(rows_df, b):
        assert b.get("begin"), "timeout must carry the partial begin event"
        return {"status": "timeout"}

    out = cep.match_pattern(
        df, pat, ["order_id"], "ts", ok,
        "order_id long, status string, is_timeout boolean",
        timeout_measures=timed_out,
    ).collect()
    got = {(r.order_id, r.status, r.is_timeout) for r in out}
    assert got == {(1, "success", False), (2, "timeout", True)}


def test_cep_times_range_and_times_or_more(spark):
    """times(n, m) enumerates all counts under NO_SKIP when not greedy
    (CEPDemo.scala greedy golden: non-greedy emits [92],[93],[92,93])."""
    df = _sensor_df(
        spark,
        [("sensor_1", 92000), ("sensor_1", 93000), ("sensor_2", 94000)],
    )
    pat = (
        cep.Pattern.begin("first", lambda r: r["sensor"] == "sensor_1")
        .times(1, 2)
        .reluctant()
        .followed_by("second", lambda r: r["sensor"] == "sensor_2")
    )

    def measures(rows_df, b):
        return {"n_first": len(b["first"]), "t1": rows_df.iloc[b["first"][0]]["ts"]}

    out = cep.match_pattern(
        df, pat.no_skip(), ["k"], "ts", measures, "k long, n_first long, t1 timestamp"
    ).collect()
    got = sorted((r.t1.second, r.n_first) for r in out)
    # anchor@92: counts 1 and 2; anchor@93: count 1
    assert got == [(32, 1), (32, 2), (33, 1)]


def test_cosine_pairs_lsh_subset_of_exact(spark, sf_dir):
    """LSH-bucketed embedding near-dups (verified at t) must be a
    subset of the exact cosine pairs at t, with identical sims."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.doc1, r.doc2): r.cosine_sim
        for r in similarity.cosine_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    lsh = similarity.cosine_pairs_lsh(
        emb, LSH_PLANES, "vec_id", "embedding", 0.4
    ).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert exact[(r.doc1, r.doc2)] == pytest.approx(r.cosine_sim, abs=1e-9)


def test_connected_components_chain_and_singleton(spark):
    """A 4-node chain (needs multi-round label propagation), a pair,
    and an isolated node must each collapse to their minimum id."""
    from flink_demo_spark.operators import graph

    edges = spark.createDataFrame(
        [(3, 4), (4, 5), (5, 6), (10, 11)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in [3, 4, 5, 6, 10, 11, 99]], "id long")
    got = {
        (r.node, r.comp)
        for r in graph.connected_components(edges, nodes=nodes).collect()
    }
    assert got == {(3, 3), (4, 3), (5, 3), (6, 3), (10, 10), (11, 10), (99, 99)}


def test_connected_components_nodes_inferred_from_edges(spark):
    from flink_demo_spark.operators import graph

    edges = spark.createDataFrame([(2, 1), (2, 3)], "src long, dst long")
    got = {(r.node, r.comp) for r in graph.connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_cep_group_optional_inner_step(spark):
    """Group (A B?) x2 then sensor_3: the optional B may bind in either
    repetition or not at all. Hand-computed: data s1@92 s2@93 s1@94
    s3@95 admits exactly two solutions from anchor 92 — B=[93] and
    B=[] (B cannot bind after 94). Closes the former
    NotImplementedError guard (operators/cep.py solve_group)."""
    df = _sensor_df(
        spark,
        [("sensor_1", 92000), ("sensor_2", 93000), ("sensor_1", 94000),
         ("sensor_3", 95000)],
    )
    sub = (
        cep.Pattern.begin("a", lambda r: r["sensor"] == "sensor_1")
        .followed_by("b", lambda r: r["sensor"] == "sensor_2")
        .optional()
    )
    pat = cep.Pattern.begin_group(sub).times(2).followed_by(
        "end", lambda r: r["sensor"] == "sensor_3"
    )

    def measures(rows_df, b):
        return {
            "a1": rows_df.iloc[b["a"][0]]["ts"],
            "a2": rows_df.iloc[b["a"][1]]["ts"],
            "nb": len(b.get("b", [])),
        }

    out = cep.match_pattern(
        df, pat.no_skip(), ["k"], "ts", measures, "k long, a1 timestamp, a2 timestamp, nb long"
    ).collect()
    got = sorted((r.a1.second, r.a2.second, r.nb) for r in out)
    assert got == [(32, 34, 0), (32, 34, 1)]


def test_cep_group_not_next_inner_step(spark):
    """Group (A notNext(s2) B): the event right after A must not be
    sensor_2. Hand-computed on s1@92 s3@93 s1@95 s2@96 s3@97: only the
    anchor at 92 survives (95 is followed immediately by s2)."""
    df = _sensor_df(
        spark,
        [("sensor_1", 92000), ("sensor_3", 93000), ("sensor_1", 95000),
         ("sensor_2", 96000), ("sensor_3", 97000)],
    )
    sub = (
        cep.Pattern.begin("a", lambda r: r["sensor"] == "sensor_1")
        .not_next("n", lambda r: r["sensor"] == "sensor_2")
        .followed_by("b", lambda r: r["sensor"] == "sensor_3")
    )
    pat = cep.Pattern.begin_group(sub)

    def measures(rows_df, b):
        return {
            "a_ts": rows_df.iloc[b["a"][0]]["ts"],
            "b_ts": rows_df.iloc[b["b"][0]]["ts"],
        }

    out = cep.match_pattern(
        df, pat.no_skip(), ["k"], "ts", measures, "k long, a_ts timestamp, b_ts timestamp"
    ).collect()
    assert sorted((r.a_ts.second, r.b_ts.second) for r in out) == [(32, 33)]


def test_cep_group_not_followed_by_inner_step(spark):
    """Group (A notFollowedBy(s2) B): no sensor_2 anywhere between A
    and B. Same data as notNext — the 95 anchor dies because s2@96
    precedes the next s3."""
    df = _sensor_df(
        spark,
        [("sensor_1", 92000), ("sensor_3", 93000), ("sensor_1", 95000),
         ("sensor_2", 96000), ("sensor_3", 97000)],
    )
    sub = (
        cep.Pattern.begin("a", lambda r: r["sensor"] == "sensor_1")
        .not_followed_by("n", lambda r: r["sensor"] == "sensor_2")
        .followed_by("b", lambda r: r["sensor"] == "sensor_3")
    )
    pat = cep.Pattern.begin_group(sub)

    def measures(rows_df, b):
        return {
            "a_ts": rows_df.iloc[b["a"][0]]["ts"],
            "b_ts": rows_df.iloc[b["b"][0]]["ts"],
        }

    out = cep.match_pattern(
        df, pat.no_skip(), ["k"], "ts", measures, "k long, a_ts timestamp, b_ts timestamp"
    ).collect()
    assert sorted((r.a_ts.second, r.b_ts.second) for r in out) == [(32, 33)]


def test_cep_nested_group(spark):
    """Group-of-group: ((A next B) x2) then sensor_3. Hand-computed on
    s1@92 s2@93 s1@94 s2@95 s3@96: a=[92,94], b=[93,95], c=96."""
    df = _sensor_df(
        spark,
        [("sensor_1", 92000), ("sensor_2", 93000), ("sensor_1", 94000),
         ("sensor_2", 95000), ("sensor_3", 96000)],
    )
    inner = cep.Pattern.begin("a", lambda r: r["sensor"] == "sensor_1").next(
        "b", lambda r: r["sensor"] == "sensor_2"
    )
    outer_sub = cep.Pattern.begin_group(inner, name="ig").times(2)
    pat = cep.Pattern.begin_group(outer_sub, name="og").followed_by(
        "c", lambda r: r["sensor"] == "sensor_3"
    )

    def measures(rows_df, b):
        return {
            "a1": rows_df.iloc[b["a"][0]]["ts"],
            "b1": rows_df.iloc[b["b"][0]]["ts"],
            "a2": rows_df.iloc[b["a"][1]]["ts"],
            "b2": rows_df.iloc[b["b"][1]]["ts"],
            "c_ts": rows_df.iloc[b["c"][0]]["ts"],
        }

    out = cep.match_pattern(
        df, pat, ["k"], "ts", measures,
        "k long, a1 timestamp, b1 timestamp, a2 timestamp, b2 timestamp, "
        "c_ts timestamp",
    ).collect()
    assert [(r.a1.second, r.b1.second, r.a2.second, r.b2.second, r.c_ts.second)
            for r in out] == [(32, 33, 34, 35, 36)]


def test_cep_group_trailing_not_followed_by_rejected(spark):
    """Flink rejects a trailing notFollowedBy; a group whose last step
    is one raises the same way."""
    df = _sensor_df(spark, [("sensor_1", 92000)])
    sub = cep.Pattern.begin("a", lambda r: r["sensor"] == "sensor_1").not_followed_by(
        "n", lambda r: r["sensor"] == "sensor_2"
    )
    pat = cep.Pattern.begin_group(sub)

    def measures(rows_df, b):
        return {"a_ts": rows_df.iloc[b["a"][0]]["ts"]}

    with pytest.raises(Exception, match="notFollowedBy"):
        cep.match_pattern(
            df, pat.no_skip(), ["k"], "ts", measures, "k long, a_ts timestamp"
        ).collect()


def test_bulk_iterate_runs_steps_with_lineage_truncation(spark):
    """Bulk iteration (DataSetFunc.scala:790-808): 30 distributed
    increment rounds with localCheckpoint truncation — the final value
    is exact and the analyzed plan stays shallow."""
    from pyspark.sql import functions as F

    from flink_demo_spark.operators.iterate import bulk_iterate

    df = spark.range(4).select(F.lit(0).alias("acc"), "id")
    out = bulk_iterate(
        df,
        step=lambda d, i: d.select((F.col("acc") + 1).alias("acc"), "id"),
        max_iterations=30,
        checkpoint_every=5,
    )
    rows = out.collect()
    assert all(r.acc == 30 for r in rows) and len(rows) == 4
    # lineage must be truncated: a 30-deep Project chain would show
    # dozens of Projects; after checkpointing the plan is shallow
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Project") <= 6, plan


def test_bulk_iterate_convergence_stops_early(spark):
    from pyspark.sql import functions as F

    from flink_demo_spark.operators.iterate import bulk_iterate

    calls = []

    def step(d, i):
        calls.append(i)
        return d.select((F.col("v") * 2).alias("v"))

    def converged(prev, cur):
        return cur.agg(F.max("v")).collect()[0][0] >= 16

    df = spark.createDataFrame([(1,)], "v long")
    out = bulk_iterate(df, step, max_iterations=50, converged=converged)
    assert out.collect()[0].v == 16
    assert calls == [0, 1, 2, 3]


def test_cep_iterative_condition_reference_golden(spark):
    """IterativeCondition (CEPDemo.scala:383-417): a (row, ctx)
    predicate; the reference golden is one single-event match per
    sensor_1 event (ctx available but unused, as in the reference)."""
    seq = [
        ("sensor_1", 1607527992000, 20),
        ("sensor_1", 1607527994000, 21),
        ("sensor_2", 1607527992000, 22),
        ("sensor_1", 1607527996000, 22),
        ("sensor_2", 1607527999000, 24),
    ]
    df = spark.createDataFrame(
        [
            (1, sid, dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms), vc)
            for sid, ms, vc in seq
        ],
        "k long, id string, ts timestamp, vc long",
    )
    pat = cep.Pattern.begin(
        "first", lambda r, ctx: r["id"] == "sensor_1"
    )

    def measures(rows_df, bindings):
        return {"ts": rows_df.iloc[bindings["first"][0]]["ts"]}

    out = cep.match_pattern(
        df, pat.no_skip(), ["k"], "ts", measures, "k long, ts timestamp"
    ).collect()
    got = sorted(int(r.ts.timestamp() * 1000) for r in out)
    assert got == [1607527992000, 1607527994000, 1607527996000]


def test_cep_iterative_condition_cross_step(spark):
    """'small then large' where large is RELATIVE to the matched small
    (the canonical IterativeCondition use: next value > 10x the first
    matched event's value)."""
    rows = [
        # small=4, next=50 > 40 -> match
        (1, 4, 0), (1, 50, 1),
        # small=8, next=50 < 80 -> no match for user 2
        (2, 8, 0), (2, 50, 1),
    ]
    df = spark.createDataFrame(
        [
            (u, v, dt.datetime(1970, 1, 1) + dt.timedelta(seconds=s))
            for u, v, s in rows
        ],
        "user_id long, v long, ts timestamp",
    )
    pat = cep.Pattern.begin("small", lambda r: r["v"] < 10).next(
        "large",
        lambda r, ctx: r["v"] > 10 * ctx.events_for_pattern("small")[0]["v"],
    )

    def measures(rows_df, bindings):
        return {
            "small_v": int(rows_df.iloc[bindings["small"][0]]["v"]),
            "large_v": int(rows_df.iloc[bindings["large"][0]]["v"]),
        }

    out = cep.match_pattern(
        df, pat, ["user_id"], "ts", measures,
        "user_id long, small_v long, large_v long",
    ).collect()
    assert len(out) == 1
    assert out[0].user_id == 1 and out[0].small_v == 4 and out[0].large_v == 50


def test_cep_iterative_condition_running_aggregate():
    """A loop repeat joins only while the row beats the mean of the
    events matched so far for the SAME step (pure-pandas NFA check:
    ctx sees earlier repeats of the in-progress run)."""
    import pandas as pd

    from flink_demo_spark.operators.cep import Pattern, _match_from

    def above_running_mean(r, ctx):
        prev = ctx.events_for_pattern("a")
        if not prev:
            return r["v"] > 0
        return r["v"] > sum(p["v"] for p in prev) / len(prev)

    rows = pd.DataFrame(
        {
            "v": [10, 12, 11, 20, 5],
            "ts": pd.to_datetime(range(5), unit="s"),
        }
    )
    pat = Pattern.begin("a", above_running_mean).one_or_more()
    m = _match_from(rows, 0, pat, "ts")
    assert m is not None
    _end, bindings = m
    # 10 -> 12 (>10) -> 11 fails (not > mean(10,12)=11): consecutive stop
    assert bindings["a"] == [0, 1]


def test_cep_iterative_condition_and_where_combination():
    """and_where mixing a plain predicate with an iterative one keeps
    ctx dispatch (combined condition is ctx-aware)."""
    import pandas as pd

    from flink_demo_spark.operators.cep import Pattern, _match_from

    pat = Pattern.begin("x", lambda r: r["v"] > 0).next(
        "y", lambda r: r["v"] > 0
    )
    pat.and_where(
        lambda r, ctx: r["v"] != ctx.events_for_pattern("x")[0]["v"]
    )
    rows = pd.DataFrame(
        {"v": [5, 5, 7], "ts": pd.to_datetime(range(3), unit="s")}
    )
    # y must differ from x: anchor 0 (v=5) next 5 fails; anchor 1 next 7 ok
    m = _match_from(rows, 0, pat, "ts")
    assert m is None
    m = _match_from(rows, 1, pat, "ts")
    assert m is not None and m[1]["y"] == [2]


def test_connected_components_star_equals_min_label_random(spark):
    """large-star/small-star (Kiveris SoCC'14) must produce the same
    (node, comp) labeling as min-label propagation on a random graph."""
    import random

    from flink_demo_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(42)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
    df = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.range(n).select(F.col("id").alias("node"))
    a = {(r.node, r.comp) for r in connected_components(df, nodes=nodes).collect()}
    b = {
        (r.node, r.comp)
        for r in connected_components_star(df, nodes=nodes).collect()
    }
    assert a == b


def test_connected_components_star_chain_logarithmic_rounds(spark):
    """A 256-node chain: min-label needs O(n) rounds; the star
    algorithm must label it identically in O(log^2 n) rounds."""
    from flink_demo_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    n = 256
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    labels, rounds = connected_components_star(df, return_rounds=True)
    got = {(r.node, r.comp) for r in labels.collect()}
    assert got == {(i, 0) for i in range(n)}
    assert rounds <= 12, rounds
    # sanity: min-label on a much shorter chain already needs ~length
    # rounds, so the star round count is the genuine scale win
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "src long, dst long"
    )
    ml = {(r.node, r.comp) for r in connected_components(short).collect()}
    assert ml == {(i, 0) for i in range(32)}


def test_connected_components_star_singletons_and_self_loops(spark):
    from flink_demo_spark.operators.graph import connected_components_star

    df = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 3), (5, 4)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "node long")
    got = {
        (r.node, r.comp)
        for r in connected_components_star(df, nodes=nodes).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (6, 6), (7, 7),
    }


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """IVF with nprobe = number of centroids must equal exact
    brute-force top-k (every cell is probed, so the candidate set is
    the whole corpus)."""
    from flink_demo_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, 8)
    queries = emb.where(F.col("vec_id") < 3)
    ivf = {
        (r.query_id, r.rk, r.neighbor_id)
        for r in similarity.ivf_top_k(
            emb, queries, cents, k=4, nprobe=len(cents)
        ).collect()
    }
    bf = {
        (r.query_id, r.rk, r.neighbor_id)
        for r in similarity.brute_force_top_k(emb, queries, k=4).collect()
    }
    assert ivf == bf


def test_kmeans_update_exact_means_and_objective(spark, sf_dir):
    """kmeans_update returns the exact per-dimension member mean
    (hand-checked on a 2-cell toy frame), and one Lloyd iteration on
    the real embeddings never decreases the mean cosine-to-centroid
    objective (monotonicity of Lloyd's algorithm under cosine
    assignment with mean updates on unit-normalized-ish data)."""
    from flink_demo_spark.operators import similarity

    toy = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [3.0, 2.0]), (2, [0.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    assigned = toy.withColumn(
        "cell", F.when(F.col("vec_id") < 2, F.lit(0)).otherwise(F.lit(1))
    )
    assert similarity.kmeans_update(assigned) == [
        (0, [2.0, 1.0]),
        (1, [0.0, 4.0]),
    ]

    emb = load_table(spark, sf_dir, "embeddings")
    init = first_vectors(emb, 8)

    def objective(cents):
        row = (
            similarity.ivf_assign(emb, cents, sim_col="s")
            .agg(F.avg("s").alias("m"))
            .collect()[0]
        )
        return float(row.m)

    after = similarity.kmeans_lloyd(emb, init, iterations=1)
    assert objective(after) >= objective(init) - 1e-9


def test_ppm_decode_golden_and_resize():
    """decode_ppm parses a hand-written P6 payload (with comment)
    byte-exactly; resize_nearest uses (i*h)//th integer sampling."""
    import numpy as np

    from flink_demo_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        resize_nearest,
    )

    img = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [7, 8, 9]]], dtype=np.uint8
    )
    assert (decode_ppm(encode_ppm(img)) == img).all()
    commented = b"P6\n# test comment\n2 2\n255\n" + img.tobytes()
    assert (decode_ppm(commented) == img).all()
    big = np.arange(6 * 4 * 3, dtype=np.uint8).reshape(6, 4, 3)
    small = resize_nearest(big, 2, 3)
    assert (small == big[[0, 2, 4]][:, [0, 2]]).all()
    import pytest

    with pytest.raises(ValueError):
        decode_ppm(b"P5\n2 2\n255\n....")
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n255\nxx")  # truncated raster


def test_wav_decode_golden_chunk_walk():
    """decode_wav round-trips PCM16, skips unknown chunks with word
    alignment, and rejects non-PCM16 payloads."""
    import struct

    import numpy as np
    import pytest

    from flink_demo_spark.operators.multimodal import decode_wav, encode_wav

    s = np.array([0, 1, -1, 32767, -32768], dtype=np.int16)
    rate, back = decode_wav(encode_wav(s, 44100))
    assert rate == 44100 and (back == s).all()
    payload = encode_wav(s)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    patched = payload[:12] + extra + payload[12:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert (decode_wav(patched)[1] == s).all()
    with pytest.raises(ValueError):
        decode_wav(b"RIFX" + payload[4:])
    stereo = payload.replace(
        struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16),
        struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16),
    )
    with pytest.raises(ValueError):
        decode_wav(stereo)


def test_y4m_decode_golden_and_guards():
    """decode_y4m round-trips C444 frames and rejects other
    colorspaces / truncated rasters."""
    import numpy as np
    import pytest

    from flink_demo_spark.operators.multimodal import decode_y4m, encode_y4m

    frames = np.arange(2 * 3 * 4 * 5, dtype=np.uint8).reshape(2, 3, 4, 5)
    fps, back = decode_y4m(encode_y4m(frames, 30))
    assert fps == 30 and (back == frames).all()
    with pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W4 H5 F25:1 Ip A1:1 C420\nFRAME\n" + b"x" * 60)
    with pytest.raises(ValueError):
        decode_y4m(encode_y4m(frames)[:-3])  # truncated raster


def test_sorted_rows_recs_matches_pandas_path():
    """The numpy lexsort record builder (round-5 fast path) must
    produce the same sorted records as sort_values + to_dict across
    dtypes: ints, floats w/ NaN, strings w/ None, ns-timestamps, and
    duplicate sort keys (stability)."""
    import numpy as np
    import pandas as pd

    from flink_demo_spark.operators.cep import _sorted_rows_recs

    rng = np.random.RandomState(17)
    n = 200
    pdf = pd.DataFrame(
        {
            "k": rng.randint(0, 5, n).astype("int64"),
            "ts": pd.to_datetime(
                rng.randint(0, 10, n) * 86_400_000_000_000
            ),  # ns epoch, many duplicates
            "eid": rng.permutation(n).astype("int64"),
            "val": np.where(rng.rand(n) < 0.1, np.nan, rng.rand(n) * 100),
            "s": pd.Series(
                [None if i % 13 == 0 else f"s{i % 7}" for i in range(n)],
                dtype=object,
            ),
        }
    )
    rows, recs = _sorted_rows_recs(pdf, ["ts", "eid"])
    ref = pdf.sort_values(["ts", "eid"], kind="stable").reset_index(drop=True)
    ref_recs = ref.to_dict("records")
    assert len(recs) == len(ref_recs) == n
    for a, b in zip(recs, ref_recs):
        assert a["k"] == b["k"] and a["eid"] == b["eid"]
        assert a["ts"] == b["ts"] and type(a["ts"]) is type(b["ts"])
        assert a["s"] == b["s"]
        va, vb = a["val"], b["val"]
        assert (va != va and vb != vb) or va == vb  # NaN-aware
    # the rows frame is the same permutation
    assert rows["eid"].tolist() == ref["eid"].tolist()


def test_bloom_prefilter_no_false_negatives_and_prunes(spark, sf_dir):
    """The Bloom prefilter must pass EVERY true duplicate (no false
    negatives — the property that lets the exact verify join produce
    an exact result) while pruning a real fraction of the non-dup
    incoming rows (the point of the sketch)."""
    from flink_demo_spark.operators import dedup, text

    docs = text.fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", text.fingerprint("text").alias("fp")
    )
    hist = docs.where(F.col("doc_id") % 3 != 0)
    incoming = docs.where(F.col("doc_id") % 3 == 0)

    bitmap = dedup.bloom_bitmap(hist, "fp")
    cand_ids = {
        r["doc_id"]
        for r in dedup.bloom_prefilter(incoming, "fp", bitmap).collect()
    }
    true_dups = {
        r["doc_id"]
        for r in incoming.join(hist.select("fp"), "fp", "left_semi").collect()
    }
    n_incoming = incoming.count()
    assert true_dups <= cand_ids  # Bloom never false-negatives
    # with m=2^16 bits and a few hundred set bits the FP rate is tiny:
    # the prefilter must drop most non-duplicate incoming rows
    assert len(cand_ids - true_dups) <= max(2, n_incoming // 10)


# ---------------------------------------------------------------------------
# group-window SQL rewriter: literal/comment inertness (round-8 ADVICE)


def test_group_window_rewrite_ignores_literals_and_comments():
    from flink_demo_spark.operators.group_window_sql import rewrite_group_window_sql

    sql = """
 -- TUMBLE(ts, INTERVAL '9' DAY) in a comment must be inert
 SELECT /* HOP(ts, INTERVAL '1' HOUR, INTERVAL '2' HOUR) */
   'SESSION(ts, INTERVAL ''7'' DAY)' AS note,
   TUMBLE_START(ts, INTERVAL '1' HOUR) AS w_start,
   COUNT(*) AS cnt
 FROM t
 GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)
 """
    out = rewrite_group_window_sql(sql)
    # real constructs rewritten
    assert "window.start AS w_start" in out
    assert "GROUP BY window(ts, '1 hour')" in out
    # literal/comment occurrences left verbatim (no mixed-kind error either)
    assert "-- TUMBLE(ts, INTERVAL '9' DAY)" in out
    assert "/* HOP(ts, INTERVAL '1' HOUR, INTERVAL '2' HOUR) */" in out
    assert "'SESSION(ts, INTERVAL ''7'' DAY)'" in out


def test_group_window_rewrite_literal_only_is_no_construct():
    from flink_demo_spark.operators.group_window_sql import rewrite_group_window_sql

    with pytest.raises(ValueError, match="no TUMBLE/HOP/SESSION"):
        rewrite_group_window_sql(
            "SELECT 'TUMBLE(ts, INTERVAL ''1'' HOUR)' AS s FROM t"
        )


def test_window_tvf_rewrite_forms_and_errors():
    """FLIP-145 window TVF rewriter: each form lowers to the expected
    Spark text; SESSION and malformed argument lists fail fast; TVF
    text inside literals/comments stays inert."""
    import pytest as _pytest

    from flink_demo_spark.operators.window_tvf_sql import (
        rewrite_window_tvf_sql,
    )

    out = rewrite_window_tvf_sql(
        "SELECT window_start, count(*) FROM TABLE(TUMBLE(TABLE t, "
        "DESCRIPTOR(ts), INTERVAL '1' HOUR)) GROUP BY window_start"
    )
    assert "window(ts, '1 hour')" in out
    assert "window_time" in out and "TABLE(" not in out

    out = rewrite_window_tvf_sql(
        "SELECT * FROM TABLE(HOP(TABLE t, DESCRIPTOR(ts), "
        "INTERVAL '30' MINUTE, INTERVAL '1' HOUR))"
    )
    # Flink (slide, size) -> Spark (size, slide)
    assert "window(ts, '1 hour', '30 minute')" in out

    out = rewrite_window_tvf_sql(
        "SELECT * FROM TABLE(CUMULATE(TABLE t, DESCRIPTOR(ts), "
        "INTERVAL '1' HOUR, INTERVAL '4' HOUR))"
    )
    assert "explode(sequence(" in out and "DIV 14400 * 14400" in out

    with _pytest.raises(ValueError, match="SESSION"):
        rewrite_window_tvf_sql(
            "SELECT * FROM TABLE(SESSION(TABLE t PARTITION BY k, "
            "DESCRIPTOR(ts), INTERVAL '5' MINUTE))"
        )
    with _pytest.raises(ValueError, match="multiple of"):
        rewrite_window_tvf_sql(
            "SELECT * FROM TABLE(CUMULATE(TABLE t, DESCRIPTOR(ts), "
            "INTERVAL '7' MINUTE, INTERVAL '1' HOUR))"
        )
    with _pytest.raises(ValueError, match="HOP TVF needs"):
        rewrite_window_tvf_sql(
            "SELECT * FROM TABLE(HOP(TABLE t, DESCRIPTOR(ts), "
            "INTERVAL '1' HOUR))"
        )
    with _pytest.raises(ValueError, match="no TUMBLE/HOP/CUMULATE"):
        rewrite_window_tvf_sql(
            "SELECT '<from TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), "
            "INTERVAL ''1'' HOUR))>' AS s FROM t"
        )


def test_window_tvf_executes_tumble_and_window_time(spark):
    """The rewritten TVF runs on a real session and window_time obeys
    Flink's end-minus-1ms definition."""
    import datetime as dt

    from flink_demo_spark.operators.window_tvf_sql import window_tvf_sql

    base = dt.datetime(1970, 1, 1)
    rows = [(i, base + dt.timedelta(minutes=25 * i)) for i in range(4)]
    spark.createDataFrame(rows, "v long, ts timestamp").createOrReplaceTempView(
        "tvf_t"
    )
    out = window_tvf_sql(
        spark,
        "SELECT window_start, window_end, window_time, v FROM "
        "TABLE(TUMBLE(TABLE tvf_t, DESCRIPTOR(ts), INTERVAL '1' HOUR))",
    ).collect()
    assert len(out) == 4
    for r in out:
        assert r.window_time == r.window_end - dt.timedelta(milliseconds=1)
        assert r.window_start <= rows[r.v][1] < r.window_end


def test_group_window_rewrite_doubled_backtick_identifier():
    """`a``TUMBLE(x, INTERVAL '1' HOUR)``b` is ONE backtick-quoted
    identifier (`` escapes a literal backtick); the TUMBLE-shaped text
    inside must stay inert (round-8 ADVICE)."""
    from flink_demo_spark.operators.group_window_sql import rewrite_group_window_sql

    ident = "`a``TUMBLE(x, INTERVAL '9' DAY)``b`"
    sql = (
        f"SELECT {ident} AS v, COUNT(*) AS cnt FROM t "
        "GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)"
    )
    out = rewrite_group_window_sql(sql)
    assert ident in out  # identifier untouched
    assert "GROUP BY window(ts, '1 hour')" in out


# ---------------------------------------------------------------------------
# exact-substring passage dedup (Lee et al.-style, round-8 brief #2)


def test_duplicate_passages_planted_span(spark):
    """A verbatim 6-token passage planted in two docs is recovered with
    exact boundaries; unique text is not reported."""
    filler_a = " ".join(f"a{i}" for i in range(10))
    filler_b = " ".join(f"b{i}" for i in range(10))
    passage = "the quick brown fox jumps high"
    df = spark.createDataFrame(
        [
            (1, f"{filler_a} {passage} {filler_a}"),
            (2, f"{filler_b} {passage} {filler_b}"),
            (3, " ".join(f"c{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.pass_start, r.pass_len)
        for r in dedup.duplicate_passages(df, "text", "doc_id", k=6).collect()
    }
    # filler_a repeats within doc 1 (prefix == suffix), so doc 1 also
    # reports its 10-token filler spans; the planted passage itself must
    # appear at token offset 10 with exact length 6 in both docs.
    assert (1, 10, 6) in out
    assert (2, 10, 6) in out
    assert not any(d == 3 for d, _, _ in out)


def test_duplicate_passages_whole_doc_and_recall(spark):
    """An exactly duplicated document is one maximal full-length span,
    and every k-gram inside any reported span really is repeated."""
    text = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, " ".join(f"u{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    rows = dedup.duplicate_passages(df, "text", "doc_id", k=20).collect()
    spans = {(r.doc_id, r.pass_start, r.pass_len) for r in rows}
    assert spans == {(1, 0, 40), (2, 0, 40)}
    # hashed scale path agrees
    hashed = {
        (r.doc_id, r.pass_start, r.pass_len)
        for r in dedup.duplicate_passages(
            df, "text", "doc_id", k=20, hashed=True
        ).collect()
    }
    assert hashed == spans


def test_duplicate_passages_short_docs_skipped(spark):
    df = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z")], "doc_id long, text string"
    )
    assert dedup.duplicate_passages(df, "text", "doc_id", k=20).count() == 0


# ---------------------------------------------------------------------------
# distributed BPE tokenizer training (round 8, beyond-reference)


def _py_bpe_train(texts, num_merges, min_freq=2):
    """Independent pure-Python Sennrich-style trainer (golden): word
    freq dict -> iterative argmax pair merge, ties lexicographic,
    left-to-right non-overlapping merge application."""
    import collections
    import re

    pat = re.compile(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")
    wf = collections.Counter()
    for t in texts:
        wf.update(pat.findall(t))
    vocab = collections.Counter()
    for w, f in wf.items():
        vocab[tuple(list(w) + ["</w>"])] += f
    merges = []
    for _ in range(num_merges):
        pc = collections.Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (left, right), freq = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < min_freq:
            break
        merges.append((left, right, freq))
        new = collections.Counter()
        for syms, f in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            new[tuple(out)] += f
        vocab = new
    return merges


def test_bpe_train_matches_reference_implementation(spark, sf_dir):
    """The distributed trainer must be CHAR-EXACT vs the independent
    pure-Python golden on real corpus text — same merges, same order,
    same frequencies (tie-breaks included)."""
    from flink_demo_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents").limit(60)
    texts = [r.text for r in docs.select("text").collect()]
    expected = _py_bpe_train(texts, num_merges=8)
    got = bpe.bpe_train(docs, "text", num_merges=8)
    assert got == expected
    assert len(got) == 8  # corpus is rich enough to sustain 8 merges


def test_bpe_apply_reconstructs_words(spark):
    """Applying learned merges must partition each word: concatenating
    a word's tokens (minus the end-of-word marker) gives the word
    back, and multi-char tokens only arise from learned merges."""
    from flink_demo_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, "low lower lowest low low slow"), (2, "low slowest lower")],
        "doc_id long, text string",
    )
    merges = bpe.bpe_train(df, "text", num_merges=6, min_freq=2)
    assert merges  # 'lo'/'ow' style pairs repeat enough to merge
    out = bpe.bpe_apply(df, "text", merges).collect()
    import re

    pat = re.compile(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")
    learned = {m[0] + m[1] for m in merges}
    for r in out:
        joined = "".join(t for t in r.bpe_tokens)
        expected = "".join(w + "</w>" for w in pat.findall(r.text))
        assert joined == expected, r.text
        for t in r.bpe_tokens:
            base = t[:-4] if t.endswith("</w>") else t
            if len(base) > 1 or (t.endswith("</w>") and len(t) > 4):
                assert t in learned, t


def test_duplicate_passages_single_scan_equals_default(spark, sf_dir):
    """The window (single-scan) formulation is output-identical to the
    skew-safe join default on real corpus text, hashed or exact."""
    docs = load_table(spark, sf_dir, "documents")

    def spans(**kw):
        return {
            (r.doc_id, r.pass_start, r.pass_len)
            for r in dedup.duplicate_passages(
                docs, "text", "doc_id", k=20, **kw
            ).collect()
        }

    base = spans()
    assert base  # corpus contains duplicated passages
    assert spans(single_scan=True) == base
    assert spans(single_scan=True, hashed=True) == base


def test_duplicate_passages_stage_gate_and_equivalence(spark, sf_dir):
    """Round-13: the join path stages the positions frame iff the
    input estimate is under the threshold (persist = one gram-chain
    evaluation instead of two), recomputes above it, and both sides
    of the gate produce identical spans."""
    docs = load_table(spark, sf_dir, "documents")
    conf = "spark.flinkDemoSpark.passageDedup.stageInputBytes"

    def build(**kw):
        return dedup.duplicate_passages(
            docs, "text", "doc_id", k=20, hashed=True, **kw
        )

    def staged(df):
        return "InMemoryRelation" in df._jdf.queryExecution().toString()

    spark.catalog.clearCache()
    try:
        # small input, default 1 GiB threshold: auto-stages
        auto = build()
        assert staged(auto)
        base = {(r.doc_id, r.pass_start, r.pass_len) for r in auto.collect()}
        assert base
        spark.catalog.clearCache()
        # threshold forced below the estimate: recomputes (plan has no
        # cache node), output identical
        spark.conf.set(conf, "0")
        off = build()
        assert not staged(off)
        assert {
            (r.doc_id, r.pass_start, r.pass_len) for r in off.collect()
        } == base
        # explicit override beats the gate in both directions
        assert staged(build(stage_positions=True))
        spark.catalog.clearCache()
        assert not staged(build(stage_positions=False))
    finally:
        spark.conf.unset(conf)
        spark.catalog.clearCache()


def test_duplicate_passages_randomized_vs_bruteforce(spark):
    """Randomized cross-validation against an independent brute-force
    reference: 40 small corpora (3-symbol alphabet, k=3, doc lengths
    0..14 — heavy overlap, short-doc edges) stacked into ONE operator
    run with trial-prefixed tokens so gram spaces stay disjoint."""
    import random

    K = 3
    rng = random.Random(1234)
    corpora = {}  # trial -> {doc_id: [tokens]}
    rows = []
    for trial in range(40):
        docs = {}
        for d in range(rng.randint(1, 4)):
            doc_id = trial * 100 + d
            toks = [
                f"t{trial}_{rng.choice('abc')}"
                for _ in range(rng.randint(0, 14))
            ]
            docs[doc_id] = toks
            rows.append((doc_id, " ".join(toks)))
        corpora[trial] = docs

    def brute(docs):
        from collections import Counter

        grams = Counter()
        for toks in docs.values():
            for i in range(len(toks) - K + 1):
                grams[tuple(toks[i : i + K])] += 1
        spans = set()
        for d, toks in docs.items():
            cov = [
                i
                for i in range(len(toks) - K + 1)
                if grams[tuple(toks[i : i + K])] >= 2
            ]
            run = []
            for p in cov + [None]:
                if run and (p is None or p != run[-1] + 1):
                    spans.add((d, run[0], run[-1] - run[0] + K))
                    run = []
                if p is not None:
                    run.append(p)
        return spans

    expected = set()
    for docs in corpora.values():
        expected |= brute(docs)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    for kw in ({}, {"hashed": True}, {"single_scan": True}):
        got = {
            (r.doc_id, r.pass_start, r.pass_len)
            for r in dedup.duplicate_passages(
                df, "text", "doc_id", k=K, **kw
            ).collect()
        }
        assert got == expected, (kw, got ^ expected)
    assert expected  # the random mix must actually produce duplicates


# ---------------------------------------------------------------------------
# Hilbert curve layout key (round 8)


def _xy2d(x, y, bits):
    """Independent reference implementation (classic xy2d walk)."""
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_value_exhaustive_and_locality(spark):
    """Exhaustive 16x16 grid equality vs the independent reference,
    plus the property Z-order lacks: consecutive curve indices are
    4-adjacent cells (|dx| + |dy| == 1) — the reason a box decomposes
    into fewer contiguous ranges under Hilbert."""
    from pyspark.sql import functions as F

    from flink_demo_spark.operators.layout import hilbert_value

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {
        (r.x, r.y): r.h
        for r in df.select(
            "x", "y", hilbert_value(F.col("x"), F.col("y"), 4).alias("h")
        ).collect()
    }
    assert got == {(x, y): _xy2d(x, y, 4) for x, y in rows}
    # bijection onto 0..255 and unit-step adjacency along the curve
    by_d = {d: xy for xy, d in got.items()}
    assert sorted(by_d) == list(range(256))
    for d in range(255):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, by_d[d], by_d[d + 1])


def test_hilbert_value_16bit_matches_reference(spark):
    import random

    from pyspark.sql import functions as F

    from flink_demo_spark.operators.layout import hilbert_value

    rng = random.Random(11)
    pts = [(rng.randrange(0, 65536), rng.randrange(0, 65536)) for _ in range(300)]
    df = spark.createDataFrame(pts, "x int, y int")
    got = [
        (r.x, r.y, r.h)
        for r in df.select(
            "x", "y", hilbert_value(F.col("x"), F.col("y"), 16).alias("h")
        ).collect()
    ]
    assert all(h == _xy2d(x, y, 16) for x, y, h in got)


def test_minhash_rowwise_signature_matches_agg_path(spark, sf_dir):
    """The stateless per-row signature (minhash_signature_expr, the
    streaming path) must equal the batch explode+groupBy signature
    (minhash_table) hash-for-hash on every document, and the per-row
    band entries must equal lsh_band_table's — the streaming index
    probe is only sound if both paths compute the identical LSH key."""
    from pyspark.sql import functions as F

    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.operators import dedup
    from flink_demo_spark.operators.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    agg_sig = {
        r.doc_id: tuple(r[f"h{i}"] for i in range(16))
        for r in dedup.minhash_table(docs, "text", "doc_id", 16, 3).collect()
    }
    sig = dedup.minhash_signature_expr(F.col("sh"), 16)
    row_rows = (
        docs.select("doc_id", shingles("text", 3).alias("sh"))
        .where(F.size("sh") > 0)
        .select(
            "doc_id",
            sig.alias("sig"),
            dedup.lsh_band_entries_expr(sig, 16, 4).alias("bb"),
        )
        .collect()
    )
    assert {r.doc_id for r in row_rows} == set(agg_sig)
    for r in row_rows:
        assert tuple(r.sig) == agg_sig[r.doc_id], r.doc_id

    agg_bands = {
        (r.doc_id, r.band): r.bucket
        for r in dedup.lsh_band_table(
            dedup.minhash_table(docs, "text", "doc_id", 16, 3), 16, 4
        ).collect()
    }
    for r in row_rows:
        for e in r.bb:
            assert agg_bands[(r.doc_id, e.band)] == e.bucket


def test_packed_cell_topk_matches_ivf_topk(spark, sf_dir):
    """The per-row packed-cell serve path (pack_cells +
    packed_topk_expr, the streaming ANN formulation) must reproduce
    batch ivf_top_k exactly — same cosine op order, same rounding,
    same (sim DESC, id ASC) tie rule — over a 10x larger query set
    than the registry query, to exercise rounded-tie ordering."""
    from pyspark.sql import functions as F

    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, 8)
    queries = emb.where(F.col("vec_id") < 50)
    want = {
        (r.query_id, r.rk): (r.neighbor_id, r.cosine_sim)
        for r in similarity.ivf_top_k(
            emb, queries, cents, k=5, round_to=6
        ).collect()
    }

    index = similarity.pack_cells(similarity.ivf_assign(emb, cents))
    probed = similarity.ivf_assign(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
        ),
        cents,
        id_col="query_id",
        vec_col="__qvec",
    )
    top = similarity.packed_topk_expr(
        F.col("__qvec"), F.col("members"), F.col("query_id"), k=5, round_to=6
    )
    got = {
        (r.query_id, r.pos + 1): (r.hit.nid, r.hit.sim)
        for r in probed.join(index, "cell")
        .select("query_id", F.posexplode(top).alias("pos", "hit"))
        .collect()
    }
    assert got == want


def test_double_array_lit_bit_identical_to_per_element_lits(spark):
    """One parsed array literal equals F.array(*[F.lit(x)]) bit for bit,
    with the same array<double> (containsNull false) type, at the
    float64 edges: subnormal, max, signed zero and the non-finite
    values (which keep the per-element form)."""
    import math
    import struct

    from pyspark.sql.types import ArrayType, DoubleType

    edges = [0.1, -0.0, 5e-324, 1.7976931348623157e308, math.nan, math.inf, -math.inf]
    cases = [[x] for x in edges] + [edges[:4], edges]
    cols = []
    for i, xs in enumerate(cases):
        cols.append(similarity.double_array_lit(xs).alias(f"a{i}"))
        cols.append(F.array(*[F.lit(x) for x in xs]).alias(f"b{i}"))
    df = spark.range(1).select(*cols)
    row = df.collect()[0]
    for i in range(len(cases)):
        assert df.schema[f"a{i}"].dataType == ArrayType(DoubleType(), False)
        assert df.schema[f"a{i}"].dataType == df.schema[f"b{i}"].dataType
        bits = [[struct.pack(">d", x) for x in row[f"{s}{i}"]] for s in "ab"]
        assert bits[0] == bits[1]


@pytest.mark.parametrize("k", [8, 40])
def test_ivf_assign_unchanged_by_parsed_centroid_literals(spark, sf_dir, monkeypatch, k):
    """Both centroid formulations (per-centroid expressions at K=8, the
    transform at K=40) give the same cells and __sim when the centroids
    enter the plan as per-element F.lit arrays."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, k)
    assert (k > similarity._CENTROID_EXPR_MAX) == (k == 40)

    def snap():
        df = similarity.ivf_assign(emb, cents, sim_col="__sim")
        return sorted((r["vec_id"], r["cell"], r["__sim"]) for r in df.collect())

    parsed = snap()
    monkeypatch.setattr(
        similarity,
        "double_array_lit",
        lambda xs: F.array(*[F.lit(float(x)) for x in xs]),
    )
    assert parsed == snap()
