"""Physical-plan regression tests: the scale properties SURVEY §4
promises (pushdown, pruning, broadcast) must hold, not just correctness."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from flink_demo_spark.plans.registry import REGISTRY, _load_all

from .conftest import spark_jobs

_load_all()


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate filter not pushed to scan"
    # column pruning: orderkey/partkey must NOT be read
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["q5_regional_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "dimension joins must broadcast"
    assert "CartesianProduct" not in plan


def test_events_scan_prunes_columns(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["window_tumbling_hourly"].fn(spark, sf_dir))
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "props" not in read, "unused props column must be pruned from scan"
    assert "event_id" not in read


def test_similarity_broadcasts_queries(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["similarity_topk"].fn(spark, sf_dir))
    assert "Broadcast" in plan, "query set must broadcast, corpus must stream"


def test_topn_uses_window_group_limit(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["topn_per_group"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, (
        "rk<=n filter should push into the window sort (Spark 3.5+ "
        "WindowGroupLimit) — required for top-n to scale"
    )


def test_interval_join_filters_pushed(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["interval_join"].fn(spark, sf_dir))
    assert "EqualTo(event_type,purchase)" in plan
    assert "EqualTo(event_type,click)" in plan


def test_uv_approx_hll_within_error_bound(spark, sf_dir):
    """Pin the one no-oracle query: the HLL estimate must sit within
    5x the configured relative standard deviation (rsd=0.02) of the
    exact per-window distinct count. Spark's HLL is deterministic for
    a given dataset, so this is a stable regression bound, not a
    flaky statistical one."""
    from pyspark.sql import functions as F

    from flink_demo_spark.plans.behavior import _events

    approx = {
        r["window_start"]: r["uv_approx"]
        for r in REGISTRY["uv_approx_hll"].fn(spark, sf_dir).collect()
    }
    exact_df = (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.countDistinct("user_id").alias("uv"))
        .select(F.col("w.start").alias("window_start"), "uv")
    )
    exact = {r["window_start"]: r["uv"] for r in exact_df.collect()}
    assert set(approx) == set(exact)
    for w, uv in exact.items():
        rel = abs(approx[w] - uv) / uv
        assert rel <= 5 * 0.02, (w, approx[w], uv, rel)


def test_jaccard_shingle_expression_evaluated_once(spark, sf_dir):
    """InferFiltersFromGenerate must not duplicate the shingle
    expression below the fan-out repartition (the explode_outer
    formulation in dedup.jaccard_pairs prevents it): the zip_with
    shingle chain appears exactly once in the optimized plan."""
    # plan inspection needs a clean cache: since the round-11 cap
    # unification, split_leakage_safe persists the IDENTICAL pair
    # subplan, and a leftover InMemoryRelation from an earlier test
    # would replace the subtree under inspection
    spark.catalog.clearCache()
    df = REGISTRY["dedup_jaccard_pairs"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("zip_with(zip_with") == 1, (
        "shingle expression duplicated — a pushed-down inferred filter "
        "is re-evaluating it on the pre-shuffle scan"
    )
    # the tokenizer split() must also appear exactly once: text.bind
    # routes both the token array (inside shingles_positional) and the
    # shingle array (inside the struct<shingle,n> generator) through
    # NamedLambdaVariables, so neither CollapseProject nor the Project
    # above the Generate can re-inline the chain (which would re-run
    # it once per GENERATED row — measured 30s vs 0.8s at sf0.1)
    assert plan.count("split(") == 1, (
        "tokenizer duplicated — text.bind no longer prevents "
        "projection collapse through the Generate"
    )


def test_match_recognize_single_shuffle(spark, sf_dir):
    """The row-pattern matcher is one shuffle on the partition key
    followed by an in-partition pandas scan — no extra exchanges."""
    df = REGISTRY["match_recognize_rise_fall"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # final orderBy adds one range exchange; the matcher itself must
    # contribute exactly one hash exchange on the key
    assert plan.count("hashpartitioning(symbol") == 1, plan[:2000]


def test_token_quantiles_approx_rank_bound(spark, sf_dir):
    """Pin the approx-quantile scale path: each percentile_approx
    output must be an actual data value whose rank is within the
    Greenwald-Khanna guarantee (accuracy=10000 -> n/10000 ranks,
    +1 for boundary rounding) of the requested rank. Deterministic
    for a given dataset, like the HLL bound above."""
    import math

    from pyspark.sql import functions as F

    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.operators import text

    approx = {
        r["lang"]: (r["p50_tokens"], r["p90_tokens"], r["p99_tokens"])
        for r in REGISTRY["text_token_quantiles_approx"]
        .fn(spark, sf_dir)
        .collect()
    }
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    rows = (
        docs.select("lang", text.token_count("text").cast("long").alias("n"))
        .collect()
    )
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["n"])
    assert set(approx) == set(by_lang)
    for lang, vals in by_lang.items():
        vals.sort()
        n = len(vals)
        err = math.ceil(n / 10000) + 1
        for p, got in zip((0.5, 0.9, 0.99), approx[lang]):
            rk = math.ceil(p * n)
            lo = vals[max(0, rk - 1 - err)]
            hi = vals[min(n - 1, rk - 1 + err)]
            assert lo <= got <= hi, (lang, p, got, lo, hi)


def test_decimal_rounding_helpers_engine_parity_at_boundaries(spark, oracle_con):
    """Round-8 regression (sf1 probe find): Spark round(double, n)
    rounds the SHORTEST DECIMAL RENDERING half-up while DuckDB rounds
    the binary value, so sums/avgs/ratios landing on half boundaries
    flip (q9 lost a cent at sf1). dsum_r/davg_r/dratio_r and their
    oracle twins round on exact decimal/integer arithmetic — pin a
    boundary-rich fixture to byte-equality across engines."""
    from flink_demo_spark.plans._util import (
        davg_r,
        dratio_r,
        dsum_r,
        oavg_r,
        oratio_r,
        osum_r,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType

    # values whose sums/averages hit .xx5 boundaries exactly, plus
    # negatives for the away-from-zero branch
    rows = [
        (1, 162629711.075), (1, 0.005), (1, -0.005), (1, 2.675),
        (2, 1.075), (2, -1.085), (2, 0.015), (2, 100.0),
        (3, -162629711.075), (3, 0.045),
    ]
    df = spark.createDataFrame(rows, "k int, v double")
    oracle_con.register("tbound", __import__("pandas").DataFrame(
        rows, columns=["k", "v"]))

    got = {
        (r.k, r.s, r.a, r.ratio)
        for r in df.groupBy("k").agg(
            dsum_r("v", 4, out=2).alias("s"),
            davg_r("v", 4, out=2).alias("a"),
            dratio_r(
                F.sum(F.col("v").cast(DecimalType(18, 4))),
                F.lit(7).cast(DecimalType(18, 0)),
                4, 0, 2,
            ).alias("ratio"),
        ).collect()
    }
    want = {
        tuple(r)
        for r in oracle_con.execute(f"""
            SELECT k, {osum_r('v', 4, out=2)} AS s,
                   {oavg_r('v', 4, out=2)} AS a,
                   {oratio_r("sum(CAST(v AS DECIMAL(18,4)))",
                             "CAST(7 AS DECIMAL(18,0))", 4, 0, 2)} AS ratio
            FROM tbound GROUP BY k
        """).fetchall()
    }
    assert got == want
    # the half-cent boundary that flipped at sf1 rounds away from zero
    by_k = {k: (s, a, r) for k, s, a, r in got}
    assert by_k[2][0] == 100.01  # 1.075-1.085+0.015+100 = 100.005 -> .01


def test_perceptron_learns_separable_corpus(spark):
    """The synthetic documents table is UNLEARNABLE by construction
    (all five langs draw from the identical 31-word vocabulary), so
    quality_perceptron correctly converging to the majority class
    there says nothing about the trainer. This pins that on a
    linearly separable corpus the same 3-epoch training drives
    training error to zero: positive docs carry a marker token absent
    from negatives, and every doc must end up on the correct side."""
    from flink_demo_spark.plans.corpus import _pct_feats, pct_train, _DSIR_B
    from pyspark.sql import functions as F

    rows = [
        (i, "en" if i % 2 == 0 else "de",
         ("alpha beta gamma wiki " if i % 2 == 0 else "alpha beta gamma spam ")
         + f"noise{i % 7}")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    w, b = pct_train(docs)
    assert any(v != 0 for v in w)

    warr = F.array(*[F.lit(int(v)).cast("long") for v in w])
    scored = (
        _pct_feats(docs)
        .groupBy("doc_id", "y")
        .agg(
            (
                F.lit(int(b)).cast("long")
                + F.sum(
                    F.element_at(warr, (F.col("bucket") + 1).cast("int"))
                    * F.col("x")
                )
            ).alias("s")
        )
        .collect()
    )
    assert len(scored) == 40
    for r in scored:
        assert int(r["y"]) * int(r["s"]) > 0, (
            f"doc {r['doc_id']} misclassified after training on a "
            f"separable corpus (y={r['y']}, score={r['s']})"
        )


def test_funnel_fold_matches_python_model(spark):
    """Property: the engine's per-user sorted-array funnel fold equals
    a direct Python replay on randomized event sets — including heavy
    (ts) ties, which the unique event_id tiebreak must resolve
    identically. (The sf1 probe caught DuckDB's own list aggregation
    mis-folding at scale, so the fold path deserves its own model
    check against randomized inputs.)"""
    import random

    from pyspark.sql import functions as F

    from flink_demo_spark.plans.behavior import _FUNNEL_STEPS

    rng = random.Random(20240815)
    types = _FUNNEL_STEPS + ["error", "signup"]
    rows = []
    eid = 0
    for user in range(60):
        for _ in range(rng.randrange(0, 25)):
            # small ts domain -> many exact ties, eid breaks them
            rows.append((user, eid, rng.randrange(0, 6), rng.choice(types)))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, tsn long, event_type string"
    )

    si = F.lit(0).cast("long")
    for i, s in enumerate(_FUNNEL_STEPS):
        si = F.when(F.col("event_type") == s, i + 1).otherwise(si)
    got = {
        r.user_id: r.stage
        for r in df.select(
            "user_id",
            F.struct(
                F.col("tsn"), F.col("event_id").alias("eid"), si.alias("si")
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("evts"))
        .select(
            "user_id",
            F.aggregate(
                F.transform("evts", lambda s: s["si"]),
                F.lit(0).cast("long"),
                lambda a, b: F.when(b == a + 1, b).otherwise(a),
            ).alias("stage"),
        )
        .collect()
    }

    sim = {s: i + 1 for i, s in enumerate(_FUNNEL_STEPS)}
    want: dict = {}
    by_user: dict = {}
    for user, e, t, ty in rows:
        by_user.setdefault(user, []).append((t, e, sim.get(ty, 0)))
    for user, evs in by_user.items():
        acc = 0
        for _, _, s in sorted(evs):
            if s == acc + 1:
                acc = s
        want[user] = acc
    assert got == {u: want[u] for u in got}
    assert set(got) == set(want)


def test_compression_ratio_matches_zlib_golden(spark, sf_dir):
    """Exact golden: every document's (n_raw, n_zlib, ratio_bp) must
    equal an in-process zlib recompression — DEFLATE is deterministic
    for a fixed level, so this pins the operator's integers exactly
    (its driver-gate check is rows-only, no SQL oracle runs DEFLATE)."""
    import zlib

    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.plans.registry import REGISTRY

    got = {
        r.doc_id: (r.n_raw, r.n_zlib, r.ratio_bp)
        for r in REGISTRY["text_compression_ratio"].fn(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs)
    for r in docs:
        b = r.text.encode("utf-8")
        z = len(zlib.compress(b, 6))
        assert got[r.doc_id] == (len(b), z, (z * 10000) // len(b)), r.doc_id


# the benchmark's batch queries whose plans do not depend on the data
_DATA_FREE_BUILDS = (
    "q1_pricing_summary",
    "q5_regional_revenue",
    "events_dau_wau_mau_hll",
    "window_tumbling_hourly",
    "interval_join",
    "lang_id_ngram",
)


def test_plan_builds_launch_only_data_dependent_jobs(spark, sf_dir):
    """Once a table has been loaded, building a plan over it launches no
    Spark job (the catalog reuses its parquet schema). embedding_kmeans
    keeps its data-dependent collects: the seed vectors and the Lloyd
    update, which adaptive execution runs as one job per query stage."""
    for name in (*_DATA_FREE_BUILDS, "embedding_kmeans"):
        REGISTRY[name].fn(spark, sf_dir)
    counts = {}
    for name in (*_DATA_FREE_BUILDS, "embedding_kmeans"):
        with spark_jobs(spark) as jobs:
            REGISTRY[name].fn(spark, sf_dir)
        counts[name] = jobs[0]
    assert counts == {**dict.fromkeys(_DATA_FREE_BUILDS, 0), "embedding_kmeans": 4}
