"""Round-11 pins: the trained-IVF recall curve.

similarity_recall_ivf_trained is oracle-backed (the DuckDB oracle
replays seeds -> 2 Lloyd iterations -> assignment -> probe -> recall),
but the oracle MIRRORS the engine formulation, so this adds the
independent check: a pure-Python re-derivation of the whole pipeline
(strided seeds, cosine-argmax assignment with sequential-fold dot
products, DECIMAL(28,12)-exact centroid means, recall@5 vs brute
force) must reproduce the engine's rows bit-for-bit at sf0.001.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb

from pyspark.sql import functions as F

from flink_demo_spark.plans._util import first_vectors
from flink_demo_spark.plans.registry import REGISTRY, _load_all

_load_all()

_Q12 = Decimal("1e-12")
_Q6 = Decimal("1e-6")


def _dot(a: list[float], b: list[float]) -> float:
    # sequential left fold — the engine's F.aggregate summation order
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _cos(a: list[float], b: list[float]) -> float:
    return _dot(a, b) / (math.sqrt(_dot(a, a)) * math.sqrt(_dot(b, b)))


def _round6(v: float) -> float:
    # Spark round() = HALF_UP on the shortest decimal repr
    return float(Decimal(repr(v)).quantize(_Q6, rounding=ROUND_HALF_UP))


def _assign(vecs: dict[int, list[float]], cents: dict[int, list[float]]):
    """cosine argmax, ties to the smaller centroid id."""
    out = {}
    for vid, v in vecs.items():
        best = max(
            ((_cos(v, cv), -cid) for cid, cv in cents.items())
        )
        out[vid] = -best[1]
    return out


def _update(
    vecs: dict[int, list[float]], assign: dict[int, int]
) -> dict[int, list[float]]:
    """DECIMAL(28,12)-exact per-dimension mean, then float64 divide —
    the kmeans_update contract (order-independent, engine-exact)."""
    sums: dict[int, list[Decimal]] = {}
    counts: dict[int, int] = {}
    for vid, cid in assign.items():
        v = vecs[vid]
        if cid not in sums:
            sums[cid] = [Decimal(0)] * len(v)
            counts[cid] = 0
        counts[cid] += 1
        for i, x in enumerate(v):
            sums[cid][i] += Decimal(repr(x)).quantize(
                _Q12, rounding=ROUND_HALF_UP
            )
    return {
        cid: [float(s[i]) / counts[cid] for i in range(len(s))]
        for cid, s in sums.items()
    }


def _top5(
    qv: list[float], cands: dict[int, list[float]], qid: int
) -> list[int]:
    scored = sorted(
        ((-_round6(_cos(qv, v)), nid) for nid, v in cands.items() if nid != qid)
    )
    return [nid for _, nid in scored[:5]]


def test_ivf_trained_matches_python_model(spark, sf_dir):
    rows = duckdb.sql(
        "SELECT vec_id, embedding::DOUBLE[] FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    vecs = {int(i): list(v) for i, v in rows}
    n = len(vecs)
    nlist = max(8, math.isqrt(n))
    stride = n // nlist

    cents = {
        cid: vecs[cid]
        for cid in vecs
        if cid % stride == 0 and cid < stride * nlist
    }
    assert len(cents) == nlist
    for _ in range(2):  # two Lloyd iterations, like the query
        cents = _update(vecs, _assign(vecs, cents))

    assign = _assign(vecs, cents)
    queries = {qid: vecs[qid] for qid in vecs if qid < 32}
    brute = {qid: set(_top5(qv, vecs, qid)) for qid, qv in queries.items()}
    n_truth = sum(len(b) for b in brute.values())

    # query-side cell ranking for multi-probe
    qcells = {
        qid: [
            -c
            for _, c in sorted(
                ((-_cos(qv, cv), -cid) for cid, cv in cents.items())
            )[:4]
        ]
        for qid, qv in queries.items()
    }

    want = []
    for nprobe in (1, 2, 4):
        hits = 0
        for qid, qv in queries.items():
            probed = set(qcells[qid][:nprobe])
            cands = {
                nid: vecs[nid]
                for nid, cid in assign.items()
                if cid in probed
            }
            hits += len(brute[qid] & set(_top5(qv, cands, qid)))
        want.append(
            (nlist, nprobe, len(queries), hits, hits * 10000 // n_truth)
        )

    got = sorted(
        (
            r["nlist"],
            r["nprobe"],
            r["n_queries"],
            r["n_hits"],
            r["recall_bp"],
        )
        for r in REGISTRY["similarity_recall_ivf_trained"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert got == want

    # the curve the query exists to publish: recall never decreases as
    # probes widen
    recalls = [r[4] for r in got]
    assert recalls == sorted(recalls)


def test_evicting_sessions_match_batch_multiset(spark, sf_dir):
    """Stronger than the registered quantile row: the evicting
    operator's per-session (user, duration) MULTISET must equal the
    batch lag-gap sessionization exactly — every session, not just the
    distribution summary. Also pins the eviction contract: the EOF
    sentinel (user -1) drags every REAL user's session past its gap
    horizon, while its own session correctly stays open (since the
    round-12 real-horizon arming fix nothing flushes before its gap
    expires; the old wm+1 arming flushed the sentinel incidentally)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_demo_spark.plans.behavior import _events
    from flink_demo_spark.sources.streams import eof_pad_hours, events_stream
    from flink_demo_spark.streaming.runner import run_available_now
    from flink_demo_spark.streaming.stateful import (
        session_durations_evicting,
    )

    ev = events_stream(spark, sf_dir, pad_hours=eof_pad_hours(3_600_000))
    got_df = run_available_now(
        session_durations_evicting(ev), output_mode="append"
    )
    got = sorted(
        (r["user_id"], r["dur_s"])
        for r in got_df.where(F.col("user_id") >= 0).collect()
    )
    # the sentinel user's own open session never meets ITS horizon
    # (wm tops out at eof_ts - 10min < eof_ts + gap) -> emits nothing
    sentinel = [
        r["dur_s"] for r in got_df.where(F.col("user_id") < 0).collect()
    ]
    assert sentinel == []

    e = _events(spark, sf_dir).select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms")
    )
    wl = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    g = e.withColumn(
        "brk",
        F.when(F.col("ts_ms") - F.lag("ts_ms").over(wl) > 3600000, 1)
        .otherwise(0),
    )
    sid = F.sum("brk").over(
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = sorted(
        (r["user_id"], r["dur_s"])
        for r in g.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(F.expr("(max(ts_ms) - min(ts_ms)) DIV 1000").alias("dur_s"))
        .collect()
    )
    assert got == want


def test_evicting_attribution_matches_batch_multiset(spark, sf_dir):
    """The evicting attribution operator's per-purchase (user, page,
    cents) MULTISET must equal the batch window-function derivation —
    every attributed purchase, not just the page census."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_demo_spark.plans.behavior import _events
    from flink_demo_spark.sources.streams import events_stream
    from flink_demo_spark.streaming.runner import run_available_now
    from flink_demo_spark.streaming.stateful import attribution_evicting

    ev = events_stream(spark, sf_dir, watermark="10 minutes")
    got = sorted(
        (r["user_id"], r["page"], r["cents"])
        for r in run_available_now(
            attribution_evicting(ev), output_mode="append"
        ).collect()
    )

    e = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        F.get_json_object("props", "$.k").cast("long").alias("page"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = e.withColumn(
        "pack",
        F.last(
            F.when(
                (F.col("event_type") == "click")
                & F.col("page").between(0, 999),
                F.col("ts_ms") * 1000 + F.col("page"),
            ),
            ignorenulls=True,
        ).over(w),
    )
    want = sorted(
        (r["user_id"], r["page"], r["cents"])
        for r in t.where(
            (F.col("event_type") == "purchase")
            & F.col("pack").isNotNull()
            & (F.expr("pack DIV 1000") >= F.col("ts_ms") - 86400000)
        )
        .select(
            "user_id", F.expr("pack % 1000").alias("page"), "cents"
        )
        .collect()
    )
    assert got == want


def test_recall_curve_consistent_and_monotone(spark, sf_dir):
    """The bands=4 row of the recall curve must agree exactly with the
    standalone dedup_recall_minhash harness (same exact tier, same
    16-hash/4-band sketch tier, independently composed), and recall
    must be monotone non-decreasing in bands (more bands = more
    collision chances, candidates can only grow)."""
    curve = {
        r["bands"]: (r["n_exact"], r["n_lsh"], r["n_common"], r["recall_bp"])
        for r in REGISTRY["dedup_recall_minhash_curve"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(curve) == {2, 4, 8}
    single = REGISTRY["dedup_recall_minhash"].fn(spark, sf_dir).collect()[0]
    assert curve[4][:3] == (
        single["n_exact"],
        single["n_lsh"],
        single["n_common"],
    )
    recalls = [curve[b][3] for b in (2, 4, 8)]
    assert recalls == sorted(recalls)


def test_ivf_assign_formulations_identical(spark, sf_dir, monkeypatch):
    """The transform-over-constant-array formulation (large codebooks)
    must produce bit-identical assignments and probe cells to the
    per-centroid expression formulation: same sequential-fold dot,
    same (sim, -cid) argmax/sort. Verified on a 40-centroid codebook
    — above the 32-entry switch, so path A is the transform and
    path B (threshold raised) is the expression tree."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, 40)
    assert len(cents) == 40 > similarity._CENTROID_EXPR_MAX

    def snap(df):
        return sorted(
            (r["vec_id"], r["cell"], r["sim"]) for r in df.collect()
        )

    def probe_snap():
        return sorted(
            (r["vec_id"], r["cell"])
            for r in similarity.ivf_probe_cells(
                emb.select("vec_id", F.col("embedding").alias("__qvec")),
                cents,
                3,
                "__qvec",
            ).collect()
        )

    a_assign = snap(similarity.ivf_assign(emb, cents, sim_col="sim"))
    a_probe = probe_snap()
    monkeypatch.setattr(similarity, "_CENTROID_EXPR_MAX", 1000)
    b_assign = snap(similarity.ivf_assign(emb, cents, sim_col="sim"))
    b_probe = probe_snap()
    assert a_assign == b_assign
    assert a_probe == b_probe



def test_prequential_matches_python_model(spark, sf_dir):
    """Independent pure-Python prequential walk (global event order,
    dict-of-dicts model, test-then-train) must reproduce the engine's
    summary row exactly — and the streaming twin must equal batch."""
    rows = duckdb.sql(
        "SELECT user_id, event_id,"
        " CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,"
        " CAST(props->>'$.k' AS INT) AS page"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    # per-user lag in (ts_ms, event_id) order -> clean transitions
    by_user: dict[int, list] = {}
    for uid, eid, ts_ms, page in rows:
        by_user.setdefault(uid, []).append((ts_ms, eid, page))
    clean = []
    for uid, evs in by_user.items():
        evs.sort()
        prev = None
        for ts_ms, eid, page in evs:
            if prev is not None and page is not None and prev != page:
                clean.append((ts_ms, eid, prev, page))
            prev = page
    clean.sort()  # global (ts, eid) order — test-then-train sequence
    model: dict[int, dict[int, int]] = {}
    covered = correct = 0
    for ts_ms, eid, src, dst in clean:
        cnts = model.get(src)
        if cnts:
            covered += 1
            pred = min((-c, k) for k, c in cnts.items())[1]
            if pred == dst:
                correct += 1
        model.setdefault(src, {})[dst] = model.get(src, {}).get(dst, 0) + 1
    want = (
        len(clean),
        covered,
        correct,
        correct * 10000 // covered if covered else 0,
        covered * 10000 // len(clean) if clean else 0,
    )

    def row(name):
        r = REGISTRY[name].fn(spark, sf_dir).collect()[0]
        return (
            r["n_test"], r["n_covered"], r["n_correct"],
            r["accuracy_bp"], r["coverage_bp"],
        )

    assert row("browse_prequential_accuracy") == want
    assert row("streaming_prequential_accuracy") == want


def test_prequential_drift_sums_to_summary(spark, sf_dir):
    """The per-day drift census must partition the summary exactly:
    sums of n_test/n_covered/n_correct over days equal the one-row
    totals, and every day's covered <= tested."""
    days = REGISTRY["browse_prequential_drift"].fn(spark, sf_dir).collect()
    total = REGISTRY["browse_prequential_accuracy"].fn(
        spark, sf_dir
    ).collect()[0]
    assert sum(r["n_test"] for r in days) == total["n_test"]
    assert sum(r["n_covered"] for r in days) == total["n_covered"]
    assert sum(r["n_correct"] for r in days) == total["n_correct"]
    for r in days:
        assert 0 <= r["n_correct"] <= r["n_covered"] <= r["n_test"]
