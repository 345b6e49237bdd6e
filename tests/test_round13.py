"""Round-13 regression suite: the round-12 VERDICT/ADVICE hardening.

1. documents/embeddings apply the single-row-group scan guard when
   asked for it, whatever the file size.
2. ``_stage_stream_dir`` replaces a DANGLING staged symlink instead of
   silently keeping it (ADVICE: os.path.exists follows links, so the
   old exists-check missed broken links and FileExistsError was
   swallowed).
3. ``eof_pad_hours`` derives the sentinel pad from the gap so raising
   the session gap can never silently starve the final flush
   (pad > gap + watermark, ADVICE on streaming_session_duration_v2_multi).
4. The prequential packed-scan key has a LOUD page-domain guard on both
   engines: an out-of-[0, 2^20) page errors instead of corrupting the
   running-max packing (ADVICE on plans/behavior.py).
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.test_round12 import BASE_US, MIN_MS, _write_events


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _write_docs(path: str) -> None:
    t = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array(["hello world", "spark graft"], pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(["web", "web"], pa.string()),
            "n_chars": pa.array([11, 11], pa.int64()),
        }
    )
    pq.write_table(t, path)


def _write_embs(path: str) -> None:
    t = pa.table(
        {
            "vec_id": pa.array([1, 2], pa.int64()),
            "embedding": pa.array([[0.1, 0.2], [0.3, 0.4]], pa.list_(pa.float32())),
            "label": pa.array([0, 1], pa.int32()),
        }
    )
    pq.write_table(t, path)


def _rm_staged(sf_dir: str) -> None:
    import shutil

    from flink_demo_spark.sources.streams import _stage_root

    shutil.rmtree(_stage_root(sf_dir), ignore_errors=True)


def test_scan_guard_docs_embeddings_unconditional(spark, tmp_path):
    """documents/embeddings carry heavy per-row work: the guard is
    size-UNCONDITIONAL there — even a 2-row file gets the exchange
    when scan_guard=True, and never without it."""
    from flink_demo_spark.sources.streams import (
        documents_stream,
        embeddings_stream,
    )

    d = str(tmp_path / "tiny_sf")
    os.makedirs(d)
    _write_docs(os.path.join(d, "documents.parquet"))
    _write_embs(os.path.join(d, "embeddings.parquet"))
    try:
        assert "Repartition" in _analyzed(
            documents_stream(spark, d, scan_guard=True)
        )
        assert "Repartition" not in _analyzed(documents_stream(spark, d))
        assert "Repartition" in _analyzed(
            embeddings_stream(spark, d, scan_guard=True)
        )
        assert "Repartition" not in _analyzed(embeddings_stream(spark, d))
    finally:
        _rm_staged(d)


def test_dangling_stage_symlink_replaced(tmp_path):
    """A staged symlink whose target vanished (stale /tmp cache from an
    older layout) must be REPLACED, not silently kept: os.path.exists
    follows links, so the old exists-then-symlink path swallowed the
    FileExistsError and left the broken link (round-12 ADVICE)."""
    from flink_demo_spark.sources import streams as S

    d = str(tmp_path / "sfdir")
    os.makedirs(d)
    real = os.path.join(d, "events.parquet")
    _write_events(real, [(1, BASE_US, 1, "view", 0.0, "{}")])

    staged = S._stage_stream_dir(d, "events")
    link = os.path.join(staged, "events.parquet")
    try:
        # simulate the stale cache: break the link by hand
        os.remove(link)
        os.symlink(os.path.join(d, "gone.parquet"), link)
        assert not os.path.exists(link) and os.path.lexists(link)
        assert S._stage_stream_dir(d, "events") == staged
        assert os.path.exists(link), "dangling link must be rebuilt"
        assert os.path.realpath(link) == os.path.realpath(real)
    finally:
        _rm_staged(d)


def test_eof_pad_hours_derived_from_gap():
    """pad > gap + watermark for any gap (the flush-horizon relation),
    and the default session gap keeps the historical pad=3 (hashes of
    streaming_session_duration_v2/_multi unchanged)."""
    from flink_demo_spark.sources.streams import eof_pad_hours

    assert eof_pad_hours(3_600_000) == 3  # 1h gap + 10min wm -> ceil+1
    for gap_h in (0.5, 1, 2, 2.9, 3, 7.25, 24):
        gap_ms = int(gap_h * 3_600_000)
        pad_ms = eof_pad_hours(gap_ms) * 3_600_000
        assert pad_ms > gap_ms + 600_000, gap_h


def _events_with_page(path: str, pages: list[int]) -> None:
    rows = [
        (i, BASE_US + i * MIN_MS * 1000, 1, "view", 0.0, '{"k": %d}' % p)
        for i, p in enumerate(pages)
    ]
    _write_events(path, rows)


def test_prequential_page_domain_guard_spark(spark, tmp_path):
    """An out-of-[0, 2^20) page must FAIL the packed-scan twin loudly
    (USER_RAISED_EXCEPTION), never corrupt the packing silently; the
    same walk on in-domain pages still runs."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from flink_demo_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    q = REGISTRY["browse_prequential_accuracy_scan"].fn

    good = str(tmp_path / "good")
    os.makedirs(good)
    _events_with_page(
        os.path.join(good, "events.parquet"), [1, 2, 1, 3, 1, 2]
    )
    assert q(spark, good).collect()[0]["n_test"] == 5

    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    _events_with_page(
        os.path.join(bad, "events.parquet"), [1, 2, 1, 2_000_000, 1, 2]
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        q(spark, bad).collect()
    assert "corrupts the packed" in str(ei.value)


def test_prequential_page_domain_guard_oracle(tmp_path):
    """The DuckDB oracle raises the same loud error on a page outside
    the packing domain."""
    import duckdb

    from flink_demo_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    sql = REGISTRY["browse_prequential_accuracy"].oracle

    bad = str(tmp_path / "bad.parquet")
    _events_with_page(bad, [1, 2, 1, 2_000_000, 1, 2])
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{bad}')"
    )
    with pytest.raises(Exception, match="corrupts the packed"):
        con.execute(sql).fetchall()
    con.close()


def test_cc_label_stmts_fuzz_vs_union_find():
    """The bounded propagate/jump CC loop that replaced the recursive
    walk in the sf1-spilling oracles (round-12 verdict #1): fuzz 40
    random graphs (including chains, stars, isolated nodes) against a
    pure-Python union-find — labels must equal each node's component
    MINIMUM — and prove the non-convergence check fires loudly when
    the pass budget is deliberately too small for a long chain."""
    import random

    import duckdb

    from flink_demo_spark.plans.corpus import _cc_label_stmts

    rng = random.Random(13)

    def union_find_min(nodes, edges):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # second pass: min id per component root
        comp_min: dict[int, int] = {}
        for n in nodes:
            r = find(n)
            comp_min[r] = min(comp_min.get(r, n), n)
        return {n: comp_min[find(n)] for n in nodes}

    con = duckdb.connect()
    for trial in range(40):
        n = rng.randint(1, 60)
        nodes = list(range(0, 3 * n, 3))  # non-contiguous ids
        m = rng.randint(0, 2 * n)
        edges = [
            tuple(rng.sample(nodes, 2)) for _ in range(m) if n >= 2
        ]
        if trial == 0 and n >= 2:  # worst case: one long chain
            edges = list(zip(nodes, nodes[1:]))
        con.execute("CREATE OR REPLACE TEMP TABLE t13_edges AS "
                    "SELECT * FROM (VALUES (NULL::BIGINT, NULL::BIGINT)) "
                    "t(a, b) WHERE FALSE")
        if edges:
            con.executemany(
                "INSERT INTO t13_edges VALUES (?, ?), (?, ?)",
                [(a, b, b, a) for a, b in edges],
            )
        con.execute(
            _cc_label_stmts(
                "t13_", f"SELECT unnest({nodes}::BIGINT[])"
            )
        )
        got = dict(con.execute("SELECT node, comp FROM t13_lab").fetchall())
        assert got == union_find_min(nodes, edges), f"trial {trial}"

    # loud failure: a 40-node chain cannot converge in 1 pass
    chain = list(range(40))
    con.execute("CREATE OR REPLACE TEMP TABLE t13_edges AS "
                "SELECT a, b FROM (VALUES (NULL::BIGINT, NULL::BIGINT)) t(a,b) WHERE FALSE")
    con.executemany(
        "INSERT INTO t13_edges VALUES (?, ?), (?, ?)",
        [(a, a + 1, a + 1, a) for a in chain[:-1]],
    )
    with pytest.raises(Exception, match="not .?converged|converged"):
        con.execute(
            _cc_label_stmts("t13_", f"SELECT unnest({chain}::BIGINT[])", passes=1)
        )
    con.close()


def test_timeout_detector_tws_gate_or_golden(spark):
    """transformWithStateInPandas twin (round-12 verdict #8): the API
    exists in PySpark 4.1.2 but its Python state client needs protobuf,
    absent from this sandbox. Until protobuf appears, the operator must
    fail with the documented environment error; the moment it appears,
    this test runs the LongRides golden scenario against exact per-key
    event-time timers (same assertions as the v1 operator's test)."""
    import datetime as dt

    from flink_demo_spark.streaming.runner import run_available_now
    from flink_demo_spark.streaming.tws import (
        timeout_detector_tws,
        tws_unavailable_reason,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, "start"),  # never ends -> alert
        (2, t0, "start"),
        (2, t0 + dt.timedelta(minutes=30), "end"),  # matched
        # far-future pair advances the watermark past 1's horizon
        (99, t0 + dt.timedelta(hours=10), "start"),
        (99, t0 + dt.timedelta(hours=10, minutes=1), "end"),
    ]
    import uuid

    d = tempfile.mkdtemp(prefix=f"tws13_{uuid.uuid4().hex[:6]}_")
    df = spark.createDataFrame(rows, "key long, ts timestamp, side string")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(df.schema).parquet(d).withWatermark("ts", "1 second")
    )

    reason = tws_unavailable_reason()
    if reason is not None:
        with pytest.raises(NotImplementedError, match="environment-blocked"):
            timeout_detector_tws(stream)
        assert "protobuf" in reason
        return
    out = run_available_now(  # pragma: no cover - needs protobuf
        timeout_detector_tws(stream, horizon_ms=2 * 3600 * 1000),
        output_mode="append",
    )
    alerts = {r.key for r in out.collect()}
    assert 1 in alerts and 2 not in alerts and 99 not in alerts


def test_streaming_timeout_alert_matches_batch_model(spark, sf_dir):
    """The registered timeout query's alert set equals the pure-pandas
    batch model (signup users with zero qualifying purchases, earliest
    signup ts truncated to ms) on real sf0.001 events — the oracle's
    formulation re-derived independently of SQL."""
    import pandas as pd

    from flink_demo_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    got = sorted(
        (r["key"], r["start_ts"], r["alert"])
        for r in REGISTRY["streaming_timeout_alert"].fn(spark, sf_dir).collect()
    )

    pdf = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["ts", "user_id", "event_type", "value"],
    ).to_pandas()
    pdf = pdf[
        (pdf["user_id"] >= 0)
        & (
            (pdf["event_type"] == "signup")
            | ((pdf["event_type"] == "purchase") & (pdf["value"] >= 90))
        )
    ]
    want = []
    for uid, g in pdf.groupby("user_id"):
        if (g["event_type"] == "purchase").any():
            continue
        # unit-safe ms fold (the raw column's pandas unit varies by
        # pyarrow version: ns at testdata, us after to_pandas)
        start_ms = int(g["ts"].astype("datetime64[ms]").astype("int64").min())
        want.append(
            (int(uid), pd.Timestamp(start_ms, unit="ms"), "no_paid_conversion")
        )
    assert got == sorted(want)
    assert len(got) > 0, "fixture must exercise the alert path"


def test_mmr_rerank_matches_pure_python_model(spark, sf_dir):
    """similarity_topk_mmr vs an independent pure-numpy/python MMR over
    real sf0.001 embeddings: same top-20 candidates, same integer
    micro-unit greedy (lam=0.7, ties to smaller id). Also asserts the
    MMR set actually DIVERGES from plain top-5 for at least one query
    (otherwise the fixture wouldn't exercise the diversity penalty)."""
    import numpy as np

    from flink_demo_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    got = sorted(
        map(
            tuple,
            REGISTRY["similarity_topk_mmr"].fn(spark, sf_dir).collect(),
        )
    )

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_pylist()
    vecs = {
        i: np.asarray(v, dtype=np.float64)
        for i, v in zip(ids, t.column("embedding").to_pylist())
    }

    def cos(a, b):
        return round(
            float(np.dot(a, b))
            / (float(np.sqrt(np.dot(a, a))) * float(np.sqrt(np.dot(b, b)))),
            6,
        )

    want, plain_top5 = [], {}
    for qid in sorted(i for i in ids if i < 5):
        qv = vecs[qid]
        scored = sorted(
            ((-cos(qv, vecs[d]), d) for d in ids if d != qid)
        )[:20]
        cand = {d: int(round(-s * 1_000_000)) for s, d in scored}
        plain_top5[qid] = [d for _, d in scored[:5]]
        selected, remaining = [], set(cand)
        for rk in range(1, 6):
            best_d, best_score = None, None
            for d in sorted(remaining):
                maxs = (
                    max(
                        int(round(cos(vecs[d], vecs[s]) * 1_000_000))
                        for s in selected
                    )
                    if selected
                    else 0
                )
                score = 7 * cand[d] - 3 * maxs
                if best_score is None or score > best_score:
                    best_d, best_score = d, score
            selected.append(best_d)
            remaining.discard(best_d)
            want.append((qid, rk, best_d, best_score))
    assert got == sorted(want)
    mmr_sets = {
        q: [d for (qq, _, d, _) in got if qq == q] for q in plain_top5
    }
    assert any(
        mmr_sets[q] != plain_top5[q] for q in plain_top5
    ), "diversity penalty never changed a ranking - fixture too easy"


def test_streaming_mmr_rank1_equals_ivf_top1(spark, sf_dir):
    """The serving twin's first pick carries no diversity penalty, so
    for every query MMR rank-1 must equal streaming_similarity_ivf's
    rank-1 (same cell, same rounded cosine, same id tie-break) — and
    its score must be lam_tenths * the packed micro-unit similarity."""
    from flink_demo_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    mmr = {
        r["query_id"]: (r["neighbor_id"], r["mmr_score_u"])
        for r in REGISTRY["streaming_similarity_mmr"].fn(spark, sf_dir).collect()
        if r["rk"] == 1
    }
    ivf = {
        r["query_id"]: (r["neighbor_id"], r["cosine_sim"])
        for r in REGISTRY["streaming_similarity_ivf"].fn(spark, sf_dir).collect()
        if r["rk"] == 1
    }
    assert set(mmr) == set(ivf) and len(mmr) == 5
    for q, (nid, score_u) in mmr.items():
        assert ivf[q][0] == nid, q
        assert score_u == 7 * round(ivf[q][1] * 1_000_000), q


def test_mmr_lambda_curve_monotone(spark, sf_dir):
    """The lambda knob must actually trade: raising lam (more weight
    on relevance) strictly raises total selected relevance AND
    strictly raises the tolerated redundancy penalty. A flat curve
    would mean the knob is disconnected from the greedy."""
    from flink_demo_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    rows = {
        r["lam_tenths"]: r
        for r in REGISTRY["similarity_mmr_lambda_curve"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {5, 7, 9}
    assert all(r["n_selected"] == 25 for r in rows.values())
    assert rows[5]["sum_qsim_u"] < rows[7]["sum_qsim_u"] < rows[9]["sum_qsim_u"]
    assert (
        rows[5]["sum_max_ssim_u"]
        < rows[7]["sum_max_ssim_u"]
        < rows[9]["sum_max_ssim_u"]
    )


def test_session_multi_pad_derived_at_composition(spark, sf_dir):
    """streaming_session_duration_v2_multi composes the chunked source
    with the evicting operator through eof_pad_hours(gap): the staged
    sentinel sits MORE than gap+watermark past the real max ts."""
    import glob

    from flink_demo_spark.plans.registry import REGISTRY, _load_all
    from flink_demo_spark.sources.streams import _stage_root, eof_pad_hours

    _load_all()
    # building the stream stages the chunks + sentinel
    REGISTRY["streaming_session_duration_v2_multi"].fn(spark, sf_dir)
    dirs = glob.glob(os.path.join(_stage_root(sf_dir), "events_c3_eof*_v*"))
    assert dirs
    d = max(dirs, key=os.path.getmtime)
    import pyarrow.compute as pc

    real_max = pc.max(
        pq.read_table(
            os.path.join(sf_dir, "events.parquet"), columns=["ts"]
        ).column("ts")
    ).as_py()
    eof_ts = pq.read_table(
        os.path.join(d, "zz_eof.parquet"), columns=["ts"]
    ).column("ts")[0].as_py()
    pad_s = (eof_ts - real_max).total_seconds()
    gap_ms = 3_600_000
    assert pad_s == eof_pad_hours(gap_ms) * 3600
    assert pad_s * 1000 > gap_ms + 600_000
