"""Round-12 regression suite: the round-11 ADVICE fixes.

1. ``session_durations_evicting`` arms its event-time timeout at the
   session's REAL gap horizon and the timed-out branch re-checks it —
   a key whose history spans micro-batches no longer has its open
   session closed early (ADVICE high; reference semantics = Flink
   session windows, which never fire before gap expiry).
2. ``attribution_evicting`` guards null click pages with ``pd.isna``
   (nullable LongType arrives in pandas as float64/NaN, not None).
3. The stream stager tolerates the symlink-creation race.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

MIN_MS = 60_000
BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in µs


def _write_events(path: str, rows: list[tuple], mtime: float | None = None):
    """Write an events-schema parquet file (µs TIMESTAMP_NTZ ts, the
    encoding ``_events_raw_schema`` accepts). rows = (event_id, ts_us,
    user_id, event_type, value, props)."""
    schema = pa.schema(
        [
            pa.field("event_id", pa.int64()),
            pa.field("ts", pa.timestamp("us")),
            pa.field("user_id", pa.int64()),
            pa.field("event_type", pa.string()),
            pa.field("value", pa.float64()),
            pa.field("props", pa.string()),
        ]
    )
    cols = list(zip(*rows))
    t = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        },
        schema=schema,
    )
    pq.write_table(t, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _stream_from_dir(spark, d: str, one_file_per_trigger: bool):
    from flink_demo_spark.catalog import normalize_events_ts
    from flink_demo_spark.sources.streams import _events_raw_schema

    reader = spark.readStream.schema(_events_raw_schema(d))
    if one_file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", 1)
    return normalize_events_ts(reader.parquet(d)).withWatermark(
        "ts", "10 minutes"
    )


def test_evicting_session_survives_multi_trigger(spark, tmp_path):
    """The round-11 ADVICE repro, now golden: one key's history split
    across triggers with the key silent for a middle micro-batch while
    the watermark advances. The old wm+1 arming closed the open session
    at the first silent batch (two 0 s sessions); the real-horizon
    arming + guarded flush must yield ONE 2700 s session."""
    from flink_demo_spark.streaming.runner import run_available_now
    from flink_demo_spark.streaming.stateful import (
        session_durations_evicting,
    )

    d = str(tmp_path / "ev_multi")
    os.makedirs(d)
    m = lambda i: BASE_US + i * MIN_MS * 1000  # noqa: E731
    now = os.path.getmtime(d)
    # f1: user1 opens a session; f2: user1 SILENT, watermark advances
    # (the premature-flush trigger); f3: user1 returns inside the 60min
    # gap; f4: a late event drags the watermark past user1's horizon.
    _write_events(
        os.path.join(d, "f1.parquet"),
        [(1, m(0), 1, "click", 0.0, "{}"), (2, m(0), 9, "view", 0.0, "{}")],
        mtime=now - 40,
    )
    _write_events(
        os.path.join(d, "f2.parquet"),
        [(3, m(45), 2, "view", 0.0, "{}")],
        mtime=now - 30,
    )
    _write_events(
        os.path.join(d, "f3.parquet"),
        [(4, m(45), 1, "click", 0.0, "{}")],
        mtime=now - 20,
    )
    _write_events(
        os.path.join(d, "f4.parquet"),
        [(5, m(120), 9, "view", 0.0, "{}")],
        mtime=now - 10,
    )

    ev = _stream_from_dir(spark, d, one_file_per_trigger=True)
    got = sorted(
        (r["user_id"], r["dur_s"])
        for r in run_available_now(
            session_durations_evicting(ev), output_mode="append"
        ).collect()
    )
    # user1: ONE 45-min session (0->45min, flushed when wm passes
    # 105min); user2: one 0s session (flushed, horizon 105min < wm
    # 110min); user9: 0s session closed by its own 120min event (whose
    # open successor stays in state - horizon 180min, never reached).
    assert got == [(1, 2700), (2, 0), (9, 0)]


def test_attribution_evicting_null_page_click(spark, tmp_path):
    """A click whose props lack $.k used to reach int(NaN) and kill
    the query (nullable long -> float64 NaN passes `is not None`).
    It must be skipped: the purchase after it attributes to the last
    VALID click, or not at all."""
    from flink_demo_spark.streaming.runner import run_available_now
    from flink_demo_spark.streaming.stateful import attribution_evicting

    d = str(tmp_path / "ev_nan")
    os.makedirs(d)
    m = lambda i: BASE_US + i * MIN_MS * 1000  # noqa: E731
    _write_events(
        os.path.join(d, "f1.parquet"),
        [
            # user1: click WITHOUT $.k, then purchase -> no attribution
            (1, m(0), 1, "click", 0.0, "{}"),
            (2, m(1), 1, "purchase", 5.0, "{}"),
            # user2: valid click page 7, null-page click, purchase ->
            # attributes to page 7 (null click must not clobber carry)
            (3, m(0), 2, "click", 0.0, '{"k": 7}'),
            (4, m(1), 2, "click", 0.0, "{}"),
            (5, m(2), 2, "purchase", 3.0, "{}"),
        ],
    )
    ev = _stream_from_dir(spark, d, one_file_per_trigger=False)
    got = sorted(
        (r["user_id"], r["page"], r["cents"])
        for r in run_available_now(
            attribution_evicting(ev), output_mode="append"
        ).collect()
    )
    assert got == [(2, 7, 300)]


def test_stage_symlink_race_tolerated(tmp_path):
    """A concurrent stager creating the symlink between the exists
    check and os.symlink must not raise (round-11 ADVICE low)."""
    from unittest import mock

    from flink_demo_spark.sources import streams as S

    d = str(tmp_path / "sfdir2")
    os.makedirs(d)
    _write_events(
        os.path.join(d, "events.parquet"),
        [(1, BASE_US, 1, "view", 0.0, "{}")],
    )

    staged = S._stage_stream_dir(d, "events")  # link now exists
    link = os.path.join(staged, "events.parquet")
    # make the exists-check miss so the stager attempts the symlink
    # against the already-created link - the FileExistsError the
    # concurrent race produces - and must swallow it
    with mock.patch(
        "flink_demo_spark.sources.streams.os.path.exists",
        side_effect=lambda p: False if p == link else os.path.lexists(p),
    ):
        assert S._stage_stream_dir(d, "events") == staged
    import shutil

    shutil.rmtree(os.path.dirname(staged), ignore_errors=True)


def test_prequential_packed_scan_equals_sequential_walk():
    """The round-12 LINEAR oracle rests on one equivalence: the
    running dst-count argmax (tie -> smaller dst) at each test point
    equals the strictly-prior row maximizing (within-(src,dst)
    row_number, then smaller dst). Fuzz it in pure Python against the
    sequential walk on adversarial small domains (heavy ties, single
    src, interleaved srcs)."""
    import random

    rng = random.Random(12)
    for trial in range(200):
        n = rng.randint(1, 60)
        n_src = rng.randint(1, 3)
        n_dst = rng.randint(1, 4)
        rows = [
            (
                rng.randint(0, n_src - 1),          # src
                rng.randint(0, n_dst - 1),          # dst
                rng.randint(0, 5),                  # ts (heavy ties)
                i,                                  # eid unique
            )
            for i in range(n)
        ]
        # sequential walk (the engine formulation)
        want = []
        counts: dict[tuple, dict] = {}
        for src, dst, ts, eid in sorted(rows, key=lambda r: (r[2], r[3])):
            c = counts.setdefault(src, {})
            pred = min(((-v, k) for k, v in c.items()), default=None)
            want.append((eid, pred[1] if pred else None))
            c[dst] = c.get(dst, 0) + 1
        # packed running-max scan (the oracle formulation)
        got = []
        seen: dict[tuple, int] = {}
        best: dict[int, int] = {}
        R = 1 << 20
        for src, dst, ts, eid in sorted(rows, key=lambda r: (r[2], r[3])):
            b = best.get(src)
            got.append((eid, None if b is None else R - 1 - (b % R)))
            rn = seen.get((src, dst), 0) + 1
            seen[(src, dst)] = rn
            packed = rn * R + (R - 1 - dst)
            if b is None or packed > b:
                best[src] = packed
        assert got == want, f"trial {trial}"


def test_session_v2_multi_trigger_query_matches_single_batch(spark, sf_dir):
    """The registered multi-trigger replay (3 chunks + sentinel at
    maxFilesPerTrigger=1) must produce the exact quantile row of the
    single-batch twin - trigger-boundary state carry-over changes
    nothing about the sessions."""
    from flink_demo_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    one = sorted(
        map(tuple, REGISTRY["streaming_session_duration_v2"]
            .fn(spark, sf_dir).collect())
    )
    multi = sorted(
        map(tuple, REGISTRY["streaming_session_duration_v2_multi"]
            .fn(spark, sf_dir).collect())
    )
    assert multi == one


def test_recall_hashes_curve_consistent(spark, sf_dir):
    """The hashes-curve's 16-hash row must equal the standalone
    16x4 harness (same signatures, same banding, same exact tier),
    and raising hashes at fixed bands must not RAISE the false-pair
    rate (rows-per-band doubles -> random collisions fall)."""
    from flink_demo_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    curve = {
        r["num_hashes"]: r
        for r in REGISTRY["dedup_recall_minhash_hashes"]
        .fn(spark, sf_dir)
        .collect()
    }
    standalone = REGISTRY["dedup_recall_minhash"].fn(spark, sf_dir).collect()[0]
    r16 = curve[16]
    assert (
        r16["n_exact"], r16["n_lsh"], r16["n_common"],
        r16["recall_bp"], r16["lsh_extra_bp"],
    ) == (
        standalone["n_exact"], standalone["n_lsh"],
        standalone["n_common"], standalone["recall_bp"],
        standalone["lsh_extra_bp"],
    )
    assert curve[32]["lsh_extra_bp"] <= curve[16]["lsh_extra_bp"]


def test_prequential_scan_twin_equals_walk(spark, sf_dir):
    """Three formulations, one number: the JVM packed-scan twin must
    reproduce the pandas walk's summary row exactly."""
    from flink_demo_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    walk = sorted(
        map(tuple, REGISTRY["browse_prequential_accuracy"]
            .fn(spark, sf_dir).collect())
    )
    scan = sorted(
        map(tuple, REGISTRY["browse_prequential_accuracy_scan"]
            .fn(spark, sf_dir).collect())
    )
    assert scan == walk


def test_scan_guard_conditional(spark, sf_dir):
    """The single-row-group scan guard: documents (heavy per-row work)
    get the exchange when asked for, and only then."""
    from flink_demo_spark.sources.streams import documents_stream

    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    assert "Repartition" in plan(
        documents_stream(spark, sf_dir, scan_guard=True)
    )
    assert "Repartition" not in plan(
        documents_stream(spark, sf_dir)
    )
