#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR.

Prints one JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "value_normalized": <total sec / host_factor>,
   "queries": {name: sec, ...}, "sf": <sf>, "host_factor": <x>}

Each query is executed to a noop sink (full computation, no result
materialization cost on the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_demo_spark.plans import bench_queries
from flink_demo_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Builder-host floor of the calibration probe (min-of-3, round 12).
# host_factor = probe_sec / this — ~1.0 on the builder host, >1 on a
# slower host. Round-11 verdict: builder-vs-driver host speed differs
# ~15% and dominates per-query deltas; the probe makes every BENCH
# artifact self-interpreting. Comparison rule (SCALING.md): compare
# same-host artifacts raw; across hosts, divide by host_factor first.
CALIBRATION_REF_SEC = 0.76


def _calibration_probe(spark) -> float:
    """Fixed CPU-bound JVM job: 2B-row range -> xxhash64 -> bit_xor,
    8 partitions, noop sink. No I/O, no Python, no data dependence —
    pure whole-stage-codegen throughput, so its time moves with host
    CPU speed and nothing else. Min of 3 (first rep pays JIT)."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000_000, 1, 8).select(
            F.expr("bit_xor(xxhash64(id))")
        ).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def main() -> None:
    spark = get_spark("bench")
    # warm the JVM/codegen paths once with a trivial action
    spark.range(1000).count()
    # warm the Python/Arrow worker pool too, so the first pandas-UDF
    # query isn't charged the one-time worker spin-up
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()

    # host calibration (round-11 verdict #1): a fixed CPU-bound job
    # timed per run, so cross-host BENCH comparisons can normalize out
    # the ~15% builder-vs-driver hardware gap mechanically. Probed
    # again at the END of the run (min wins): the factor should
    # reflect the host's capability during the window, not a transient
    # load spike at warmup time.
    calib_start = _calibration_probe(spark)

    # Each query is timed THREE times and the MIN is reported, with
    # every rep recorded in the JSON so variance is visible in the
    # artifact itself: this host is a VM with bursty CPU availability
    # (observed 2-4x swings on identical plans minutes apart; the r5/r6
    # "regressions" were confirmed pure host variance by controlled
    # order-alternating A/Bs — see SCALING.md). Reps run as three full
    # passes over the suite with a rotated start offset, so no query is
    # always first-after-warmup or always last-under-accumulated-load,
    # and back-to-back cache luck can't favor one query over another.
    REPS = 3
    names = list(bench_queries().items())
    rep_times: dict[str, list[float]] = {n: [] for n, _ in names}
    errors: dict[str, str] = {}
    for r in range(REPS):
        k = (r * len(names)) // REPS if names else 0
        for name, spec in names[k:] + names[:k]:
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                df = spec.fn(spark, SF_DIR)
                df.write.mode("overwrite").format("noop").save()
                rep_times[name].append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # a broken query must not kill the bench
                errors[name] = str(e).split("\n")[0][:200]
            finally:
                # drop leftover persisted frames OUTSIDE the timed
                # window: with ~40 queries x 3 reps in one session,
                # accumulated caches evict each other and the victim's
                # re-timing looks like a regression (r10:
                # knn_graph_mutual +64% purely from its block kernel
                # losing storage memory to later queries' persists) —
                # each query is timed cold and self-contained. In a
                # finally so a query that ERRORS after persisting can't
                # leak its cache into the next query's timing
                # (round-11 ADVICE).
                spark.catalog.clearCache()
    # A query that errored in ANY rep contributes nothing to the headline
    # value: mixing a single surviving rep's timing into `value` while the
    # same name sits in `errors` would make the artifact ambiguous about
    # which names the total covers (round-7 ADVICE).
    timings = {n: min(ts) for n, ts in rep_times.items() if ts and n not in errors}
    # median-of-3 alongside min (round-10 verdict #1): min is the
    # noise-floor number history compares against; the median makes
    # same-methodology host variance (the r10 47.66-vs-52.93 gap)
    # visible mechanically without re-running. With 3 reps the median
    # is simply the middle value.
    medians = {
        n: sorted(ts)[len(ts) // 2]
        for n, ts in rep_times.items()
        if ts and n not in errors
    }

    # streaming throughput: full events replay through watermark +
    # tumbling window agg to a memory sink (reference generators cap at
    # ~500 ev/s/source, BASELINE.md; this measures the engine's ceiling).
    # Methodology (round 6): best-of-THREE replays — the replay figure
    # swings with host load more than the batch queries (the r5 "-24%"
    # was VM variance, confirmed by a controlled A/B), and the input
    # partition layout is pinned by the session's fixed
    # maxPartitionBytes/shuffle.partitions so reps differ only by load.
    stream_eps = None
    stream_eps_reps: list[int] = []
    stream_error = None
    try:
        from flink_demo_spark.catalog import load_table
        from flink_demo_spark.sources.streams import events_stream
        from flink_demo_spark.streaming.runner import run_available_now
        from flink_demo_spark.streaming.windows import tumbling_agg

        n_events = load_table(spark, SF_DIR, "events").count()
        for _ in range(3):
            t0 = time.perf_counter()
            run_available_now(
                tumbling_agg(events_stream(spark, SF_DIR)),
                output_mode="complete",
            )
            eps = round(n_events / (time.perf_counter() - t0))
            stream_eps_reps.append(eps)
            stream_eps = eps if stream_eps is None or eps > stream_eps else stream_eps
    except Exception as e:  # reported, never a silent null
        stream_error = str(e).split("\n")[0][:200]
        print("stream throughput replay failed:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    calib_end = _calibration_probe(spark)
    calib_sec = min(calib_start, calib_end)
    host_factor = round(calib_sec / CALIBRATION_REF_SEC, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # the headline set grew from 17 to 22 queries in round 5 (streaming/
    # CEP/Kafka families); this subtotal keeps the original set
    # comparable across rounds
    r4_set = {
        "topn_per_group", "hotitems_topn", "pv_uv_hourly",
        "text_token_stats", "dedup_jaccard_pairs", "dedup_minhash_lsh",
        "dedup_embedding_cosine", "similarity_topk", "q1_pricing_summary",
        "q3_top_revenue", "q5_regional_revenue", "q10_returned_items",
        "count_window_agg", "window_tumbling_hourly", "window_session",
        "interval_join", "asof_join_latest_signup",
    }
    # The driver captures only the last ~2000 chars of stdout, so the
    # FINAL stdout line must be a compact summary (metric, value, subtotal,
    # per-query mins — no per-rep arrays: those overflowed the capture in
    # round 7 and left BENCH_r07.json with parsed:null). Full per-rep
    # detail goes to a committed file instead.
    value = round(sum(timings.values()), 3)
    summary = {
        "metric": "headline query wall time at sf (noop sink)",
        "value": value,
        # the headline in builder-host seconds: comparable across hosts
        "value_normalized": round(value / host_factor, 3),
        "value_r4_comparable_subset": round(
            sum(v for n, v in timings.items() if n in r4_set), 3
        ),
        "value_median": round(sum(medians.values()), 3),
        "unit": "sec",
        "queries": timings,
        "reps": REPS,
        "rep_policy": "min of 3 full passes, start offset rotated per pass",
        "sf": float(sf) if sf else None,
        "host_factor": host_factor,
    }
    if stream_eps is not None:
        summary["stream_events_per_sec"] = stream_eps
    if errors:
        summary["errors"] = errors

    detail = dict(summary)
    import platform

    detail["calibration"] = {
        "probe": "range(2e9, 8 parts) -> bit_xor(xxhash64(id)), min of 3",
        "probe_sec": calib_sec,
        "probe_sec_start": calib_start,
        "probe_sec_end": calib_end,
        "ref_sec": CALIBRATION_REF_SEC,
        "host_factor": host_factor,
        "hostname": platform.node(),
        "cpus": os.cpu_count(),
    }
    detail["queries_median"] = medians
    detail["queries_reps"] = {n: ts for n, ts in rep_times.items() if ts}
    # per-query variance band (round-9 verdict #5): spread of the three
    # reps relative to the min, so a round-over-round delta can be read
    # against the SAME round's own host-noise envelope mechanically
    # (spread 40% + delta 15% = noise; spread 3% + delta 15% = real).
    detail["queries_spread_pct"] = {
        n: round(100.0 * (max(ts) - min(ts)) / min(ts), 1)
        for n, ts in rep_times.items()
        if ts and min(ts) > 0
    }
    if stream_eps_reps:
        detail["stream_events_per_sec_reps"] = stream_eps_reps
    if stream_error is not None:
        detail["stream_error"] = stream_error
    here = os.path.dirname(os.path.abspath(__file__))
    # per-round history: the driver writes BENCH_r{N}.json AFTER this
    # run, so the next round number is 1 + the highest committed round
    # — stamp it into the detail record and keep a per-round copy so
    # per-rep history survives round-to-round overwrites (r8 verdict #7)
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p_ in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r0*(\d+)\.json$", p_))
    ]
    round_no = max(rounds, default=0) + 1
    detail["round"] = round_no
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
        with open(
            os.path.join(here, f"BENCH_DETAIL_r{round_no:02d}.json"), "w"
        ) as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
    except OSError as e:
        # a read-only checkout must not break the bench line, but the
        # loss of per-rep detail should leave a trace (ADVICE r8)
        print(f"warning: BENCH_DETAIL.json write failed: {e}", file=sys.stderr)
        summary["detail_write_failed"] = str(e)

    line = json.dumps(summary)
    if len(line) > 1900:  # stay inside the driver's 2000-char tail window
        slim = dict(summary)
        slim["queries"] = {n: v for n, v in timings.items() if n in r4_set}
        slim["queries_truncated_see"] = "BENCH_DETAIL.json"
        line = json.dumps(slim)
    print(line)


if __name__ == "__main__":
    main()
