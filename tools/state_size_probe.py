#!/usr/bin/env python
"""State-size telemetry for the evicting stateful twins (round-12
verdict #6): prove "state grows with CONCURRENCY, not traffic" with a
measured number instead of an argument.

Replays the events table through BOTH session-duration forms with a
persistent checkpoint, then reads the state store back via the Spark 4
state source (streaming/state_query.py) and reports:

- v2 (evicting, ``session_durations_evicting``): state rows at the
  last data batch (= users with an OPEN session: the concurrency
  snapshot; schema is 2 longs/user) and at the final batch (after the
  EOF-driven timeout flush — near zero), plus the on-disk size of the
  state checkpoint.
- v1 (journey, collect_list complete agg): state rows (= all users
  ever seen) and TOTAL buffered events (the journey: grows with
  traffic), plus the on-disk size.

Usage:
  python tools/state_size_probe.py [sf_dir]    # default /tmp/sfprobe_sf1
Prints one JSON line; paste the numbers into COVERAGE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                total += os.path.getsize(p)
            except OSError:
                pass
    return total


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfprobe_sf1"

    from pyspark.sql import functions as F

    from flink_demo_spark.session import get_spark
    from flink_demo_spark.sources.streams import eof_pad_hours, events_stream
    from flink_demo_spark.streaming.runner import run_available_now
    from flink_demo_spark.streaming.state_query import read_keyed_state
    from flink_demo_spark.streaming.stateful import (
        session_durations_evicting,
    )

    spark = get_spark("state_size_probe")
    out: dict = {"sf_dir": sf_dir}

    work = tempfile.mkdtemp(prefix="state_size_probe_")
    try:
        # ---- v2: evicting state (2 longs per OPEN session) ----
        ckpt2 = os.path.join(work, "ckpt_v2")
        res = run_available_now(
            session_durations_evicting(
                events_stream(spark, sf_dir, pad_hours=eof_pad_hours(3_600_000))
            ),
            output_mode="append",
            checkpoint_dir=ckpt2,
        )
        n_sessions = res.where(F.col("user_id") >= 0).count()
        # batch 0 = after the events file committed, BEFORE the
        # timeout flush: every user with an open session holds state
        peak = read_keyed_state(spark, ckpt2, batch_id=0).count()
        final = read_keyed_state(spark, ckpt2).count()
        out["v2_evicting"] = {
            "sessions_emitted": n_sessions,
            "state_rows_peak": peak,
            "state_rows_final": final,
            "state_value_schema": "start_ms bigint, last_ms bigint (16 B)",
            "state_bytes_peak_logical": peak * 16,
            "checkpoint_state_bytes_disk": _du(
                os.path.join(ckpt2, "state")
            ),
        }

        # ---- v1: journey state (collect_list of every event) ----
        ckpt1 = os.path.join(work, "ckpt_v1")
        ev = events_stream(spark, sf_dir, watermark="10 minutes")
        journey = (
            ev.select(
                "user_id",
                F.struct(
                    F.unix_millis("ts").alias("ts_ms"),
                    F.col("event_id").alias("eid"),
                ).alias("e"),
            )
            .groupBy("user_id")
            .agg(F.collect_list("e").alias("evts"))
        )
        res1 = run_available_now(
            journey, output_mode="complete", checkpoint_dir=ckpt1
        )
        n_events = int(
            res1.agg(F.sum(F.size("evts"))).collect()[0][0]
        )
        st = read_keyed_state(spark, ckpt1)
        buf_col = [c for c in st.columns if c != "user_id"][0]
        # the collect_list agg buffer lands in the state store as its
        # SERIALIZED binary form - length() is the real bytes the
        # store holds per user, not a logical estimate
        agg = st.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.length(F.col(buf_col))).alias("buf_bytes"),
        ).collect()[0]
        out["v1_journey"] = {
            "state_rows": int(agg["rows"]),
            "events_buffered": n_events,
            "state_value_schema": f"{buf_col}: BINARY (serialized "
            "array<struct<ts_ms,eid>> - grows with traffic)",
            "state_bytes_serialized": int(agg["buf_bytes"]),
            "checkpoint_state_bytes_disk": _du(
                os.path.join(ckpt1, "state")
            ),
        }
        v2 = out["v2_evicting"]
        v1 = out["v1_journey"]
        if v2["state_rows_peak"]:
            out["journey_vs_evicting_bytes_ratio"] = round(
                v1["state_bytes_serialized"]
                / v2["state_bytes_peak_logical"],
                1,
            )
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
