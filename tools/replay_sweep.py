#!/usr/bin/env python
"""Run every ``streaming*`` registry replay once and print what the
runner decided and what came out, as a markdown table:

- partitions: ``spark.sql.shuffle.partitions`` when the replay's
  streaming query started (the runner's sizing decision);
- micro-batches: distinct batch ids in the finished query's
  ``recentProgress``;
- rows and the normalized result hash (``tests/oracle_compare.py``'s
  order-insensitive normalizer, sha1, first 16 hex digits).

A replay that starts more than one streaming query lists each query's
partitions and batches joined by ``+``. Run it on two checkouts and
diff the tables to see which decisions a runner change moved and that
no result did::

    python tools/replay_sweep.py --sf <sf dir>      # make replay-sweep

The session comes from ``get_spark()`` (``local[$SPARK_GRAFT_CPUS]``,
32 shuffle partitions), so the floor binds as it does in the bench.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="scale-factor data dir")
    args = ap.parse_args()

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from flink_demo_spark.plans import all_queries
    from flink_demo_spark.session import get_spark
    from tests.oracle_compare import normalize

    spark = get_spark("replay_sweep")
    started: list[tuple[str, object]] = []
    real_start = DataStreamWriter.start

    def start(self, *a, **kw):
        parts = spark.conf.get("spark.sql.shuffle.partitions")
        q = real_start(self, *a, **kw)
        started.append((parts, q))
        return q

    DataStreamWriter.start = start
    queries = all_queries()
    names = sorted(n for n in queries if n.startswith("streaming"))
    print(f"# {len(names)} replays at {args.sf}, "
          f"defaultParallelism {spark.sparkContext.defaultParallelism}")
    print("| replay | partitions | micro-batches | rows | result hash |")
    print("|---|---|---|---|---|")
    failed = 0
    for name in names:
        started.clear()
        try:
            pdf = queries[name](spark, args.sf).toPandas()
        except Exception as e:  # report and go on: one row per replay
            failed += 1
            msg = str(e).split("\n")[0][:120]
            print(f"| {name} | ERROR | | | {msg} |", flush=True)
            continue
        rows = normalize(pdf)
        digest = hashlib.sha1(
            "\n".join("\t".join(r) for r in rows).encode()
        ).hexdigest()[:16]
        parts = "+".join(p for p, _ in started) or "-"
        batches = "+".join(
            str(len({p["batchId"] for p in q.recentProgress})) for _, q in started
        ) or "-"
        print(
            f"| {name} | {parts} | {batches} | {len(rows)} | {digest} |",
            flush=True,
        )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
