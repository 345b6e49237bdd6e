#!/usr/bin/env python
"""Build every non-streaming registry query once and print hashes of
its analyzed and optimized logical plans, as a markdown table: the
batch counterpart of ``tools/replay_sweep.py``.

A hash is sha1 (first 16 hex digits) of the plan's full tree string
(no field truncation) with expression ids (``#123``), physical plan
ids (``plan_id=123``, inside cached relations), the ``CollectMetrics``
dataframe id and lambda-variable counters stripped, so two builds of
one plan hash equal. One exception: Spark orders the ``Expand`` groups
of a plan with several distinct aggregates by expression-id hashes,
so such a query's optimized hash can differ between runs
(``profile_columns`` and ``agg_distinct_sums``); its analyzed hash
does not. Nothing is executed beyond the eager jobs a plan build
itself runs. Run it on two checkouts and diff the tables to check
that a refactor moved no batch plan::

    python tools/plan_sweep.py --sf <sf dir>        # make plan-sweep

Streaming queries (``streaming*``, the replays ``replay_sweep`` covers)
are skipped.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_IDS = re.compile(r"#\d+L?|plan_id=\d+")
_METRICS_ID = re.compile(r"^(.* CollectMetrics .*), \d+$", re.M)
# PySpark names each Python lambda's variables x/y/z plus a
# JVM-global counter (``lambda x_12``): the suffix only counts the
# lambdas built before, so it is dropped too
_LAMBDA_VAR = re.compile(r"(lambda [xyz])_\d+")


def plan_hash(plan) -> str:
    text = plan.treeString(True, False, 2**31 - 1, False, False)
    text = _METRICS_ID.sub(r"\1", _IDS.sub("", text))
    text = _LAMBDA_VAR.sub(r"\1", text)
    return hashlib.sha1(text.encode()).hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="scale-factor data dir")
    args = ap.parse_args()

    from flink_demo_spark.plans import all_queries
    from flink_demo_spark.session import get_spark

    spark = get_spark("plan_sweep")
    queries = all_queries()
    names = [n for n in queries if not n.startswith("streaming")]
    print(f"# {len(names)} batch plans at {args.sf}")
    print("| query | analyzed plan hash | optimized plan hash |")
    print("|---|---|---|")
    failed = 0
    for name in names:
        try:
            qe = queries[name](spark, args.sf)._jdf.queryExecution()
            row = f"{plan_hash(qe.analyzed())} | {plan_hash(qe.optimizedPlan())}"
        except Exception as e:  # report and go on: one row per query
            failed += 1
            row = "ERROR | " + str(e).split("\n")[0][:120]
        print(f"| {name} | {row} |", flush=True)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
