#!/usr/bin/env python
"""Dump the formatted physical plans of the bench (headline) queries to
PLANS.md — a reviewable record that each operator compiles to the plan
we want at scale (broadcasts on small dims, pushed filters, pruned
scans, partial aggregation, no cartesian products). Regenerate with:
    python tools/dump_plans.py
To compare plans before and after a change, run it on both commits and
diff the two PLANS.md files. The plan-shape assertions live in
tests/test_plan_properties.py; this artifact is the human-readable
companion.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_demo_spark.plans import bench_queries  # noqa: E402
from flink_demo_spark.plans.registry import REGISTRY, _load_all  # noqa: E402
from flink_demo_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_str(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def main() -> None:
    spark = get_spark("plans")
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py` at `{SF_DIR}`.",
        "Assertions on these shapes: `tests/test_plan_properties.py`.",
        "",
    ]
    # headline queries first, then every other plan-pinned query from
    # tests/test_plan_properties.py (same pins, human-readable dump)
    _load_all()
    pinned = []
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))
        from test_plan_properties import EXPECT  # noqa: E402

        bench = set(bench_queries())
        pinned = [(n, REGISTRY[n]) for n in sorted(EXPECT) if n not in bench]
    except Exception:
        pass
    for name, spec in list(bench_queries().items()) + pinned:
        try:
            df = spec.fn(spark, SF_DIR)
        except Exception as e:  # streaming-only entries have no batch plan
            out.append(f"## {name}\n\n(not plannable statically: {e})\n")
            continue
        out.append(f"## {name}\n\n```\n{plan_str(df)}\n```\n")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} sections)")


if __name__ == "__main__":
    main()
