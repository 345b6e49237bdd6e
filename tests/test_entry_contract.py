"""Smoke-check the driver contract in __spark_entry__.py."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(HERE, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_runs(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_queries_and_oracles_consistent():
    mod = _load_entry()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) >= 40
    # every oracle key must have a query
    assert set(oracles) <= set(qs)
    # most queries should be oracle-backed
    assert len(oracles) >= 0.7 * len(qs)


def test_sample_order_rotates_away_from_green_rows():
    """The driver checks the first 50 of queries(); names already
    green in a past round's CORRECTNESS_r*.json must sort after the
    never-checked ones so each round's sample widens coverage."""
    import json
    import os

    mod = _load_entry()
    names = list(mod.queries())
    recs = [
        p
        for p in os.listdir(os.path.dirname(os.path.abspath(mod.__file__)))
        if p.startswith("CORRECTNESS_r") and p.endswith(".json")
    ]
    if not recs:
        return  # round 1: nothing to rotate away from
    green = set()
    base = os.path.dirname(os.path.abspath(mod.__file__))
    for p in recs:
        with open(os.path.join(base, p)) as f:
            for n, r in json.load(f).items():
                if isinstance(r, dict) and (
                    r.get("hash_match")
                    or (r.get("err") == "no_oracle" and r.get("spark_rows"))
                ):
                    green.add(n)
    never = [n for n in names if n not in green]
    if len(never) >= 50:
        assert not (set(names[:50]) & green), set(names[:50]) & green


def test_pandas_stage_runs_outside_repo_root(tmp_path):
    """A driver started in another directory, with the package on its
    sys.path only (no PYTHONPATH), runs a pandas stage whose Python
    workers import the package: get_spark puts the package's parent
    dir on the workers' path."""
    script = f"""
import sys
sys.path.insert(0, {HERE!r})
from flink_demo_spark.session import get_spark

def f(pdf):
    import flink_demo_spark  # what a pickled package function needs
    return pdf

spark = get_spark("outside_root", master="local[1]", shuffle_partitions=1)
df = spark.createDataFrame([(7,)], "k long")
print("ROWS", df.groupBy("k").applyInPandas(f, "k long").collect())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ROWS [Row(k=7)]" in out.stdout
