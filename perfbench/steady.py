#!/usr/bin/env python3
"""Measure the benchmark's own steadiness and write the record.

Run from the repository root:

  python3 perfbench/steady.py --out perfbench/steadiness.json

For every workload of ``BENCHMARK.json`` it makes ``RUNS`` untraced
runs, one per seed, and reports each end-to-end metric's median,
quartiles and spread (the distance between the first and third quartile
as a share of the median), against the metric's bound. It then makes
``TRACED`` traced runs and records the tracing overhead (traced over
untraced median ``pass_s``) and every per-layer metric's values and
median. Last it makes a second set of untraced runs on fresh seeds and
reports how far each median moved from the first set.

It exits with 1 when an operation failed, a spread (``setup_s`` aside)
or a median shift exceeds its bound, a count in ``REPEATING`` differs
between traced runs, or a metric in ``NONZERO`` reads 0 where its layer
is in use.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
TRACED = 2
SEED_SETS = (1, 1001)  # first seed of each of the two sets of untraced runs
REPEATING = ("exec.stages", "state.shuffle_partitions", "streaming.batches")
_BOTH = (
    "session.start_s",
    "session.registry_import_s",
    "session.warm_pass_s",
    "session.jvm_peak_rss_mb",
    "plans.build_ms",
    "catalyst.plan_ms",
    "sinks.write_ms",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.task_run_ms",
    "exec.task_cpu_ms",
    "exec.core_util",
    "scan.input_bytes",
    "scan.input_rows",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.records_written",
    "shuffle.write_time_ms",
    "shuffle.partitions",
)
# Per-layer metrics that must read above 0 on a workload, as the
# README's layer table states. python.worker_start_ms and
# python.bytes_sent are left out: Spark reuses the workers forked in
# the warm pass, and its applyInPandasWithState runner reports no bytes
# sent (see README).
NONZERO = {
    "batch": (
        *_BOTH,
        "plans.eager_jobs",
        "broadcast.bytes",
        "broadcast.collect_ms",
        "broadcast.build_ms",
    ),
    "stream_replay": (
        *_BOTH,
        "python.worker_init_ms",
        "python.worker_run_ms",
        "python.bytes_returned",
        "streaming.batches",
        "streaming.input_rows",
        "streaming.trigger_ms",
        "streaming.add_batch_ms",
        "streaming.query_planning_ms",
        "streaming.wal_commit_ms",
        "streaming.commit_offsets_ms",
        "streaming.latest_offset_ms",
        "streaming.get_batch_ms",
        "streaming.outside_trigger_ms",
        "state.rows_total",
        "state.memory_bytes",
        "state.shuffle_partitions",
    ),
}


def run_once(spec: dict, workload: str, seed: int, trace: int) -> tuple[dict, float, dict]:
    """(result line, wall seconds, the run's per-pass detail)"""
    cmd = [
        *spec["command"],
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]),
        "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=180, check=True,
    )
    wall = time.perf_counter() - t0
    detail = next(
        (
            json.loads(line.split(" ", 1)[1])
            for line in proc.stderr.splitlines()
            if line.startswith("perfbench-detail ")
        ),
        {},
    )
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall, detail


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def untraced(spec: dict, workload: str, seed0: int) -> dict:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {k: [] for k in bounds}
    walls, details, failed = [], [], 0
    for seed in range(seed0, seed0 + RUNS):
        out, wall, detail = run_once(spec, workload, seed, 0)
        walls.append(wall)
        details.append({"seed": seed, "pass_s": detail.get("pass_s")})
        failed += out["failed"] + (not out["correct"])
        for k in bounds:
            values[k].append(out["metrics"][k]["value"])
        print(f"{workload} seed={seed} wall={wall:.1f}s "
              + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              file=sys.stderr, flush=True)
    rec: dict = {"runs": RUNS, "failed": failed, "run_wall_s": walls, "metrics": {}}
    for k, vs in values.items():
        s = spread(vs)
        s.update(values=vs, bound=bounds[k], within_third_of_bound=s["spread"] < bounds[k] / 3)
        rec["metrics"][k] = s
    rec["passes"] = details
    return rec


def traced(spec: dict, workload: str, seed0: int, untraced_pass_s: float) -> dict:
    walls, traced_pass, layers, failed = [], [], {}, 0
    for seed in range(seed0, seed0 + TRACED):
        out, wall, _ = run_once(spec, workload, seed, 1)
        walls.append(wall)
        failed += out["failed"] + (not out["correct"])
        with open(os.path.join(HERE, ".runs", f"trace-{workload}-seed{seed}.json")) as f:
            traced_pass.append(json.load(f)["traced_pass_s"])
        for k, m in out["metrics"].items():
            layers.setdefault(k, []).append(m["value"])
    return {
        "runs": TRACED,
        "failed": failed,
        "run_wall_s": walls,
        "overhead": statistics.median(traced_pass) / untraced_pass_s - 1,
        "traced_pass_s": traced_pass,
        "untraced_median_pass_s": untraced_pass_s,
        "layers": {
            k: {"median": statistics.median(v), "values": v}
            for k, v in sorted(layers.items())
        },
    }


def problems(spec: dict, record: dict) -> list[str]:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = []
    for w, rec in record["workloads"].items():
        tr = rec["traced"]
        second = record["second_set"][w]
        for r in (rec, tr, second):
            if r["failed"]:
                out.append(f"{w}: {r['failed']} failed operations")
        for r in (rec, second):
            for k, m in r["metrics"].items():
                if k != "setup_s" and m["spread"] > bounds[k]:
                    out.append(f"{w}/{k}: spread {m['spread']:.1%} > bound")
        for k, shift in record["median_shift"][w].items():
            if shift > bounds[k]:
                out.append(f"{w}/{k}: median moved {shift:+.1%} > bound")
        for k in REPEATING:
            if len(set(tr["layers"][k]["values"])) != 1:
                out.append(f"{w}/{k}: differs between runs {tr['layers'][k]['values']}")
        for k in NONZERO[w]:
            if min(tr["layers"][k]["values"]) <= 0:
                out.append(f"{w}/{k}: reads 0 {tr['layers'][k]['values']}")
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default="", help="where to write the record")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    sets = []
    for k, seed0 in enumerate(SEED_SETS):
        recs = {}
        for w in names:
            recs[w] = untraced(spec, w, seed0)
            if k == 0:
                recs[w]["traced"] = traced(
                    spec, w, seed0 + RUNS, recs[w]["metrics"]["pass_s"]["median"]
                )
        sets.append(recs)
    record = {
        "host_cpus": len(os.sched_getaffinity(0)),
        "run_seconds": spec["run_seconds"],
        "workloads": sets[0],
        "second_set": sets[1],
        "median_shift": {
            w: {
                k: sets[1][w]["metrics"][k]["median"] / m["median"] - 1
                for k, m in sets[0][w]["metrics"].items()
            }
            for w in names
        },
    }
    record["problems"] = problems(spec, record)
    if args.out:
        with open(args.out, "w") as f:
            f.write(json.dumps(record, indent=1) + "\n")
    for w, rec in record["workloads"].items():
        for k, m in rec["metrics"].items():
            x = sets[1][w]["metrics"][k]
            print(f"{w:14s} {k:18s} median={m['median']:.4g} "
                  f"spread={m['spread']:.3%} bound={m['bound']} | second "
                  f"median={x['median']:.4g} spread={x['spread']:.3%}")
        print(f"{w:14s} tracing overhead={rec['traced']['overhead']:.1%}")
    for p in record["problems"]:
        print("problem: " + p)
    return 1 if record["problems"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
