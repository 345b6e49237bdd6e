#!/usr/bin/env python3
"""Closed-loop benchmark of the flink_demo_spark engine.

Run from the repository root:

  python3 perfbench/run.py --workload batch --seed 1 --seconds 18 --trace 0

One client in one process runs the workload's registry queries (see
``workloads.py``) through ``get_spark()`` on ``local[<cpus>]``, each to
the noop sink as ``bench.py`` does. The seed permutes the query order of
every pass; the inputs are the fixed sf0.01 tables.

A run:
1. starts the session and imports the query registry;
2. runs one untimed warm pass that collects every result and checks it
   against its DuckDB oracle (the oracle time is not counted as set-up);
   set-up ends here;
3. runs one more untimed pass like a timed pass, to warm the JIT;
4. runs timed passes until ``--seconds`` have passed (at least
   ``MIN_PASSES``).

With ``--trace 0`` it reports the end-to-end metrics, computed from
whole passes and per-query medians only. With ``--trace 1`` the timed
passes are traced: spans around the calls into the program's layers,
Spark's status store and streaming progress read from outside, and the
per-layer metrics reported as medians over the traced passes. The spans
are written to ``perfbench/.runs/trace-<workload>-seed<seed>.json``.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime  # noqa: E402
from statistics import median  # noqa: E402

from spans import Tracer, geomean, self_times  # noqa: E402
from workloads import SCALE_DIR, WORKLOADS  # noqa: E402

MIN_PASSES = 3
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")

# micro-batch phases of a trigger, in the order Spark runs them
PHASE_KEYS = {
    "latestOffset": "streaming.latest_offset_ms",
    "walCommit": "streaming.wal_commit_ms",
    "getBatch": "streaming.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}
# per-pass sums kept by the traced pass itself; the two helper sums
# (write.task_run_ms, streaming.replay_wall_ms) only feed ratios
PASS_COUNTERS = (
    "plans.eager_jobs",
    "exec.jobs",
    "streaming.batches",
    "streaming.input_rows",
    "streaming.trigger_ms",
    "state.rows_total",
    "state.memory_bytes",
    "state.rows_dropped_by_watermark",
    "state.shuffle_partitions",
    "write.task_run_ms",
    "streaming.replay_wall_ms",
)


class Run:
    """One benchmark process: its session, counters and results."""

    def __init__(
        self, workload: str, sf_dir: str, seed: int, seconds: int, trace: bool
    ):
        self.name = workload
        self.queries = WORKLOADS[workload]
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.broken: set[str] = set()
        self.errors: list[str] = []
        self.spark = None
        self.listener = None
        self.setup: dict[str, float] = {}
        self.warm_times: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------

    def start(self) -> None:
        t0 = time.perf_counter()
        from flink_demo_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        from flink_demo_spark.plans import REGISTRY, bench_queries

        bench_queries()  # imports every plan module
        self.registry = REGISTRY
        t2 = time.perf_counter()
        self.setup["session.start_s"] = t1 - t0
        self.setup["session.registry_import_s"] = t2 - t1

    def warm_up(self) -> None:
        """The untimed pass that collects and checks every result, which
        ends set-up, then one untimed pass like the timed passes: a fresh
        JVM is still compiling Spark's hot paths after one pass. Only the
        Spark side counts as set-up: the oracle queries and comparisons
        are left out."""
        import oracle

        con = oracle.connect(self.sf_dir)
        t0 = time.perf_counter()
        oracle_s = 0.0
        try:
            for name in self.order():
                self.attempted += 1
                tq = time.perf_counter()
                try:
                    got = self.registry[name].fn(self.spark, self.sf_dir).toPandas()
                    t_check = time.perf_counter()
                    self.warm_times[name] = t_check - tq
                    why = oracle.mismatch(name, got, con)
                    oracle_s += time.perf_counter() - t_check
                except Exception:
                    why = traceback.format_exc(limit=3)
                finally:
                    self.spark.catalog.clearCache()
                if why is not None:
                    self.fail(name, why)
        finally:
            con.close()
        t1 = time.perf_counter()
        self.setup["session.warm_pass_s"] = t1 - t0 - oracle_s
        self.setup_s = t1 - T_PROCESS - oracle_s
        self.timed_pass(self.order())

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.broken.add(name)
        self.errors.append(f"{name}: {why}")
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)

    def order(self) -> list[str]:
        names = [n for n in self.queries if n not in self.broken]
        self.rng.shuffle(names)
        return names

    # -- timed passes -----------------------------------------------------

    def passes(self, one_pass) -> list:
        out = []
        t0 = time.perf_counter()
        while len(out) < MIN_PASSES or time.perf_counter() - t0 < self.seconds:
            out.append(one_pass(self.order()))
        return out

    def timed_pass(self, names: list[str]) -> tuple[float, dict[str, float]]:
        per_query = {}
        t0 = time.perf_counter()
        for name in names:
            self.attempted += 1
            tq = time.perf_counter()
            try:
                df = self.registry[name].fn(self.spark, self.sf_dir)
                df.write.mode("overwrite").format("noop").save()
                per_query[name] = time.perf_counter() - tq
            except Exception:
                self.fail(name, traceback.format_exc(limit=3))
            finally:
                self.spark.catalog.clearCache()
        return time.perf_counter() - t0, per_query

    # -- traced passes ----------------------------------------------------

    def start_tracing(self) -> None:
        from probes import ProgressListener, StatusProbe

        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)
        self.probe = StatusProbe(self.spark)
        self.tracer = Tracer()

    def traced_pass(self, names: list[str]) -> tuple[float, dict[str, float], dict]:
        from probes import SQL_KEYS, STAGE_KEYS

        tr, probe = self.tracer, self.probe
        first_span = len(tr.spans)
        c = dict.fromkeys(
            (*STAGE_KEYS, *SQL_KEYS, *PHASE_KEYS.values(), *PASS_COUNTERS), 0.0
        )
        per_query = {}
        t0 = time.perf_counter()
        for name in names:
            self.attempted += 1
            q = tr.start(f"query.{name}")
            try:
                known_runs = self.listener.run_ids()
                b = tr.start("plans.build", q)
                df = self.registry[name].fn(self.spark, self.sf_dir)
                tr.end(b)
                d = tr.start("trace.drain", q)
                probe.wait_idle()
                runs = self.listener.drain(self.listener.run_ids() - known_runs)
                jobs, eager = probe.new_jobs()
                stages = probe.new_stages()
                tr.end(d)
                self.add_batches(runs, b, c)
                cp = tr.start("catalyst.plan", q)
                df._jdf.queryExecution().executedPlan()
                tr.end(cp)
                w = tr.start("sinks.write", q)
                df.write.mode("overwrite").format("noop").save()
                tr.end(w)
                d = tr.start("trace.drain", q)
                probe.wait_idle()
                write_jobs, _ = probe.new_jobs()
                write_stages = probe.new_stages()
                sql = probe.new_sql_metrics()
                tr.end(d)
            except Exception:
                tr.end(q)
                self.fail(name, traceback.format_exc(limit=3))
                continue
            finally:
                self.spark.catalog.clearCache()
            tr.end(q)
            span_q = tr.spans[q]
            span_q.attrs.update(
                eager_jobs=eager,
                jobs=jobs + write_jobs,
                stages=stages["exec.stages"] + write_stages["exec.stages"],
                tasks=stages["exec.tasks"] + write_stages["exec.tasks"],
                batches=sum(len(p) for p in runs.values()),
            )
            per_query[name] = span_q.duration
            c["plans.eager_jobs"] += eager
            c["exec.jobs"] += jobs + write_jobs
            c["write.task_run_ms"] += write_stages["exec.task_run_ms"]
            for k in STAGE_KEYS:
                c[k] += stages[k] + write_stages[k]
            for k in SQL_KEYS:
                c[k] += sql[k]
            if runs:
                c["streaming.replay_wall_ms"] += tr.spans[b].duration * 1e3
        wall = time.perf_counter() - t0
        spans = tr.spans[first_span:]
        selfs = self_times(tr.spans)[first_span:]

        def total(span_name: str, self_only: bool = False) -> float:
            return 1e3 * sum(
                (st if self_only else s.duration)
                for s, st in zip(spans, selfs)
                if s.name == span_name
            )

        layers = dict(c)
        layers["plans.build_ms"] = total("plans.build", self_only=True)
        layers["catalyst.plan_ms"] = total("catalyst.plan")
        layers["sinks.write_ms"] = total("sinks.write")
        layers["exec.core_util"] = c["write.task_run_ms"] / (
            layers["sinks.write_ms"] * self.cpus
        )
        layers["streaming.outside_trigger_ms"] = (
            c["streaming.replay_wall_ms"] - c["streaming.trigger_ms"]
        )
        layers["trace.drain_ms"] = total("trace.drain")
        for k in ("write.task_run_ms", "streaming.replay_wall_ms"):
            del layers[k]
        return wall, per_query, layers

    def add_batches(self, runs: dict[str, list], build: int, c: dict) -> None:
        """Micro-batch spans (children of ``plans.build``) and their
        phase spans, rebuilt from progress events. Phases are laid out in
        execution order from the trigger's start."""
        tr = self.tracer
        for run_id, progress in runs.items():
            last_state: list[dict] = []
            for p in progress:
                dur = p["duration_ms"]
                start = tr.from_wall(_epoch(p["timestamp"]))
                trig = dur.get("triggerExecution", 0)
                bspan = tr.add(
                    "streaming.batch", start, start + trig / 1e3, build,
                    run_id=run_id, batch_id=p["batch_id"],
                    input_rows=p["num_input_rows"],
                )
                at = start
                for ph, key in PHASE_KEYS.items():
                    ms = dur.get(ph, 0)
                    tr.add(f"streaming.{ph}", at, at + ms / 1e3, bspan)
                    at += ms / 1e3
                    c[key] += ms
                c["streaming.batches"] += 1
                c["streaming.input_rows"] += p["num_input_rows"]
                c["streaming.trigger_ms"] += trig
                for op in p["state"]:
                    c["state.rows_dropped_by_watermark"] += op[
                        "rows_dropped_by_watermark"
                    ]
                if p["state"]:
                    last_state = p["state"]
            for op in last_state:
                c["state.rows_total"] += op["rows_total"]
                c["state.memory_bytes"] += op["memory_bytes"]
                c["state.shuffle_partitions"] += op["shuffle_partitions"]

    # -- shutdown ---------------------------------------------------------

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF
            gateway.proc.wait(timeout=60)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def isolate(run_dir: str) -> None:
    """Point every scratch path of this run into its own fresh directory
    inside the checkout: Python's and the JVM's temp dirs (stream
    staging lives under ``tempfile.gettempdir()``), Spark's local dirs,
    and the working directory (``spark-warehouse``, ``derby.log``).
    Python workers get the repository root on their import path."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(run_dir)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    for need in ("flink_demo_spark/__init__.py", "tests/oracle_compare.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    sys.path.insert(0, ROOT)
    from flink_demo_spark.catalog import DEFAULT_SF_DIR

    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), SCALE_DIR)
    if not os.path.isdir(sf_dir):
        print(f"perfbench: input tables {sf_dir} not found", file=sys.stderr)
        return 2
    run_dir = os.path.join(
        RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    isolate(run_dir)
    run = Run(args.workload, sf_dir, args.seed, args.seconds, bool(args.trace))
    try:
        run.start()
        run.warm_up()
        if run.trace:
            run.start_tracing()
            passes = run.passes(run.traced_pass)
            layers = {k: median([p[2][k] for p in passes]) for k in passes[0][2]}
            layers.update(run.setup)
            layers["session.jvm_peak_rss_mb"] = run.probe.jvm_peak_rss_mb()
            write_trace(run, passes, layers)
            values = layers
        else:
            passes = run.passes(run.timed_pass)
            values = {"setup_s": run.setup_s, **end_to_end(passes)}
        metrics = {
            k: {"value": v, "unit": units[k]} for k, v in sorted(values.items())
        }
        detail = {
            "setup_s": run.setup_s,
            "setup": run.setup,
            "warm_s": run.warm_times,
            "pass_s": [p[0] for p in passes],
            "query_s": per_query_times(passes),
        }
        print("perfbench-detail " + json.dumps(detail), file=sys.stderr)
    finally:
        run.stop()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def per_query_times(passes: list) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for pass_ in passes:
        for name, dt in pass_[1].items():
            out.setdefault(name, []).append(dt)
    return out


def end_to_end(passes: list) -> dict[str, float]:
    """Pass-level metrics: the median pass wall time and the geometric
    mean of each query's median time."""
    return {
        "pass_s": median([p[0] for p in passes]),
        "query_geomean_ms": geomean(
            [median(ts) * 1e3 for ts in per_query_times(passes).values()]
        ),
    }


def write_trace(run: Run, passes: list, layers: dict) -> None:
    e2e = end_to_end(passes)
    path = os.path.join(RUNS, f"trace-{run.name}-seed{run.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": run.name,
                "seed": run.seed,
                "cpus": run.cpus,
                "setup_s": run.setup_s,
                "setup": run.setup,
                "traced_pass_s": e2e["pass_s"],
                "traced_query_geomean_ms": e2e["query_geomean_ms"],
                "passes": [
                    {"wall_s": w, "queries_s": q, "layers": lay}
                    for w, q, lay in passes
                ],
                "layers": layers,
                "errors": run.errors,
                "spans": run.tracer.to_records(),
            },
            f,
            indent=1,
        )
    print(f"perfbench: trace written to {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
