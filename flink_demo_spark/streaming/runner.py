"""Run a streaming DataFrame to completion and collect the result.

Spark analogue of the reference's collecting ``TestSink``
(``official-tutorial/src/test/java/.../base/TestSink.java:156-165``):
memory sink + ``availableNow`` trigger processes all currently
available input and stops — the bounded-replay execution the
reference gets from ``RuntimeExecutionMode.BATCH``.

Replay sizing policy, decided here and nowhere else. The input size
is the total parquet bytes under every file-stream leaf of the
replay's own analyzed plan (:func:`replay_input_bytes`); batch leaves
of stream-static joins do not count, and any other streaming leaf
(rate, socket, kafka) makes the size unknown.

- Partitions. A streaming aggregation's state-store partition count
  is frozen from ``spark.sql.shuffle.partitions`` at the first
  micro-batch and AQE cannot coalesce it, so a replay of a few MB
  would otherwise pay the full session count in state-store commits
  and task launches per micro-batch. The replay runs with
  ``min(session, max(min(8, slots), ceil(bytes / divisor)))``
  partitions, ``slots`` being Spark's ``defaultParallelism``, and the
  session value is restored afterwards. The measured optima invert
  with the stage kind, hence two divisors:

  - JVM-only stateful plans are state-commit-bound: 8 partitions beat
    32 at sf0.1 (1.553 → 1.023 s min, 5/5 interleaved pairs) and
    still beat 12 and 32 at a 10x events replica of 11.6 MiB
    (2.90 vs 3.46 / 4.73 s min, 4/4 pairs) → 8 MiB per partition.
  - Plans with a Python stage (``*InPandas*``, ``*InArrow*``, Python
    UDFs) are per-row-CPU-bound past the smallest inputs: 8 beat 32 at
    sf0.1 (4.23 → 2.44 s min) but at the 10x replica 32 beat 12 beat 8
    (3.83 / 4.88 / 6.52 s min) → 256 KiB per partition, which lands
    on both optima.

  The floor is one wave of task slots. Each stateful partition pays a
  fixed commit per micro-batch: the state store's delta file and its
  checksum write. Sampled task-thread stacks of floor-8 replays
  (``streaming_window_hourly`` and ``streaming_allowed_lateness``, 211
  busy samples): 58 in state-store code, most often waiting in
  ``ChecksumCheckpointFileManager.awaitResult``; 102 in a socket poll
  (the Python worker); 51 elsewhere. The checksum
  (``spark.sql.streaming.checkpoint.fileChecksum.enabled``) is an
  integrity check and stays on. With fewer slots than partitions the
  commit is paid in a second wave, so the floor is ``min(8, slots)``;
  a host with 8 or more slots keeps the floor of 8 measured above.
  At sf0.01 on 4 slots (``local[4]``), floor 8 → 4, 7 interleaved
  pairs, medians (every pair won by 4; stateful stage tasks / stage
  wall / summed task-run time / CPU):

  - ``streaming_window_hourly``: 1.11 → 0.97 s; 8 / 383 / 1280 /
    192 ms → 4 / 202 / 657 / 96 ms.
  - ``streaming_hotitems_topn``: 1.23 → 1.06 s; 8 / 360 / 1262 /
    156 ms → 4 / 182 / 613 / 79 ms.
  - ``streaming_allowed_lateness`` (applyInPandasWithState): 1.99 →
    1.50 s; 8 / 1297 / 4448 / 289 ms → 4 / 709 / 2403 / 159 ms.

  Task-run time is several times CPU time, and halving the partitions
  halves both: the stage waits on per-partition commits, not on work.
  Floors 2 and 1 (6 interleaved rounds) were within noise of 4:
  ``streaming_allowed_lateness`` 1.65 / 1.49 / 1.69 s and
  ``streaming_window_hourly`` 0.99 / 0.98 / 0.92 s at 4 / 2 / 1.
  End to end, perfbench ``stream_replay`` (the three replays above,
  4 slots, two sets of 10 alternating pairs): pass median 6.06 → 4.72
  s and 4.88 → 4.03 s, every pair won by floor 4.

  The count never rises above the session value, so a session already
  at the floor is untouched and a huge replay keeps the session count.
  A non-integer session value (a vendor "auto") and an unknown size
  skip the clamp.
- Scratch. Replay checkpoints are throwaway (nothing restarts from
  them), and Spark's default temp checkpoint under java.io.tmpdir pays
  durable-store file I/O per micro-batch (memory-backed scratch
  measured −7% on the stateful availableNow floor, 4/4 interleaved
  pairs). So a replay of known size up to 1 GiB checkpoints under
  ``/dev/shm`` when the host has it; tmpfs is RAM-backed and replay
  state grows with the input, so larger or unknown-size replays keep
  Spark's disk default. ``SPARK_GRAFT_STREAM_SCRATCH`` names a scratch
  root that is used unconditionally; an explicit ``checkpoint_dir``
  (a durable pipeline) bypasses scratch altogether.

Replays mutate the session-global partition count for their duration,
so run them one at a time per session.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

_MIN_PARTITIONS = 8
_JVM_BYTES_PER_PARTITION = 8 << 20
_PYTHON_BYTES_PER_PARTITION = 256 << 10
_PYTHON_STAGE_NODES = ("InPandas", "InArrow", "PythonUDF", "EvalPython")
_SHM_MAX_BYTES = 1 << 30


def staged_parquet_bytes(staged_dir: str) -> int:
    """Total bytes of the parquet files in a staged stream dir (symlinks
    followed)."""
    return sum(
        os.path.getsize(os.path.join(staged_dir, f))
        for f in os.listdir(staged_dir)
        if f.endswith(".parquet")
    )


def replay_input_bytes(sdf: DataFrame) -> int | None:
    """Parquet bytes under every file-stream leaf of ``sdf``'s analyzed
    plan, summed per leaf (a dir read through two leaves counts
    twice); ``None`` when a streaming leaf is not a parquet directory
    source."""
    leaves = sdf._jdf.queryExecution().analyzed().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.isStreaming():
            continue
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            return None
        source = leaf.dataSource()
        path = source.options().get("path")
        if (
            source.className() != "parquet"
            or path.isEmpty()
            or not os.path.isdir(path.get())
        ):
            return None
        total += staged_parquet_bytes(path.get())
    return total


def replay_partitions(
    session: str, input_bytes: int | None, python_stage: bool, slots: int
) -> str:
    """The replay's ``spark.sql.shuffle.partitions`` under the module
    policy, given the session value and the cluster's task slots."""
    if input_bytes is None:
        return session
    try:
        cur = int(session)
    except ValueError:
        return session
    per = _PYTHON_BYTES_PER_PARTITION if python_stage else _JVM_BYTES_PER_PARTITION
    floor = min(_MIN_PARTITIONS, slots)
    return str(min(cur, max(floor, -(-input_bytes // per))))


def replay_scratch_root(input_bytes: int | None) -> str | None:
    """Root for the replay's throwaway checkpoint under the module
    policy; ``None`` means Spark's disk default."""
    root = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if root is not None:
        return root
    if input_bytes is not None and input_bytes <= _SHM_MAX_BYTES:
        if os.path.isdir("/dev/shm"):
            return "/dev/shm"
    return None


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "complete",
    timeout_sec: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming DF to a memory sink; return the result
    table. ``checkpoint_dir`` persists state/offsets — required when
    the state will be read back via streaming/state_query.py.
    ``timeout_sec`` defaults to ``SPARK_GRAFT_STREAM_TIMEOUT_SEC``
    (300 s, enough for every gate and bench scale). The sink's temp
    view is dropped on the way out, failed replays included: the
    returned frame holds the sink's rows, which go with it instead of
    living as long as the session.

    The returned frame re-aliases every sink column. Spark cannot give
    the sink's ``MemoryPlan`` leaf fresh attribute ids, so a join of
    the bare sink table with a frame derived from it fails with
    "Conflicting attributes"; an aliasing projection is something it
    can re-instance, and the optimizer collapses it."""
    if timeout_sec is None:
        timeout_sec = int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT_SEC", "300"))
    name = f"mem_{uuid.uuid4().hex[:12]}"
    spark: SparkSession = sdf.sparkSession
    input_bytes = replay_input_bytes(sdf)
    session_parts = spark.conf.get("spark.sql.shuffle.partitions")
    plan = sdf._jdf.queryExecution().analyzed().toString()
    parts = replay_partitions(
        session_parts,
        input_bytes,
        any(t in plan for t in _PYTHON_STAGE_NODES),
        spark.sparkContext.defaultParallelism,
    )
    writer = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    scratch = None
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    elif (root := replay_scratch_root(input_bytes)) is not None:
        scratch = tempfile.mkdtemp(prefix="fds_ck_", dir=root)
        writer = writer.option("checkpointLocation", scratch)
    q = None
    if parts != session_parts:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        q = writer.start()
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"streaming query {name!r} did not finish within "
                f"{timeout_sec}s; memory table would be truncated"
            )
        table = spark.table(name)
        return table.toDF(*table.columns)
    finally:
        if q is not None and q.isActive:
            q.stop()
        spark.catalog.dropTempView(name)
        if scratch is not None:
            shutil.rmtree(scratch, ignore_errors=True)
        if parts != session_parts:
            spark.conf.set("spark.sql.shuffle.partitions", session_parts)
