"""Streaming sources (SURVEY.md §2.1).

- ``events_stream``: file-replay of the pre-stamped events table —
  the Spark analogue of the reference's deterministic ``TestSource``
  (``official-tutorial/.../base/TestSource.java:122-147``), which
  replays elements with explicit event times. Event time comes from
  the data; watermark via ``withWatermark``.
- ``documents_stream`` / ``embeddings_stream``: arrival-order replays
  of the corpus and vector tables.
- ``rate_stream``: synthetic generator (reference
  ``TaxiRideGenerator.java:37-64``, ``ClickEventGenerator.java:50-56``)
  mapped deterministically from the rate source's (timestamp, value).
- ``socket_stream`` / ``kafka_stream``: thin wrappers over the
  built-in connectors (reference Source.scala:99-155).

Staging. The file stream source reads a directory, so every replay
reads a dir under ``$TMPDIR/flink_demo_spark_stream/<sf_dir key>/``.
A table replayed whole (``chunks=1``, no EOF pad) reads a dir holding
one symlink to ``<table>.parquet``. Every other events replay reads a
dir keyed by ``(chunks, pad_hours, source mtime_ns)``, built once:

- ``chunks=1`` copies the source file with its mtime, so the dir keeps
  the bytes its mtime key names after the source is regenerated;
  ``chunks>1`` writes the (ts, event_id)-sorted table as ``chunks``
  equal slices whose mtimes (source mtime + 10 s, + 20 s, ...) fix the
  replay order, so no event is ever late across chunk boundaries.
- ``pad_hours`` adds the EOF sentinel: one row (user_id = -1) stamped
  ``pad_hours`` past the last event, with the newest mtime. It drags
  the final watermark past every gap horizon, so evicting operators
  flush their open state before the replay stops — the bounded-replay
  analogue of Flink's end-of-input MAX_WATERMARK. Derive the pad with
  :func:`eof_pad_hours`.
- A ``_done`` marker is written last; a dir without it is rebuilt. A
  regenerated source (new mtime) or another pad builds a new dir and
  never touches one a concurrent replay may be reading.

``maxFilesPerTrigger=1`` is set iff ``chunks > 1``, so a chunked
replay runs one micro-batch per chunk (plus the sentinel's).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import apply_runtime_confs

def _events_raw_schema(staged_dir: str) -> StructType:
    """Events read schema, matching the parquet physical encoding of
    ``ts``: int64 under nanosAsLong when the file is TIMESTAMP(NANOS),
    TIMESTAMP_NTZ when it is µs-precision without UTC adjustment.

    Sniffs the FIRST parquet file in the staged stream directory (the
    same files the reader consumes — sniffing the origin dir could
    diverge if staging ever rewrites files). Any other ``ts`` encoding
    (tz-adjusted, second/milli precision, non-timestamp) raises
    immediately rather than silently declaring NTZ and failing deep in
    the streaming query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(
        f for f in os.listdir(staged_dir) if f.endswith(".parquet")
    )
    if not files:
        raise FileNotFoundError(f"no parquet files staged in {staged_dir}")
    t = pq.read_schema(os.path.join(staged_dir, files[0])).field("ts").type
    if not pa.types.is_timestamp(t):
        raise TypeError(
            f"events.ts must be a parquet timestamp column, got {t!r}"
        )
    if t.unit == "ns":
        ts_type: object = LongType()  # read raw int64 under nanosAsLong
    elif t.unit == "us" and t.tz is None:
        from pyspark.sql.types import TimestampNTZType

        ts_type = TimestampNTZType()
    else:
        raise TypeError(
            "unsupported events.ts encoding: "
            f"unit={t.unit!r} tz={t.tz!r} (expected ns, or us without "
            "UTC adjustment)"
        )
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def _ensure_symlink(target: str, link: str) -> None:
    """Create/refresh ``link -> target``. ``os.path.exists`` FOLLOWS
    links, so a dangling link (source deleted/regenerated) reads as
    missing while ``os.symlink`` still raises FileExistsError — the
    round-12 ADVICE failure mode where a stale link survived silently.
    Check ``lexists`` first and replace a link that no longer resolves
    (or points elsewhere); on a creation race, verify the winner
    resolves instead of swallowing unconditionally."""
    if os.path.lexists(link):
        if os.path.exists(link) and os.path.realpath(link) == os.path.realpath(
            target
        ):
            return
        os.remove(link)  # dangling or retargeted — rebuild
    try:
        os.symlink(target, link)
    except FileExistsError:
        if not os.path.exists(link):  # racing winner left a broken link
            raise RuntimeError(
                f"staged stream symlink {link!r} does not resolve; "
                f"expected it to point at {target!r}"
            ) from None


def _stage_root(sf_dir: str) -> str:
    key = sf_dir.strip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), "flink_demo_spark_stream", key)


def _stage_stream_dir(sf_dir: str, table: str) -> str:
    """Spark's file stream source requires a directory; stage a /tmp
    dir holding a symlink to the single parquet file."""
    d = os.path.join(_stage_root(sf_dir), table)
    os.makedirs(d, exist_ok=True)
    _ensure_symlink(
        os.path.join(sf_dir, f"{table}.parquet"),
        os.path.join(d, f"{table}.parquet"),
    )
    return d


def eof_pad_hours(gap_ms: int, watermark_ms: int = 600_000) -> int:
    """Sentinel pad (hours) guaranteed to clear an evicting operator's
    flush horizon. The EOF row only flushes open state if it drags the
    final watermark past ``last_event + gap``, which needs
    ``pad > gap + watermark delay`` — with a fixed pad the relation is
    implicit, and raising the gap past ``pad - watermark`` would
    silently drop every key's final session instead of failing
    (round-12 ADVICE). Callers composing an EOF source with an
    evicting operator should derive the pad from the SAME gap constant
    they pass the operator."""
    import math

    return int(math.ceil((gap_ms + watermark_ms) / 3_600_000.0)) + 1


def _write_parquet_atomic(table: "pyarrow.Table", path: str, mtime: float) -> None:
    """Write ``table`` to ``path`` stamped ``mtime`` via a pid-suffixed
    dot-file and ``os.replace``: racing stagers of one version write
    byte-identical files, and the file stream source skips dot-files,
    so a replay never lists a half-written one."""
    import pyarrow.parquet as pq

    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp{os.getpid()}")
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def _copy_file_atomic(src: str, path: str) -> None:
    """Copy ``src`` to ``path`` with its mtime via a pid-suffixed
    dot-file and ``os.replace``. A symlink or a hard link would show a
    regenerated source's bytes: ``pyarrow.parquet.write_table`` rewrites
    an existing file in place (same inode), which a hard link follows."""
    import shutil

    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp{os.getpid()}")
    shutil.copy2(src, tmp)
    os.replace(tmp, path)


def _write_eof_sentinel(
    path: str,
    schema: "pyarrow.Schema",
    max_ts: "datetime.datetime",
    pad_hours: int,
    mtime: float,
) -> None:
    """Write the one-row EOF sentinel (user_id = -1, stamped
    ``pad_hours`` past ``max_ts``) with the events file's physical
    ``schema`` (incl. the ns timestamp encoding), so the stream
    reader's sniffed schema reads it with the data files."""
    import datetime

    import pyarrow as pa

    cols = {
        "event_id": [-1],
        "ts": [max_ts + datetime.timedelta(hours=pad_hours)],
        "user_id": [-1],
        "event_type": ["eof"],
        "value": [0.0],
        "props": ["{}"],
    }
    _write_parquet_atomic(
        pa.table(
            {f.name: pa.array(cols[f.name], type=f.type) for f in schema},
            schema=schema,
        ),
        path,
        mtime,
    )


def _stage_events(sf_dir: str, chunks: int, pad_hours: int | None) -> str:
    """Stage the events replay directory under the module's staging
    rule and return it."""
    if chunks == 1 and pad_hours is None:
        return _stage_stream_dir(sf_dir, "events")
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    real = os.path.join(sf_dir, "events.parquet")
    src_mtime = os.stat(real).st_mtime_ns
    eof = "" if pad_hours is None else f"_eof{pad_hours}h"
    d = os.path.join(_stage_root(sf_dir), f"events_c{chunks}{eof}_v{src_mtime}")
    done = os.path.join(d, "_done")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    # deterministic mtimes (replay order for the file stream source):
    # derived from the source mtime, not wall clock, so concurrent
    # builders of the same version agree exactly
    base = src_mtime / 1e9
    if chunks == 1:
        staged = os.path.join(d, "events.parquet")
        _copy_file_atomic(real, staged)
        t = pq.read_table(staged, columns=["ts"])
        schema = pq.read_schema(staged)
    else:
        t = pq.read_table(real)
        t = t.take(
            pc.sort_indices(
                t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
            )
        )
        schema = t.schema
        cuts = [t.num_rows * i // chunks for i in range(chunks + 1)]
        for i in range(chunks):
            _write_parquet_atomic(
                t.slice(cuts[i], cuts[i + 1] - cuts[i]),
                os.path.join(d, f"chunk{i:02d}.parquet"),
                base + 10 * (i + 1),
            )
    if pad_hours is not None:
        _write_eof_sentinel(
            os.path.join(d, "zz_eof.parquet"),
            schema,
            pc.max(t.column("ts")).as_py(),
            pad_hours,
            base + 10 * (chunks + 2),
        )
    with open(done, "w") as f:
        f.write("ok\n")
    return d


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    watermark: str | None = "10 minutes",
    chunks: int = 1,
    pad_hours: int | None = None,
) -> DataFrame:
    """Replay the events table as a stream with its event-time column:
    ``chunks`` time-ordered files, one per trigger when ``chunks > 1``,
    plus an EOF sentinel row ``pad_hours`` past the last event when a
    pad is given (consumers filter ``user_id >= 0``). Staging is
    described in the module docstring."""
    from ..catalog import normalize_events_ts

    if chunks < 1:
        raise ValueError(f"chunks must be >= 1, got {chunks}")
    apply_runtime_confs(spark)
    staged = _stage_events(sf_dir, chunks, pad_hours)
    reader = spark.readStream.schema(_events_raw_schema(staged))
    if chunks > 1:
        reader = reader.option("maxFilesPerTrigger", 1)
    df = normalize_events_ts(reader.parquet(staged))
    if watermark:
        df = df.withWatermark("ts", watermark)
    return df


def _file_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    schema: StructType,
    scan_guard: bool,
) -> DataFrame:
    """Replay ``table`` as an arrival-order stream (no event-time
    column). The staged replay is ONE parquet file written as ONE row
    group, and Spark cannot split a scan below a row group, so every
    per-row stage before the first shuffle runs on a single core.
    ``scan_guard=True`` repartitions the raw feed to the session's
    shuffle partition count — one projected-row exchange that buys
    full-width execution of heavy per-row work (measured: documents
    6.6 -> 3.3 s on the 1.6 MB sf0.1 file, embeddings 2.2x at a 3.6 MB
    sf1 file; SCALING.md round 12).

    The exchange is a round-robin ``repartition(n)``, which is NOT
    deterministic across task retries — fine for the bounded
    availableNow replays these sources feed (a retry reruns the whole
    batch), but an always-on pipeline writing through a
    transactional/2PC sink should repartition by a stable key column
    to keep exactly-once under partial retry."""
    apply_runtime_confs(spark)
    df = spark.readStream.schema(schema).parquet(_stage_stream_dir(sf_dir, table))
    if scan_guard:
        df = df.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    return df


def documents_stream(
    spark: SparkSession, sf_dir: str, scan_guard: bool = False
) -> DataFrame:
    """Replay the documents table as a stream — corpus pipelines
    consume document feeds in arrival order. See :func:`_file_stream`
    for ``scan_guard``."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    return _file_stream(spark, sf_dir, "documents", schema, scan_guard)


def embeddings_stream(
    spark: SparkSession, sf_dir: str, scan_guard: bool = False
) -> DataFrame:
    """Replay the embeddings table as a stream — the query-vector feed
    of an online vector-search service (ANN serving is arrival-order).
    See :func:`_file_stream` for ``scan_guard``."""
    from pyspark.sql.types import ArrayType, FloatType, IntegerType

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    return _file_stream(spark, sf_dir, "embeddings", schema, scan_guard)


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Built-in rate source: (timestamp, value) rows."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def click_stream(
    spark: SparkSession,
    pages: tuple[str, ...] = ("/help", "/index", "/shop", "/jobs", "/about", "/news"),
    rows_per_second: int = 1000,
) -> DataFrame:
    """Deterministic click generator: round-robin pages over the rate
    source — reproduces the reference's invariant that every page gets
    the same number of events per time window
    (ClickEventGenerator.java:43-56)."""
    pages_arr = F.array(*[F.lit(p) for p in pages])
    return rate_stream(spark, rows_per_second).select(
        F.col("timestamp").alias("ts"),
        F.element_at(pages_arr, (F.col("value") % len(pages)).cast("int") + 1).alias(
            "page"
        ),
    )


def socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


# Kafka surface lives in sources/kafka.py (option builders, wire
# codec, file-backed stand-in, lazy connector wrappers)
from .kafka import kafka_stream  # noqa: E402, F401
