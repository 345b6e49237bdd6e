"""Table catalog for the synthetic test schema.

Mirrors the reference's catalog/DDL layer (``CreateTest.scala:62-334``
declares tables with computed columns + watermarks); here the schema
is fixed parquet, so "DDL" is a loader that normalizes types and
exposes canonical temp views.

Tables (see /root/repo/TESTDATA.md): region nation customer supplier
part orders lineitem events documents embeddings.

The only normalization needed: ``events.ts`` arrives either as
parquet TIMESTAMP(NANOS) — Spark reads it as int64 nanos under
``spark.sql.legacy.parquet.nanosAsLong``, truncate ns -> µs — or as
TIMESTAMP(MICROS) without UTC adjustment, which Spark reads as
TIMESTAMP_NTZ. Both normalize to session-tz TimestampType (session
tz is pinned to UTC) so plans and DuckDB oracles (``ts`` is a naive
TIMESTAMP there) agree byte-for-byte.

Schema memo: a parquet read without a schema makes Spark infer one
with a one-task job (``ParquetUtils.inferSchema`` reading footers),
and a query plan loads several tables, so each plan build would run
one Spark job per table load. ``load_table`` reads with the schema Spark
inferred the first time it read the same file version under the same
inference confs, which launches no job. The memo key is
- the file's identity: realpath, inode, size and ``st_mtime_ns``; a
  directory table adds each file's relative name, size and mtime, so
  an in-place rewrite or a ``mode("overwrite")`` re-infers (a rewrite
  that keeps both the size and the mtime to the nanosecond does not);
- the session values of :data:`_INFERENCE_CONFS`, the confs that
  change what parquet inference returns.
A path that ``os.stat`` cannot see (a non-local URI) is read with
inference on every call. The memo holds at most
:data:`_SCHEMA_MEMO_MAX` entries, oldest evicted first.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from .session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# small dimension tables that should always be broadcast in joins
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_MEMO_MAX = 64
_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _file_identity(path: str) -> tuple | None:
    """(realpath, inode, size, mtime_ns) of ``path``, plus each file's
    (relative name, size, mtime_ns) when it is a directory; None when
    it cannot be stat-ed."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
        ident: tuple = (real, st.st_ino, st.st_size, st.st_mtime_ns)
        if stat.S_ISDIR(st.st_mode):
            files = []
            for root, _dirs, names in os.walk(real):
                for n in names:
                    f = os.path.join(root, n)
                    fs = os.stat(f)
                    files.append((os.path.relpath(f, real), fs.st_size, fs.st_mtime_ns))
            ident += (tuple(sorted(files)),)
        return ident
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the memoized schema of this file
    version (see the module docstring); infers and memoizes on a miss."""
    ident = _file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    key = (ident, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    with _schemas_lock:
        schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas[key] = df.schema
        while len(_schemas) > _SCHEMA_MEMO_MAX:
            _schemas.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame with normalized types."""
    apply_runtime_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType regardless of the
    parquet physical encoding (int64 nanos under nanosAsLong, or
    TIMESTAMP_NTZ from a µs-precision file). UTC session tz makes the
    NTZ -> TZ cast wall-clock-preserving."""
    from pyspark.sql.types import TimestampType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # `div` truncates ns -> µs like DuckDB's TIMESTAMP_NS cast
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(dt, TimestampType):
        return df
    # anything else (e.g. StringType from a malformed file) would fail
    # far downstream with a confusing watermark/comparison error —
    # catch encoding drift at load time instead
    raise TypeError(f"events.ts has unsupported dtype {dt!r}")


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Expose tables as temp views (canonical names) for spark.sql use."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
