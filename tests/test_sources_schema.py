"""Failure-mode tests for the events schema/encoding guards
(ADVICE r2 lows): the staged-dir sniffer in sources/streams.py and
the load-time ts normalization in catalog.py must refuse unexpected
encodings loudly instead of mis-declaring them and failing deep
inside a streaming query."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from flink_demo_spark import catalog
from flink_demo_spark.catalog import load_table, normalize_events_ts
from flink_demo_spark.sources.streams import _events_raw_schema

from .conftest import spark_jobs


def _write_events_parquet(d: str, ts_type: pa.DataType, name="events.parquet"):
    if pa.types.is_timestamp(ts_type):
        ts_vals = pa.array(
            [dt.datetime(2024, 1, 1, 0, 0, i) for i in range(3)], ts_type
        )
    else:
        ts_vals = pa.array(["a", "b", "c"], ts_type)
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts_vals,
            "user_id": pa.array([1, 1, 2], pa.int64()),
            "event_type": pa.array(["view"] * 3, pa.string()),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}"] * 3, pa.string()),
        }
    )
    pq.write_table(t, os.path.join(d, name))


def test_raw_schema_nanos_reads_as_long(tmp_path):
    _write_events_parquet(str(tmp_path), pa.timestamp("ns"))
    schema = _events_raw_schema(str(tmp_path))
    assert isinstance(schema["ts"].dataType, LongType)


def test_raw_schema_micros_ntz_reads_as_ntz(tmp_path):
    _write_events_parquet(str(tmp_path), pa.timestamp("us"))
    schema = _events_raw_schema(str(tmp_path))
    assert isinstance(schema["ts"].dataType, TimestampNTZType)


def test_raw_schema_rejects_millis(tmp_path):
    _write_events_parquet(str(tmp_path), pa.timestamp("ms"))
    with pytest.raises(TypeError, match="unsupported events.ts encoding"):
        _events_raw_schema(str(tmp_path))


def test_raw_schema_rejects_tz_adjusted_micros(tmp_path):
    _write_events_parquet(str(tmp_path), pa.timestamp("us", tz="UTC"))
    with pytest.raises(TypeError, match="unsupported events.ts encoding"):
        _events_raw_schema(str(tmp_path))


def test_raw_schema_rejects_non_timestamp(tmp_path):
    _write_events_parquet(str(tmp_path), pa.string())
    with pytest.raises(TypeError, match="timestamp column"):
        _events_raw_schema(str(tmp_path))


def test_raw_schema_rejects_empty_dir(tmp_path):
    with pytest.raises(FileNotFoundError):
        _events_raw_schema(str(tmp_path))


def test_normalize_ts_nanos_long_truncates_to_micros(spark):
    # 1700000000 s + 1234567 ns -> µs truncation (DuckDB TIMESTAMP_NS cast)
    df = spark.createDataFrame(
        [(1, 1_700_000_000_001_234_567)], "event_id long, ts long"
    )
    out = normalize_events_ts(df)
    assert out.schema["ts"].dataType.typeName() == "timestamp"
    got = out.collect()[0].ts
    assert got.microsecond == 1234


def test_normalize_ts_passthrough_and_ntz_cast(spark):
    df_ts = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "event_id long, ts timestamp"
    )
    assert normalize_events_ts(df_ts) is df_ts
    df_ntz = spark.sql(
        "SELECT 1 AS event_id, TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts"
    )
    out = normalize_events_ts(df_ntz)
    assert out.schema["ts"].dataType.typeName() == "timestamp"


def test_normalize_ts_rejects_string(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01")], "event_id long, ts string"
    )
    with pytest.raises(TypeError, match="unsupported dtype"):
        normalize_events_ts(df)


def test_planstats_estimate_override_and_fallback(spark):
    """estimated_plan_bytes: real estimate > 0, conf override wins,
    and a broken frame degrades to the default with a warning."""
    import warnings

    from flink_demo_spark.operators import _planstats
    from flink_demo_spark.operators._planstats import estimated_plan_bytes

    df = spark.range(100)
    n = estimated_plan_bytes(df, default=7)
    assert n > 0 and n != 7
    spark.conf.set("spark.flinkDemoSpark.planStats.overrideBytes", "12345")
    try:
        assert estimated_plan_bytes(df, default=7) == 12345
    finally:
        spark.conf.unset("spark.flinkDemoSpark.planStats.overrideBytes")

    class Broken:
        sparkSession = spark

        @property
        def _jdf(self):
            raise RuntimeError("private API gone")

    _planstats._warned = False
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert estimated_plan_bytes(Broken(), default=99) == 99
    assert any("planStats.overrideBytes" in str(x.message) for x in w)


def test_wds_tar_shards_byte_deterministic(spark, sf_dir, tmp_path):
    """Two independent shard writes of the same frame must produce
    byte-identical tars (zeroed tar metadata, key-sorted members,
    stable key->shard map) — the property that makes shard-level
    checksums usable for incremental corpus syncs."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.sources import wds

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "UTF-8").alias("tb"),
        F.encode("lang", "UTF-8").alias("lb"),
    )
    sums = []
    for run in ("a", "b"):
        out = str(tmp_path / run)
        wds.write_tar_shards(docs, out, "doc_id", {"txt": "tb", "cls": "lb"}, 3)
        names = sorted(os.listdir(out))
        assert names == [f"shard-{i:05d}.tar" for i in range(3)]
        sums.append(
            [hashlib.sha256(open(os.path.join(out, n), "rb").read()).hexdigest()
             for n in names]
        )
    assert sums[0] == sums[1]


def test_wds_tar_shards_negative_keys_and_stale_cleanup(spark, tmp_path):
    """Negative keys must land in valid shards (pmod, not %) with
    well-formed non-negative member names, and a re-write with fewer
    shards must clear the prior run's stale tars (round-8 ADVICE)."""
    import os

    from pyspark.sql import functions as F

    from flink_demo_spark.sources import wds

    df = spark.createDataFrame(
        [(-5, b"m5"), (-1, b"m1"), (0, b"z"), (7, b"p7")], "k long, payload binary"
    ).select("k", F.col("payload").alias("pb"))
    out = str(tmp_path / "neg")
    wds.write_tar_shards(df, out, "k", {"bin": "pb"}, num_shards=4)
    # pmod: -5 -> 3, -1 -> 3, 0 -> 0, 7 -> 3 (only populated shards exist;
    # with % the negatives would have produced "shard--0001.tar" etc.)
    names = sorted(os.listdir(out))
    assert names == ["shard-00000.tar", "shard-00003.tar"]
    members = wds.read_tar_shards(spark, os.path.join(out, "*.tar"))
    keys = sorted(r.key for r in members.collect())
    assert all(not k.startswith("-") and len(k) == 12 for k in keys)
    assert len(keys) == 4
    # stale cleanup: re-write the same dir with 2 shards; the old
    # shard-00002/3 tars must be gone, not picked up by the glob
    wds.write_tar_shards(df, out, "k", {"bin": "pb"}, num_shards=2)
    # -5 -> 1, -1 -> 1, 0 -> 0, 7 -> 1; shard-00003.tar must be GONE
    assert sorted(os.listdir(out)) == ["shard-00000.tar", "shard-00001.tar"]
    assert wds.read_tar_shards(spark, os.path.join(out, "*.tar")).count() == 4


# -- catalog schema memo: one inference per file version ---------------


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_second_load_launches_no_job(spark, tmp_path):
    _write_events_parquet(str(tmp_path), pa.timestamp("us"))
    with spark_jobs(spark) as first:
        load_table(spark, str(tmp_path), "events")
    with spark_jobs(spark) as second:
        df = load_table(spark, str(tmp_path), "events")
    assert first[0] >= 1  # Spark's own inference job
    assert second == [0]
    assert df.count() == 3


def test_rewrite_in_place_reinfers(spark, tmp_path):
    """ns -> µs NTZ rewrite of the same inode: the next load re-infers
    and normalize_events_ts takes the NTZ branch."""
    d = str(tmp_path)
    path = os.path.join(d, "events.parquet")
    _write_events_parquet(d, pa.timestamp("ns"))
    before = os.stat(path)
    ns = load_table(spark, d, "events")
    assert "timestamp_micros" in _analyzed(ns)
    want = ns.select("ts").collect()
    _write_events_parquet(d, pa.timestamp("us"))
    after = os.stat(path)
    assert after.st_ino == before.st_ino
    us = load_table(spark, d, "events")
    plan = _analyzed(us)
    assert "timestamp_micros" not in plan and "cast(ts#" in plan
    assert us.select("ts").collect() == want


def test_overwritten_directory_table_reinfers(spark, tmp_path):
    d = str(tmp_path)
    spark.range(3).write.mode("overwrite").parquet(f"{d}/t.parquet")
    assert load_table(spark, d, "t").columns == ["id"]
    spark.range(3).withColumn("x", F.lit("a")).write.mode("overwrite").parquet(
        f"{d}/t.parquet"
    )
    t = load_table(spark, d, "t")
    assert t.columns == ["id", "x"]
    assert t.where("x = 'a'").count() == 3


def test_nanos_as_long_toggle_reinfers(spark, tmp_path):
    _write_events_parquet(str(tmp_path), pa.timestamp("ns"))
    path = str(tmp_path / "events.parquet")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert isinstance(catalog._read_parquet(spark, path).schema["ts"].dataType, LongType)
    spark.conf.set(key, "false")
    try:
        # a memo hit would hand back the LongType schema; inference
        # under the new conf refuses the nanos column instead
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            catalog._read_parquet(spark, path)
    finally:
        spark.conf.set(key, "true")


def test_unstatable_path_infers_on_every_read(spark, tmp_path):
    _write_events_parquet(str(tmp_path), pa.timestamp("us"))
    uri = f"file://{tmp_path}"
    assert catalog._file_identity(f"{uri}/events.parquet") is None
    for _ in range(2):
        with spark_jobs(spark) as jobs:
            df = load_table(spark, uri, "events")
        assert jobs[0] >= 1
    assert df.count() == 3


def test_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_MAX", 2)
    for i in range(3):
        spark.range(i + 1).write.parquet(f"{tmp_path}/t{i}.parquet")
        load_table(spark, str(tmp_path), f"t{i}")
    assert len(catalog._schemas) == 2
    with spark_jobs(spark) as jobs:
        load_table(spark, str(tmp_path), "t2")
    assert jobs == [0]
