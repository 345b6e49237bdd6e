"""Scale-technique tests: salting and bucketing change the physical
plan without changing results."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_demo_spark.catalog import load_table
from flink_demo_spark.operators.skew import bucketed_table, salted_agg, salted_join
from flink_demo_spark.plans._util import first_vectors


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = (
        orders.join(cust, "o_custkey")
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    salted = (
        salted_join(orders, cust, "o_custkey", salt=8)
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plain = {
        (r.event_type): (r.n, round(r.total, 2))
        for r in ev.groupBy(F.col("event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total"),
        )
        .collect()
    }
    two_phase = {
        r.event_type: (r.n, round(r.total, 2))
        for r in salted_agg(ev, "event_type", "value", salt=16).collect()
    }
    assert plain == two_phase


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Two tables bucketed on the join key: the join plan must contain
    no shuffle Exchange (the co-located join the reference gets from
    partitionByHash, DataSetFunc.scala:546-617). Broadcast is disabled
    so the planner must pick the bucket-aware sort-merge join."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    b_orders = bucketed_table(spark, orders, "b_orders", "o_orderkey", 8)
    b_li = bucketed_table(spark, li, "b_lineitem", "o_orderkey", 8)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = b_orders.join(b_li, "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed join must not shuffle:\n{plan[:800]}"
        )
        assert "SortMergeJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_kmeans_update_partition_order_invariant(spark, sf_dir):
    """The DECIMAL-accumulated centroid update must be bit-identical
    under any partitioning/ordering of the input — that order
    independence is the entire basis for oracle-checking a clustering
    (VERDICT round 6). Float-sum means would fail this test."""
    from flink_demo_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = similarity.ivf_assign(
        emb,
        first_vectors(emb, 8),
    )
    base = similarity.kmeans_update(assigned)
    for layout in (
        assigned.repartition(7),
        assigned.repartition(3, "vec_id"),
        assigned.coalesce(1),
        assigned.orderBy(F.col("vec_id").desc()),
    ):
        assert similarity.kmeans_update(layout) == base


def test_zorder_layout_clusters_files(spark, sf_dir, tmp_path):
    """Z-ordered files must concentrate a box query's matching rows
    in few files (tight per-file min/max on both dims -> stats-based
    skipping), while a hash layout smears them across every file.
    input_file_name() counts the files that actually contain
    matching rows — the quantity parquet stats pruning keys off."""
    from flink_demo_spark.operators.layout import write_zordered, z_value

    ev = load_table(spark, sf_dir, "events")
    hour = F.expr("unix_timestamp(ts) div 3600 % 65536")
    keyed = ev.select(
        "event_id", "user_id", hour.alias("hour_bucket")
    ).withColumn("z", z_value(F.col("user_id"), F.col("hour_bucket")))

    zpath, hpath = str(tmp_path / "zorder"), str(tmp_path / "hashed")
    write_zordered(keyed, zpath, "z", n_files=8)
    keyed.repartition(8).write.mode("overwrite").parquet(hpath)

    # a true BOX query — constrained in BOTH interleaved dimensions
    # (z-order interleaves the dims' bits, so an unconstrained
    # dimension's high bits still spread rows across every z-range;
    # single-dim scans are linear-order territory, documented in
    # operators/layout.py)
    lo, hlo, hhi = keyed.agg(
        F.min("user_id"), F.min("hour_bucket"), F.max("hour_bucket")
    ).collect()[0]
    box = (
        (F.col("user_id") >= lo)
        & (F.col("user_id") < lo + 10)
        & (F.col("hour_bucket") >= hlo)
        & (F.col("hour_bucket") < hlo + max(1, (hhi - hlo) // 8))
    )

    def files_touched(path):
        return (
            spark.read.parquet(path)
            .where(box)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    n_z, n_h = files_touched(zpath), files_touched(hpath)
    assert n_h == 8, n_h  # hash layout: every file has matching rows
    assert n_z <= 4, n_z  # z layout: the box lives in a few z-ranges


def test_z_value_matches_python_morton(spark):
    """Fuzz the column-expression Morton interleave against a direct
    Python bit-twiddling reference over random 16-bit pairs."""
    import random

    from flink_demo_spark.operators.layout import z_value

    rng = random.Random(20260814)
    pairs = [
        (rng.randrange(0, 1 << 16), rng.randrange(0, 1 << 16))
        for _ in range(500)
    ] + [(0, 0), (65535, 65535), (0, 65535), (65535, 0), (1, 2)]

    def morton(a: int, b: int) -> int:
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.withColumn(
            "z", z_value(F.col("a"), F.col("b"))
        ).collect()
    }
    for a, b in pairs:
        assert got[(a, b)] == morton(a, b), (a, b)

def test_hilbert_layout_skips_at_least_as_well_as_zorder(spark, sf_dir, tmp_path):
    """The locality claim, measured: for a panel of box queries over
    Hilbert-clustered vs Z-order-clustered files (same writer, same
    file count), the Hilbert layout touches no more files in total —
    unit-step curve adjacency means a box decomposes into fewer
    contiguous key ranges than Morton's Z-jumps."""
    from flink_demo_spark.operators.layout import (
        hilbert_value,
        write_zordered,
        z_value,
    )

    ev = load_table(spark, sf_dir, "events")
    hour = F.expr("unix_timestamp(ts) div 3600 % 65536")
    base = ev.select("event_id", "user_id", hour.alias("hour_bucket"))
    keyed = base.withColumn(
        "z", z_value(F.col("user_id"), F.col("hour_bucket"))
    ).withColumn("h", hilbert_value(F.col("user_id"), F.col("hour_bucket")))

    zpath, hpath = str(tmp_path / "zorder"), str(tmp_path / "hilbert")
    write_zordered(keyed, zpath, "z", n_files=8)
    write_zordered(keyed, hpath, "h", n_files=8)

    lo, hi, hlo, hhi = keyed.agg(
        F.min("user_id"), F.max("user_id"),
        F.min("hour_bucket"), F.max("hour_bucket"),
    ).collect()[0]

    def files_touched(path, box):
        return (
            spark.read.parquet(path)
            .where(box)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    hour_span = max(1, (hhi - hlo) // 8)
    user_span = max(1, (hi - lo) // 8)
    total_z = total_h = 0
    for i in range(4):
        box = (
            (F.col("user_id") >= lo + i * user_span)
            & (F.col("user_id") < lo + (i + 1) * user_span)
            & (F.col("hour_bucket") >= hlo + i * hour_span)
            & (F.col("hour_bucket") < hlo + (i + 1) * hour_span)
        )
        total_z += files_touched(zpath, box)
        total_h += files_touched(hpath, box)
    assert total_h <= total_z, (total_h, total_z)
    assert total_h < 4 * 8  # and it really skips (not all files)
