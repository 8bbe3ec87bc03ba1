"""Z-order clustering + tablog skipping, and exactly-once streaming appends."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gpu_telemetry_lakehouse_spark import tablog as T
from gpu_telemetry_lakehouse_spark.catalog import load_table
from gpu_telemetry_lakehouse_spark.operators.layout import cluster_zorder, zorder_value


def test_zorder_value_is_monotone_per_dim(spark):
    # The Morton code must preserve per-dimension bucket ordering: growing one
    # coordinate (holding the other fixed) can never decrease the code.
    rows = [(x, y) for x in (0, 100, 200, 300) for y in (0, 100, 200, 300)]
    df = spark.createDataFrame(rows, "a long, b long").withColumn(
        "z", zorder_value(["a", "b"], [(0, 300), (0, 300)], bits=8)
    )
    got = {(r.a, r.b): r.z for r in df.collect()}
    for (a, b), z in got.items():
        if (a + 100, b) in got:
            assert got[(a + 100, b)] > z
        if (a, b + 100) in got:
            assert got[(a, b + 100)] > z


def test_zorder_prunes_both_dimensions(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders")
    lo_k, hi_k = (
        o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    )
    lo_c, hi_c = o.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    n_files = 16

    # 1-D sort baseline: tight on orderkey, useless on custkey.
    t1 = str(tmp_path / "sorted1d")
    T.create_table(
        o.repartitionByRange(n_files, "o_orderkey"),
        t1,
        stat_cols=["o_orderkey", "o_custkey"],
    )
    # Z-order: compact rectangles in (orderkey, custkey).
    t2 = str(tmp_path / "zorder")
    T.create_table(
        cluster_zorder(
            o, ["o_orderkey", "o_custkey"],
            [(lo_k, hi_k), (lo_c, hi_c)], n_files=n_files,
        ),
        t2,
        stat_cols=["o_orderkey", "o_custkey"],
    )

    span_c = (hi_c - lo_c) // 8  # narrow custkey band (1/8 of the domain)
    read_1d, total_1d = T.pruned_file_count(t1, "o_custkey", lo_c, lo_c + span_c)
    read_z, total_z = T.pruned_file_count(t2, "o_custkey", lo_c, lo_c + span_c)
    assert total_1d == total_z == n_files
    assert read_1d == n_files, "1-D sort cannot skip on the other column"
    assert read_z < n_files // 2, f"z-order should prune hard, read {read_z}"

    # Z-order still prunes on the first column too (coarser than 1-D sort).
    span_k = (hi_k - lo_k) // 8
    read_zk, _ = T.pruned_file_count(t2, "o_orderkey", lo_k, lo_k + span_k)
    assert read_zk < n_files, "z-order keeps first-column skipping"

    # Correctness: skipping returns exactly the filtered rows.
    got = T.read(spark, t2, between=("o_custkey", lo_c, lo_c + span_c)).count()
    want = o.filter(F.col("o_custkey").between(lo_c, lo_c + span_c)).count()
    assert got == want > 0


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path):
    """Events split across files so maxFilesPerTrigger yields several
    batches (append order doesn't matter for a raw-row sink)."""
    d = str(tmp_path / "events_src")
    load_table(spark, sf_dir, "events").repartition(3).write.parquet(d)
    return d


def test_stream_append_exactly_once(spark, tmp_path, events_dir):
    from gpu_telemetry_lakehouse_spark.streaming.pipeline import read_event_stream

    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    stream = read_event_stream(spark, events_dir)
    q = (
        stream.writeStream.foreachBatch(T.stream_writer(tbl))
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n = T.read(spark, tbl).count()
    events = spark.read.parquet(events_dir).count()
    assert n == events > 0

    # Replayed epoch (restart between sink write and checkpoint commit):
    # same batch_id again must be a no-op, not a duplicate batch.
    ids = T.committed_batch_ids(tbl)
    assert ids
    replay_id = sorted(ids)[0]
    some = T.read(spark, tbl).limit(5)
    assert T.append(some, tbl, batch_id=replay_id) is None
    assert T.read(spark, tbl).count() == n
    ops = {h["operation"] for h in T.history(tbl)}
    assert ops == {"stream-append"}


def test_streaming_cdc_upsert_keeps_latest(spark, tmp_path, events_dir):
    """End-to-end streaming CDC: each micro-batch merge-upserts by user_id,
    so the table converges to exactly one row per user — the user's
    latest-by-(ts, event_id) event — with per-batch idempotent commits."""
    from pyspark.sql import Window as W

    from gpu_telemetry_lakehouse_spark.streaming.pipeline import read_event_stream

    tbl = str(tmp_path / "cdc_tbl")
    ckpt = str(tmp_path / "cdc_ckpt")

    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest_per_user(df):
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def apply_cdc(batch_df, batch_id):
        # Ordered upsert: batches may arrive event-time-disordered, so the
        # winner per key is max(existing row, batch rows) by (ts, event_id) —
        # a blind last-write-wins would let a late batch clobber newer state.
        upd = latest_per_user(batch_df)
        if not os.path.isdir(os.path.join(tbl, T.LOG_DIR)):
            T.create_table(upd, tbl)
            return
        cur = T.read(spark, tbl).select(*upd.columns)
        merged = latest_per_user(cur.unionByName(upd))
        T.merge_upsert(spark, merged, tbl, key_cols=["user_id"], batch_id=batch_id)

    stream = read_event_stream(spark, events_dir)
    q = (
        stream.writeStream.foreachBatch(apply_cdc)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.user_id: (r.ts, r.event_id) for r in T.read(spark, tbl).collect()
    }
    ev = spark.read.parquet(events_dir)
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    want = {
        r.user_id: (r.ts, r.event_id)
        for r in ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .collect()
    }
    assert got == want and got
