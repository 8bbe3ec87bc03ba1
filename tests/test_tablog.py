"""Versioned table format (tablog): atomic commits, snapshot isolation,
time travel, optimistic concurrency, data skipping, compaction, vacuum."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gpu_telemetry_lakehouse_spark import tablog as T
from gpu_telemetry_lakehouse_spark.catalog import load_table


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "tbl")


def _orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


def test_create_append_read_latest(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    lo, hi = o.filter("o_orderkey % 2 = 0"), o.filter("o_orderkey % 2 = 1")
    v0 = T.create_table(lo, tbl, stat_cols=["o_orderkey"])
    v1 = T.append(hi, tbl, stat_cols=["o_orderkey"])
    assert (v0, v1) == (0, 1)
    assert T.read(spark, tbl).count() == o.count()


def test_time_travel_and_overwrite_isolation(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    first = o.limit(100)
    T.create_table(first, tbl)
    n0 = T.read(spark, tbl).count()
    T.append(o.limit(50), tbl)
    T.overwrite(o.limit(7), tbl)
    # Latest sees only the overwrite; every historical snapshot is intact.
    assert T.read(spark, tbl).count() == 7
    assert T.read(spark, tbl, version=0).count() == n0 == 100
    assert T.read(spark, tbl, version=1).count() == 150
    ops = [h["operation"] for h in T.history(tbl)]
    assert ops == ["create", "append", "overwrite"]


def test_uncommitted_files_are_invisible(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(10), tbl)
    # A crashed writer: data file present, no log entry referencing it.
    o.limit(5).write.mode("overwrite").parquet(tbl + "_orphan_src")
    src = next(
        f for f in os.listdir(tbl + "_orphan_src") if f.endswith(".parquet")
    )
    os.rename(
        os.path.join(tbl + "_orphan_src", src),
        os.path.join(tbl, "part-deadbeef-orphan.parquet"),
    )
    assert T.read(spark, tbl).count() == 10  # orphan invisible


def test_optimistic_concurrency_retry(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(10), tbl)
    # Simulate a racing writer that already claimed version 1.
    with open(T._entry_path(tbl, 1), "w") as f:
        json.dump({"version": 1, "operation": "noop", "add": [], "remove": []}, f)
    v = T.append(o.limit(5), tbl)
    assert v == 2  # loser retried past the contended slot
    assert T.read(spark, tbl).count() == 15


def test_data_skipping_prunes_files(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).orderBy("o_orderkey")
    # Range-partitioned write -> disjoint per-file key ranges -> skipping pays.
    T.create_table(o.repartitionByRange(8, "o_orderkey"), tbl, stat_cols=["o_orderkey"])
    keys = [r[0] for r in o.select("o_orderkey").limit(3).collect()]
    lo = hi = keys[0]
    n_read, n_total = T.pruned_file_count(tbl, "o_orderkey", lo, hi)
    assert n_total == 8 and n_read < n_total, (n_read, n_total)
    got = T.read(spark, tbl, between=("o_orderkey", lo, hi))
    want = o.filter(F.col("o_orderkey").between(lo, hi))
    assert got.count() == want.count() > 0


def test_compaction_preserves_rows_and_history(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(40).repartition(8), tbl, stat_cols=["o_orderkey"])
    before = {f["file"] for f in T.snapshot_files(tbl)}
    T.compact(spark, tbl, stat_cols=["o_orderkey"])
    after = {f["file"] for f in T.snapshot_files(tbl)}
    assert not (before & after) and len(after) < len(before)
    assert T.read(spark, tbl).count() == 40
    assert T.read(spark, tbl, version=0).count() == 40  # pre-compaction snapshot


def test_vacuum_bounds_time_travel(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(20).repartition(4), tbl)
    T.compact(spark, tbl)
    deleted = T.vacuum(tbl, keep_versions=1)
    assert deleted  # compacted-away files reclaimed
    assert T.read(spark, tbl).count() == 20  # latest snapshot unaffected


def test_checkpoint_folds_log(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(5), tbl)
    for _ in range(T.CHECKPOINT_EVERY):
        T.append(o.limit(1), tbl)
    cps = [f for f in os.listdir(T._log_dir(tbl)) if f.startswith("_checkpoint-")]
    assert cps, "checkpoint should exist after CHECKPOINT_EVERY commits"
    assert T.read(spark, tbl).count() == 5 + T.CHECKPOINT_EVERY


def test_schema_evolution_merge(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.select("o_orderkey", "o_totalprice").limit(10), tbl)
    T.append(
        o.select("o_orderkey", "o_totalprice", "o_orderstatus").limit(10), tbl
    )
    df = T.read(spark, tbl)
    assert "o_orderstatus" in df.columns
    assert df.filter(F.col("o_orderstatus").isNull()).count() == 10


def test_merge_upsert(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(20), tbl, stat_cols=["o_orderkey"])
    keys = [r.o_orderkey for r in T.read(spark, tbl).select("o_orderkey").collect()]
    # update 3 existing keys (new status) + insert 2 unseen keys
    upd = (
        o.filter(F.col("o_orderkey").isin(keys[:3]))
        .withColumn("o_orderstatus", F.lit("X"))
        .unionByName(o.filter(~F.col("o_orderkey").isin(keys)).limit(2))
    )
    v = T.merge_upsert(spark, upd, tbl, key_cols=["o_orderkey"])
    assert v == 1
    got = T.read(spark, tbl)
    assert got.count() == 22
    assert got.filter(F.col("o_orderstatus") == "X").count() == 3
    # pre-merge snapshot intact; merge is one atomic version
    assert T.read(spark, tbl, version=0).filter(F.col("o_orderstatus") == "X").count() == 0
    assert [h["operation"] for h in T.history(tbl)] == ["create", "merge"]


def test_merge_upsert_idempotent_by_batch_id(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(10), tbl)
    upd = o.limit(1).withColumn("o_orderstatus", F.lit("X"))
    assert T.merge_upsert(spark, upd, tbl, ["o_orderkey"], batch_id=7) == 1
    # replayed CDC epoch: same batch id -> no-op, no new version
    assert T.merge_upsert(spark, upd, tbl, ["o_orderkey"], batch_id=7) is None
    assert len(T.history(tbl)) == 2


def test_continuous_aggregate_incremental_refresh(spark, sf_dir, tmp_path):
    """Continuous-aggregate pattern: the rollup refreshes from the change
    feed (files added since the last seen version) + merge_upsert of only
    the touched group keys — and stays equal to a full recompute."""
    from gpu_telemetry_lakehouse_spark.catalog import load_table

    ev_path = str(tmp_path / "events_t")
    agg_path = str(tmp_path / "agg_t")
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")

    def rollup(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1_000_000, 0).cast("long")).alias("sum_scaled"),
        )

    # initial load + first full rollup
    T.create_table(ev.filter("user_id % 3 = 0"), ev_path)
    delta, seen = T.read_incremental(spark, ev_path, None)
    T.create_table(rollup(delta), agg_path)

    # two append batches, each refreshed incrementally
    for m in (1, 2):
        T.append(ev.filter(f"user_id % 3 = {m}"), ev_path)
        delta, seen2 = T.read_incremental(spark, ev_path, seen)
        assert delta is not None and seen2 > seen
        seen = seen2
        # merge: combine delta partials with existing groups
        cur = T.read(spark, agg_path)
        d = rollup(delta).select(
            "event_type",
            F.col("n").alias("dn"),
            F.col("sum_scaled").alias("dsum"),
        )
        merged = (
            cur.join(d, "event_type", "full_outer")
            .select(
                "event_type",
                (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
                (F.coalesce("sum_scaled", F.lit(0)) + F.coalesce("dsum", F.lit(0))).alias(
                    "sum_scaled"
                ),
            )
        )
        T.merge_upsert(spark, merged, agg_path, key_cols=["event_type"])

    # nothing new -> no-op change feed
    none_delta, _ = T.read_incremental(spark, ev_path, seen)
    assert none_delta is None

    got = {r.event_type: (r.n, r.sum_scaled) for r in T.read(spark, agg_path).collect()}
    want = {r.event_type: (r.n, r.sum_scaled) for r in rollup(ev).collect()}
    assert got == want  # incremental == full recompute, exactly


def test_concurrent_writers_all_commit(spark, sf_dir, tbl):
    """Four threads appending concurrently: optimistic concurrency must give
    every writer its own version (no lost updates, no torn reads) and the
    final table holds every row exactly once."""
    import threading

    o = _orders(spark, sf_dir)
    T.create_table(o.limit(0), tbl)
    chunks = [o.filter(F.col("o_orderkey") % 4 == m).limit(25) for m in range(4)]
    errors: list = []

    def write(df):
        try:
            T.append(df, tbl)
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    threads = [threading.Thread(target=write, args=(c,)) for c in chunks]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    hist = T.history(tbl)
    assert [h["version"] for h in hist] == [0, 1, 2, 3, 4]  # dense, no gaps
    expected = sum(c.count() for c in chunks)
    assert T.read(spark, tbl).count() == expected


def test_remove_bearing_commit_aborts_on_moved_tip(spark, sf_dir, tbl):
    """An overwrite/merge whose snapshot is stale must NOT blind-retry (it
    would republish removes computed against the old tip, dropping the
    interleaved append). It aborts with ConcurrentModificationError; a
    re-run against the new tip succeeds and keeps every row."""
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(10), tbl)

    # Interleave an append between the overwrite's snapshot read and its
    # commit by racing real threads through a barrier is flaky; instead
    # simulate the lost race directly: compute the overwrite's actions
    # against version 0, advance the tip, then try to publish.
    rv = T.current_version(tbl)
    removes = [a["file"] for a in T.snapshot_files(tbl, rv)]
    adds = T._stage_files(o.limit(3), tbl, [])
    T.append(o.limit(5), tbl)  # racing writer wins version 1
    with pytest.raises(T.ConcurrentModificationError):
        T._commit(
            tbl,
            {"operation": "overwrite", "add": adds, "remove": removes},
            read_version=rv,
        )
    # table unharmed: create(10) + append(5) both intact
    assert T.read(spark, tbl).count() == 15
    # the caller's documented recovery — re-run against the new tip — works
    T.overwrite(o.limit(3), tbl)
    assert T.read(spark, tbl).count() == 3


def test_concurrent_merge_upserts_no_duplication(spark, sf_dir, tbl):
    """Two merge_upserts racing from the same snapshot: exactly one commits,
    the loser aborts (instead of re-adding the full rewritten base twice,
    which would duplicate every base row). Retrying the loser then yields
    the correct combined table."""
    import threading

    o = _orders(spark, sf_dir)
    T.create_table(o.limit(10), tbl)
    keys = [r.o_orderkey for r in T.read(spark, tbl).select("o_orderkey").collect()]
    upd_a = (
        o.filter(F.col("o_orderkey") == keys[0]).withColumn("o_orderstatus", F.lit("A"))
    )
    upd_b = (
        o.filter(F.col("o_orderkey") == keys[1]).withColumn("o_orderstatus", F.lit("B"))
    )
    results: dict = {}

    def merge(tag, upd):
        try:
            results[tag] = T.merge_upsert(spark, upd, tbl, key_cols=["o_orderkey"])
        except T.ConcurrentModificationError as e:
            results[tag] = e

    ts = [
        threading.Thread(target=merge, args=("a", upd_a)),
        threading.Thread(target=merge, args=("b", upd_b)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    outcomes = sorted(results.values(), key=lambda v: isinstance(v, Exception))
    # at least one winner; any loser aborted cleanly (no silent duplication)
    assert isinstance(outcomes[0], int)
    assert T.read(spark, tbl).count() == 10  # base never duplicated
    for tag, r in results.items():
        if isinstance(r, Exception):  # loser retries against the new tip
            T.merge_upsert(
                spark, upd_a if tag == "a" else upd_b, tbl, key_cols=["o_orderkey"]
            )
    got = T.read(spark, tbl)
    assert got.count() == 10
    assert got.filter(F.col("o_orderstatus").isin("A", "B")).count() == 2


def test_temporal_stats_prune_with_datetime_bounds(spark, sf_dir, tbl):
    """Timestamp stat columns survive the JSON log round-trip in a sortable
    form: read(between=) / pruned_file_count accept native datetime bounds
    (the flagship path registers ts/dt in flow.STAT_COLS) and still prune."""
    import datetime as dt

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    T.create_table(ev.repartitionByRange(8, "ts"), tbl, stat_cols=["ts"])
    lo_r, hi_r = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo_r + (hi_r - lo_r) / 2
    lo, hi = lo_r, min(hi_r, lo_r + dt.timedelta(hours=1))
    n_read, n_total = T.pruned_file_count(tbl, "ts", lo, hi)
    assert n_total == 8 and n_read < n_total, (n_read, n_total)
    got = T.read(spark, tbl, between=("ts", lo, hi))
    want = ev.filter(F.col("ts").between(lo, hi))
    assert got.count() == want.count() > 0
    # pandas.Timestamp bounds (what a notebook user passes) work identically
    import pandas as pd

    n_read2, _ = T.pruned_file_count(tbl, "ts", pd.Timestamp(lo), pd.Timestamp(mid))
    assert n_read2 <= n_total


def test_diff_versions_reports_exact_row_changes(spark, tmp_path):
    """diff_versions must report multiset-exact added/removed rows between
    any two snapshots, including through a merge that rewrites rows."""
    import gpu_telemetry_lakehouse_spark.tablog as tl

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    tl.create_table(base, path)
    v0 = tl.current_version(path)
    upd = spark.createDataFrame([(2, "B"), (4, "d")], "id long, v string")
    tl.merge_upsert(spark, upd, path, key_cols=["id"])
    v1 = tl.current_version(path)

    d = {(r.id, r.v, r.change_type) for r in tl.diff_versions(spark, path, v0, v1).collect()}
    assert d == {(2, "B", "added"), (4, "d", "added"), (2, "b", "removed")}
    # identity diff is empty
    assert tl.diff_versions(spark, path, v1, v1).count() == 0


def test_table_stats_reads_log_only(spark, tmp_path):
    """table_stats must report live-file counts/bytes from the log without
    scanning data, and track compaction."""
    import gpu_telemetry_lakehouse_spark.tablog as tl

    path = str(tmp_path / "t")
    df = spark.range(1000).selectExpr("id", "id % 7 AS k")
    tl.create_table(df.repartition(6), path, stat_cols=["id"])
    s0 = tl.table_stats(path)
    assert s0["n_files"] == 6 and s0["total_bytes"] > 0
    assert s0["files_with_stats"] == 6 and s0["small_files"] == 6

    tl.compact(spark, path, stat_cols=["id"])
    s1 = tl.table_stats(path)
    assert s1["n_files"] < s0["n_files"]
    # old snapshot still reports the pre-compaction layout (time travel)
    assert tl.table_stats(path, version=s0["version"])["n_files"] == 6


def test_maybe_compact_policy(spark, tmp_path):
    """Auto-compaction fires only past the small-file threshold, and the
    rewritten table is value-identical."""
    import gpu_telemetry_lakehouse_spark.tablog as tl

    path = str(tmp_path / "t")
    df = spark.range(2000).selectExpr("id", "id % 5 AS k")
    tl.create_table(df.repartition(2), path)
    assert tl.maybe_compact(spark, path, min_small=4) is None  # healthy

    tl.append(df.repartition(6), path)
    v = tl.maybe_compact(spark, path, min_small=4)
    assert v is not None
    assert tl.table_stats(path)["n_files"] < 8
    assert tl.read(spark, path).count() == 4000


def test_scd2_history_from_versions(spark, tmp_path):
    """SCD2 reconstruction: attribute changes open new episodes with correct
    validity bounds; delete + re-insert of an identical state must NOT merge
    into one episode; unchanged keys stay a single current episode."""
    import gpu_telemetry_lakehouse_spark.tablog as tl

    path = str(tmp_path / "dim")
    v0 = spark.createDataFrame(
        [(1, "gold"), (2, "silver"), (3, "bronze")], "id long, tier string"
    )
    tl.create_table(v0, path)
    # v1: id 2 changes tier; id 3 deleted (overwrite computes vs current tip)
    tl.overwrite(
        spark.createDataFrame([(1, "gold"), (2, "gold")], "id long, tier string"),
        path,
    )
    # v2: id 3 reappears with its ORIGINAL attrs; id 1 unchanged
    tl.overwrite(
        spark.createDataFrame(
            [(1, "gold"), (2, "gold"), (3, "bronze")], "id long, tier string"
        ),
        path,
    )

    h = {
        (r.id, r.tier, r.valid_from_version, r.valid_to_version, r.is_current)
        for r in tl.scd2_history(spark, path, ["id"]).collect()
    }
    assert h == {
        (1, "gold", 0, None, 1),          # one unbroken episode
        (2, "silver", 0, 1, 0),           # closed when the tier changed
        (2, "gold", 1, None, 1),
        (3, "bronze", 0, 1, 0),           # closed by the delete
        (3, "bronze", 2, None, 1),        # re-insert = NEW episode
    }


def test_scd2_null_attribute_changes_open_episodes(spark, tmp_path):
    """NULL-aware fingerprinting (ADVICE r2): swapping which attribute is
    NULL is a real state change and must open a new episode; a separator
    byte embedded in a value must not collide with the column boundary."""
    import gpu_telemetry_lakehouse_spark.tablog as tl

    path = str(tmp_path / "dim")
    tl.create_table(
        spark.createDataFrame(
            [(1, None, "x"), (2, "p\x1fq", None)], "id long, a string, b string"
        ),
        path,
    )
    # id 1: (NULL,'x') -> ('x',NULL); id 2: ('p\x1fq',NULL) -> ('p','q')
    tl.overwrite(
        spark.createDataFrame(
            [(1, "x", None), (2, "p", "q")], "id long, a string, b string"
        ),
        path,
    )
    h = tl.scd2_history(spark, path, ["id"])
    per_key = {r.id: r.n for r in h.groupBy("id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_key == {1: 2, 2: 2}  # concat_ws fingerprints collapsed these to 1
    current = {(r.id, r.a, r.b) for r in h.filter("is_current = 1").collect()}
    assert current == {(1, "x", None), (2, "p", "q")}


def test_merge_upsert_with_retry_rebases_on_moved_tip(spark, sf_dir, tbl, monkeypatch):
    """The loser of a merge/tip race re-reads and reapplies: final state
    equals sequential (append, then merge) application."""
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(10), tbl)
    base_keys = [r.o_orderkey for r in T.read(spark, tbl).select("o_orderkey").collect()]
    upd = o.filter(F.col("o_orderkey") == base_keys[0]).withColumn(
        "o_orderstatus", F.lit("Z")
    )
    racing = o.filter(~F.col("o_orderkey").isin(base_keys)).limit(5)

    real_stage = T._stage_files
    state = {"fired": False}

    def racy_stage(df, path, *args, **kwargs):
        # the first merge attempt has read its snapshot; the racing append
        # commits while it stages, between its read and its commit
        if not state["fired"]:
            state["fired"] = True
            T.append(racing, tbl)
        return real_stage(df, path, *args, **kwargs)

    monkeypatch.setattr(T, "_stage_files", racy_stage)
    v = T.merge_upsert_with_retry(spark, upd, tbl, key_cols=["o_orderkey"])
    assert isinstance(v, int)

    got = T.read(spark, tbl)
    assert got.count() == 15  # 10 base (1 replaced in place) + 5 raced-in rows
    assert got.filter(F.col("o_orderstatus") == "Z").count() == 1
    # the interleaved writer's rows survived the rebase
    raced_keys = {r.o_orderkey for r in racing.collect()}
    assert {r.o_orderkey for r in got.collect()} >= raced_keys


def test_table_stats_tolerates_vacuumed_historical_files(spark, tmp_path):
    """Auditing a historical version whose files were vacuumed (and whose
    pre-'bytes' log entries force the filesystem fallback) degrades to
    size 0 instead of FileNotFoundError (ADVICE r2)."""
    import gpu_telemetry_lakehouse_spark.tablog as tl

    path = str(tmp_path / "t")
    df = spark.range(500).selectExpr("id", "id % 3 AS k")
    tl.create_table(df.repartition(2), path)
    tl.overwrite(df.repartition(1), path)

    # simulate a legacy log entry written before the 'bytes' field existed
    entry_path = tl._entry_path(path, 0)
    with open(entry_path) as f:
        e = json.load(f)
    for a in e.get("add", []):
        a.pop("bytes", None)
    with open(entry_path, "w") as f:
        json.dump(e, f, default=str)

    deleted = tl.vacuum(path, keep_versions=1)
    assert deleted  # version-0 files are gone

    s = tl.table_stats(path, version=0)  # must not raise
    assert s["n_files"] == 2 and s["total_bytes"] == 0


def test_merge_upsert_pruned_rewrites_only_overlapping_files(spark, sf_dir, tmp_path):
    """Stat-pruned MERGE must (a) produce exactly the same table as the
    full-rewrite merge and (b) remove only the files whose key range the
    updates can touch."""
    o = _orders(spark, sf_dir)
    base = o.repartitionByRange(8, "o_orderkey")
    t_pruned, t_full = str(tmp_path / "p"), str(tmp_path / "f")
    for t in (t_pruned, t_full):
        T.create_table(base, t, stat_cols=["o_orderkey"])
    n_files = len(T.snapshot_files(t_pruned))
    assert n_files >= 8

    keys = [r.o_orderkey for r in o.orderBy("o_orderkey").limit(3).collect()]
    max_key = o.agg(F.max("o_orderkey")).first()[0]
    upd = (
        o.filter(F.col("o_orderkey").isin(keys))
        .withColumn("o_orderstatus", F.lit("U"))
        .unionByName(
            o.filter(F.col("o_orderkey") == keys[0]).withColumn(
                "o_orderkey", F.lit(max_key + 1)
            )
        )
    )
    # keys span [min, min+2] + one brand-new key above max: only the lowest
    # and highest range files can overlap... the pruned merge must notice.
    T.merge_upsert_pruned(spark, upd, t_pruned, key_cols=["o_orderkey"],
                          stat_cols=["o_orderkey"])
    T.merge_upsert(spark, upd, t_full, key_cols=["o_orderkey"],
                   stat_cols=["o_orderkey"])

    a = sorted(map(tuple, T.read(spark, t_pruned).collect()))
    b = sorted(map(tuple, T.read(spark, t_full).collect()))
    assert a == b
    last = T.history(t_pruned)[-1]
    assert last["operation"] == "merge_pruned"
    assert 0 < last["n_removed"] < n_files  # untouched files survived

    # updated + inserted rows visible; replaced keys not duplicated
    got = T.read(spark, t_pruned)
    assert got.filter(F.col("o_orderstatus") == "U").count() == 3
    assert got.filter(F.col("o_orderkey") == max_key + 1).count() == 1
    assert got.count() == o.count() + 1

    # empty update set is a true no-op (no new version)
    v_before = T.current_version(t_pruned)
    assert T.merge_upsert_pruned(
        spark, upd.filter(F.lit(False)), t_pruned, key_cols=["o_orderkey"]
    ) is None
    assert T.current_version(t_pruned) == v_before


def test_schema_evolution_add_column(spark, sf_dir, tmp_path):
    """Schema evolution through the log: files written before a column
    existed read back as NULL for it, and the snapshot schema is the union
    (mergeSchema footer merge in tablog.read). The add-column commit is just
    a normal append whose entry records the widened schema."""
    from pyspark.sql import functions as F

    from gpu_telemetry_lakehouse_spark import tablog as T

    path = str(tmp_path / "evolving")
    v0 = spark.range(3).select(F.col("id"), F.lit("a").alias("name"))
    T.create_table(v0, path)
    v1 = spark.range(3, 5).select(
        F.col("id"), F.lit("b").alias("name"), F.lit(1.5).alias("score")
    )
    T.append(v1, path)
    got = T.read(spark, path)
    assert set(got.columns) == {"id", "name", "score"}
    rows = {r["id"]: (r["name"], r["score"]) for r in got.collect()}
    assert rows[0] == ("a", None) and rows[4] == ("b", 1.5)
    # old snapshot still reads with the old schema
    old = T.read(spark, path, version=0)
    assert set(old.columns) == {"id", "name"}


def test_pruned_merge_null_keys_match_unpruned(spark, sf_dir, tmp_path):
    """NULL update keys must behave identically in the pruned and unpruned
    MERGE: NULL never matches a stored key, so NULL-keyed rows are pure
    inserts — never a TypeError in the probe sort, never a silent no-op."""
    from pyspark.sql import functions as F

    from gpu_telemetry_lakehouse_spark import tablog as T

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    p1, p2 = str(tmp_path / "pruned"), str(tmp_path / "plain")
    T.create_table(base, p1, stat_cols=["k"])
    T.create_table(base, p2, stat_cols=["k"])

    # mixed NULL + real keys, few enough for the probe path
    upd = spark.createDataFrame(
        [(None, "x"), (2, "B")], "k int, v string"
    )
    T.merge_upsert_pruned(spark, upd, p1, ["k"], stat_cols=["k"])
    T.merge_upsert(spark, upd, p2, ["k"], stat_cols=["k"])
    got = sorted(T.read(spark, p1).collect(), key=lambda r: (r[0] is None, r[0] or 0, r[1]))
    want = sorted(T.read(spark, p2).collect(), key=lambda r: (r[0] is None, r[0] or 0, r[1]))
    assert got == want

    # ALL-NULL keys: must append as inserts, not return None silently
    upd2 = spark.createDataFrame([(None, "y")], "k int, v string")
    v = T.merge_upsert_pruned(spark, upd2, p1, ["k"], stat_cols=["k"])
    assert v is not None
    vals = {r["v"] for r in T.read(spark, p1).collect()}
    assert "y" in vals


def test_restore_previous_version(spark, sf_dir, tmp_path):
    """RESTORE: a new commit whose live set equals the target snapshot —
    content round-trips exactly, history (incl. the bad version) remains
    time-travelable, and a restore against vacuumed files refuses."""
    from gpu_telemetry_lakehouse_spark import tablog as T

    p = str(tmp_path / "t")
    v0_df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    T.create_table(v0_df, p)
    T.overwrite(spark.createDataFrame([(9, "z")], "k int, v string"), p)
    rv = T.restore(p, 0)
    got = sorted((r[0], r[1]) for r in T.read(spark, p).collect())
    assert got == [(1, "a"), (2, "b")]
    # the bad version is still reachable
    bad = [(r[0], r[1]) for r in T.read(spark, p, version=1).collect()]
    assert bad == [(9, "z")]
    assert rv == 2 and T.current_version(p) == 2
    # restore refuses when the target's files were vacuumed
    T.overwrite(spark.createDataFrame([(7, "q")], "k int, v string"), p)
    T.vacuum(p, keep_versions=1)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        T.restore(p, 1)


def test_changes_between_keyed_cdf(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(20), tbl, stat_cols=["o_orderkey"])  # v0
    keys = sorted(r.o_orderkey for r in T.read(spark, tbl).select("o_orderkey").collect())
    upd = (
        o.filter(F.col("o_orderkey").isin(keys[:2]))
        .withColumn("o_orderstatus", F.lit("X"))
        .unionByName(o.filter(~F.col("o_orderkey").isin(keys)).limit(3))
    )
    T.merge_upsert(spark, upd, tbl, key_cols=["o_orderkey"])  # v1: 2 upd + 3 ins
    # v2: drop one untouched key entirely (overwrite without it)
    survivor = T.read(spark, tbl).filter(F.col("o_orderkey") != keys[5])
    T.overwrite(survivor, tbl)

    cdf = T.changes_between(spark, tbl, 0, 2, key_cols=["o_orderkey"]).cache()
    by_type = {
        r["_change_type"]: r["n"]
        for r in cdf.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_type == {
        "insert": 3,
        "delete": 1,
        "update_preimage": 2,
        "update_postimage": 2,
    }
    # the update pair carries the actual images
    pre = cdf.filter(F.col("_change_type") == "update_preimage")
    post = cdf.filter(F.col("_change_type") == "update_postimage")
    assert pre.filter(F.col("o_orderstatus") == "X").count() == 0
    assert post.filter(F.col("o_orderstatus") == "X").count() == 2
    assert {r.o_orderkey for r in pre.collect()} == set(keys[:2])
    # deleted key is the dropped one
    assert [r.o_orderkey for r in cdf.filter(F.col("_change_type") == "delete").collect()] == [keys[5]]
    # applying the CDF to the v0 snapshot reproduces v2 exactly
    base = T.read(spark, tbl, version=0)
    applied = (
        base.join(
            cdf.filter(F.col("_change_type").isin("delete", "update_preimage"))
            .select("o_orderkey"),
            ["o_orderkey"],
            "left_anti",
        )
        .unionByName(
            cdf.filter(F.col("_change_type").isin("insert", "update_postimage"))
            .drop("_change_type")
        )
    )
    assert applied.exceptAll(T.read(spark, tbl, version=2)).count() == 0
    assert T.read(spark, tbl, version=2).exceptAll(applied).count() == 0
    cdf.unpersist()


def test_changes_between_null_attribute_states_differ(spark, tbl):
    df1 = spark.createDataFrame([(1, None, "x"), (2, "a", "b")], "k int, a string, b string")
    df2 = spark.createDataFrame([(1, "x", None), (2, "a", "b")], "k int, a string, b string")
    T.create_table(df1, tbl)
    T.overwrite(df2, tbl)
    cdf = T.changes_between(spark, tbl, 0, 1, key_cols=["k"])
    # (NULL,'x') -> ('x',NULL) IS a change (concat_ws fingerprints collide here)
    assert cdf.filter(F.col("k") == 1).count() == 2
    assert cdf.filter(F.col("k") == 2).count() == 0


def test_bloom_skipping_equality_probe(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
    # 4 hash-split appends: every file's o_orderkey [min,max] spans nearly the
    # whole domain, so range stats CANNOT prune an equality probe — the bloom
    # is the only skipping signal (the unsorted-layout point-lookup case).
    parts = [o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == i).coalesce(1) for i in range(4)]
    T.create_table(parts[0], tbl, stat_cols=["o_orderkey"], bloom_cols=["o_orderkey"])
    for p in parts[1:]:
        T.append(p, tbl, stat_cols=["o_orderkey"], bloom_cols=["o_orderkey"])

    # mid-domain keys: at the domain edges the mod-split files' [min,max] DO
    # differ slightly and range stats would prune on their own
    mn, mx = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    mid = (mn + mx) // 2
    keys = [
        r.o_orderkey
        for r in o.filter(F.col("o_orderkey").between(mid, mid + 100)).limit(40).collect()
    ]
    assert len(keys) >= 10
    assert len(T.snapshot_files(tbl)) == 4
    total_kept = 0
    for k in keys[:10]:
        got = T.read(spark, tbl, eq=("o_orderkey", k))
        kept = len(got.inputFiles())
        assert kept >= 1  # no false negative: the holding file always survives
        total_kept += kept
        want = o.filter(F.col("o_orderkey") == k)
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0
    # bloom must actually skip: with m=8192 bits and ~3.7k keys/file the FP
    # rate is well under 50%, so across 10 probes we read far fewer than all
    # 40 file-visits (range stats alone would keep all 4 every time)
    assert total_kept < 25, total_kept
    # stats-only pruning keeps everything (ranges overlap) — bloom is additive
    kept_range, _ = T.pruned_file_count(tbl, "o_orderkey", keys[0], keys[0])
    assert kept_range == 4
    # absent key: every file may be bloom-skipped; result must be empty
    assert T.read(spark, tbl, eq=("o_orderkey", -12345)).count() == 0


def test_apply_changes_replicates_table(spark, sf_dir, tbl, tmp_path):
    """CDC loop closure: changes_between(primary) applied via apply_changes
    to a stale replica reproduces the primary exactly — the
    produce->transport->apply roundtrip a downstream mirror runs."""
    primary = str(tmp_path / "primary")
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(20), primary)                    # v0
    T.create_table(T.read(spark, primary), tbl)             # replica of v0
    keys = sorted(r.o_orderkey for r in T.read(spark, primary).select("o_orderkey").collect())
    upd = (
        o.filter(F.col("o_orderkey").isin(keys[:3]))
        .withColumn("o_orderstatus", F.lit("Z"))
        .unionByName(o.filter(~F.col("o_orderkey").isin(keys)).limit(2))
    )
    T.merge_upsert(spark, upd, primary, key_cols=["o_orderkey"])   # v1
    survivor = T.read(spark, primary).filter(F.col("o_orderkey") != keys[7])
    T.overwrite(survivor, primary)                                  # v2

    feed = T.changes_between(spark, primary, 0, 2, key_cols=["o_orderkey"])
    T.apply_changes(spark, feed, tbl, key_cols=["o_orderkey"], batch_id=11)
    a, b = T.read(spark, tbl), T.read(spark, primary)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # replayed epoch is a no-op
    assert T.apply_changes(spark, feed, tbl, key_cols=["o_orderkey"], batch_id=11) is None
    assert [h["operation"] for h in T.history(tbl)][-1] == "apply_changes"


def test_bloom_cols_tolerate_schema_evolution(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    # v0 lacks the future bloom column entirely
    T.create_table(o.select("o_orderkey").limit(5), tbl)
    # v1 appends with bloom on a column v0's files never had
    T.append(
        o.select("o_orderkey", "o_orderstatus").limit(5),
        tbl,
        bloom_cols=["o_orderstatus"],
    )
    # and appending with a bloom col absent from THIS batch is a no-op too
    T.append(o.select("o_orderkey").limit(3), tbl, bloom_cols=["o_orderstatus"])
    got = T.read(spark, tbl, eq=("o_orderstatus", "F"))
    want = (
        o.limit(5).filter(F.col("o_orderstatus") == "F").count()
    )
    assert got.count() == want


def test_delete_where_atomic(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(50), tbl)
    n_f = T.read(spark, tbl).filter("o_orderstatus = 'F'").count()
    assert n_f > 0
    T.delete_where(spark, tbl, "o_orderstatus = 'F'")
    assert T.read(spark, tbl).filter("o_orderstatus = 'F'").count() == 0
    assert T.read(spark, tbl).count() == 50 - n_f
    # pre-delete snapshot intact, operation logged
    assert T.read(spark, tbl, version=0).count() == 50
    assert [h["operation"] for h in T.history(tbl)] == ["create", "delete"]


def test_optimize_zorder_improves_two_column_pruning(spark, sf_dir, tbl):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value").filter(
        F.col("value").isNotNull()
    )
    # hash-scattered 8-file layout: every file spans both full domains
    T.create_table(ev.repartition(8), tbl, stat_cols=["user_id", "value"])
    u_kept, total = T.pruned_file_count(tbl, "user_id", 5, 15)
    assert total == 8 and u_kept == 8  # unsorted: range stats prune nothing
    T.optimize_zorder(spark, tbl, ["user_id", "value"], n_files=8)
    u2, t2 = T.pruned_file_count(tbl, "user_id", 5, 15)
    v2, _ = T.pruned_file_count(tbl, "value", 10.0, 30.0)
    assert t2 == 8 and u2 < 8 and v2 < 8, (u2, v2)  # BOTH columns now prune
    # contents unchanged; history shows optimize; old snapshot readable
    a, b = T.read(spark, tbl), T.read(spark, tbl, version=0)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert [h["operation"] for h in T.history(tbl)][-1] == "optimize"


def test_gdpr_erasure_workflow(spark, sf_dir, tbl):
    """Right-to-be-forgotten mechanics: delete_where removes the subject
    from the LIVE snapshot, but time travel still reaches the bytes — real
    erasure requires vacuuming history. The workflow proves both halves."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    T.create_table(ev.repartition(4), tbl)
    subject = 7
    assert T.read(spark, tbl).filter(F.col("user_id") == subject).count() > 0
    T.delete_where(spark, tbl, F.col("user_id") == subject)
    assert T.read(spark, tbl).filter(F.col("user_id") == subject).count() == 0
    # history still leaks the subject (the compliance gap vacuum closes)
    assert T.read(spark, tbl, version=0).filter(F.col("user_id") == subject).count() > 0
    deleted = T.vacuum(tbl, keep_versions=1)
    assert deleted  # v0's files physically removed
    # live snapshot unaffected; the pre-erasure snapshot is no longer readable
    assert T.read(spark, tbl).filter(F.col("user_id") == subject).count() == 0
    try:
        n = T.read(spark, tbl, version=0).count()
        raised = False
    except Exception:
        raised = True
    assert raised or n == 0


def test_incremental_join_view_maintenance(spark, sf_dir, tmp_path):
    """Materialized JOIN view maintained by the delta rule
    J' = J u (dA >< B_new) u (A_old >< dB) — each refresh touches only the
    deltas and the other side's snapshot, never re-running the full join.
    Proven equal to the from-scratch join after every batch."""
    o_path, l_path, j_path = (str(tmp_path / p) for p in ("o", "l", "j"))
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )

    def full_join(odf, ldf):
        return ldf.join(odf, F.col("l_orderkey") == F.col("o_orderkey")).select(
            "o_orderkey", "l_linenumber", "o_orderpriority", "l_quantity"
        )

    # initial thirds
    T.create_table(o.filter("o_orderkey % 3 = 0"), o_path)
    T.create_table(li.filter("l_orderkey % 3 = 0"), l_path)
    seen_o = T.current_version(o_path)
    seen_l = T.current_version(l_path)
    T.create_table(full_join(T.read(spark, o_path), T.read(spark, l_path)), j_path)

    for m in (1, 2):
        a_old = T.read(spark, o_path)  # pre-append snapshots
        T.append(o.filter(f"o_orderkey % 3 = {m}"), o_path)
        T.append(li.filter(f"l_orderkey % 3 = {m}"), l_path)
        d_o, seen_o = T.read_incremental(spark, o_path, seen_o)
        d_l, seen_l = T.read_incremental(spark, l_path, seen_l)
        b_new = T.read(spark, l_path)
        delta = full_join(d_o, b_new).unionByName(full_join(a_old, d_l))
        T.append(delta, j_path)
        got = T.read(spark, j_path)
        want = full_join(T.read(spark, o_path), T.read(spark, l_path))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_check_constraints_reject_bad_batches(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice", "o_orderstatus")
    T.create_table(o.limit(10), tbl)
    T.set_constraints(
        tbl,
        {
            "positive_price": "o_totalprice > 0",
            "known_status": "o_orderstatus IN ('O','F','P')",
        },
    )
    # clean batch passes
    T.validate_constraints(o.limit(5), tbl)
    v = T.append(o.limit(5), tbl)
    assert v == 1
    # violating batch rejected WHOLE, no partial commit
    bad = o.limit(3).withColumn("o_totalprice", F.lit(-1.0))
    with pytest.raises(T.ConstraintViolation, match="positive_price"):
        T.validate_constraints(bad, tbl)
        T.append(bad, tbl)
    assert T.current_version(tbl) == 1
    # NULL passes (ANSI CHECK semantics)
    nullish = o.limit(2).withColumn("o_totalprice", F.lit(None).cast("double"))
    T.validate_constraints(nullish, tbl)
    assert T.append(nullish, tbl) == 2


def test_savepoint_consistent_multi_table_read(spark, sf_dir, tbl, tmp_path):
    o_path, l_path = str(tmp_path / "o"), str(tmp_path / "l")
    sp = str(tmp_path / "savepoint.json")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    T.create_table(o.limit(100), o_path)
    T.create_table(li.limit(300), l_path)
    versions = T.savepoint([o_path, l_path], sp)
    joined_at_sp = (
        T.read(spark, o_path).join(
            T.read(spark, l_path), F.col("o_orderkey") == F.col("l_orderkey")
        ).count()
    )
    # concurrent writers advance BOTH tables after the savepoint
    T.append(o.limit(500), o_path)
    T.overwrite(li.limit(10), l_path)
    frames = T.read_savepoint(spark, sp)
    got = (
        frames[o_path].join(
            frames[l_path], F.col("o_orderkey") == F.col("l_orderkey")
        ).count()
    )
    assert got == joined_at_sp  # post-savepoint writes invisible
    assert versions == {o_path: 0, l_path: 0}
    # live reads see the new state (savepoint did not freeze the tables)
    assert T.read(spark, l_path).count() == 10


def test_deletion_vector_logical_delete(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
    T.create_table(o.limit(40).repartition(4), tbl)
    files_before = {f["file"] for f in T.snapshot_files(tbl)}
    n_f = T.read(spark, tbl).filter("o_orderstatus = 'F'").count()
    assert n_f > 0
    T.delete_where_dv(spark, tbl, "o_orderstatus = 'F'")
    # logical delete: rows gone from reads...
    assert T.read(spark, tbl).filter("o_orderstatus = 'F'").count() == 0
    assert T.read(spark, tbl).count() == 40 - n_f
    # ...but NOT A SINGLE data file was rewritten or removed
    assert {f["file"] for f in T.snapshot_files(tbl)} == files_before
    # time travel to v0 sees the rows (DV walk stops at the version)
    assert T.read(spark, tbl, version=0).filter("o_orderstatus = 'F'").count() == n_f
    # second DV unions with the first
    T.delete_where_dv(spark, tbl, "o_totalprice > 100000")
    got = T.read(spark, tbl)
    assert got.filter("o_orderstatus = 'F' or o_totalprice > 100000").count() == 0
    # appends after the DV are visible (new files not covered by the DV)
    extra = o.filter("o_orderstatus = 'O'").limit(3)
    T.append(extra, tbl)
    assert T.read(spark, tbl).count() == got.count() + 3
    # compaction MATERIALIZES the deletes and clears the DV
    T.compact(spark, tbl)
    assert T.snapshot_dv(tbl) is None
    assert T.read(spark, tbl).filter("o_orderstatus = 'F'").count() == 0
    # data equal pre/post compaction
    assert T.read(spark, tbl).count() == got.count() + 3
    ops = [h["operation"] for h in T.history(tbl)]
    assert ops == ["create", "delete_dv", "delete_dv", "append", "compact"]


def test_deletion_vector_merge_and_vacuum(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    T.create_table(o.limit(20), tbl, stat_cols=["o_orderkey"])
    keys = sorted(r.o_orderkey for r in T.read(spark, tbl).select("o_orderkey").collect())
    T.delete_where_dv(spark, tbl, F.col("o_orderkey") == keys[0])
    # pruned merge must not resurrect DV-deleted rows (falls back to full)
    upd = o.filter(F.col("o_orderkey") == keys[1]).withColumn("o_orderstatus", F.lit("X"))
    T.merge_upsert_pruned(spark, upd, tbl, key_cols=["o_orderkey"])
    live = T.read(spark, tbl)
    assert live.filter(F.col("o_orderkey") == keys[0]).count() == 0
    assert live.filter("o_orderstatus = 'X'").count() == 1
    assert T.snapshot_dv(tbl) is None  # merge cleared it
    # vacuum reclaims the now-unreferenced DV sidecar
    deleted = T.vacuum(tbl, keep_versions=1)
    assert any(d.startswith("dv-") for d in deleted)
    assert live.count() == T.read(spark, tbl).count()


def test_export_manifest_cross_engine(spark, sf_dir, tbl, tmp_path):
    """The exported manifest is consumable by a FOREIGN engine: DuckDB reads
    exactly the snapshot through plain parquet paths, no log knowledge."""
    import duckdb

    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(30).repartition(3), tbl)
    T.append(o.limit(50).repartition(2), tbl)
    mf = str(tmp_path / "manifest.txt")
    n_files = T.export_manifest(tbl, mf)
    assert n_files == 5
    paths = [ln for ln in open(mf).read().splitlines() if ln]
    got = duckdb.connect().execute(
        "SELECT COUNT(*), SUM(o_orderkey) FROM read_parquet(?)", [paths]
    ).fetchone()
    want = T.read(spark, tbl).agg(
        F.count(F.lit(1)), F.sum("o_orderkey")
    ).first()
    assert (got[0], got[1]) == (want[0], want[1])
    # pending DV blocks plain-reader export
    T.delete_where_dv(spark, tbl, "o_totalprice > 0")
    with pytest.raises(ValueError, match="deletion vector"):
        T.export_manifest(tbl, mf)


def test_delete_dv_commit_is_conflict_checked(spark, sf_dir, tbl):
    """A deletion-vector commit depends on its read snapshot exactly like a
    remove-bearing commit: the DV names that snapshot's files and unions its
    prior DV. Publishing one against a moved tip must raise, not silently
    resurrect the interleaved writer's deletes (review r3)."""
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    T.create_table(o.limit(40), tbl)
    rv = T.current_version(tbl)
    T.delete_where_dv(spark, tbl, "o_orderstatus = 'F'")  # tip moves past rv
    with pytest.raises(T.ConcurrentModificationError):
        T._commit(
            tbl,
            {"operation": "delete_dv", "dv": "dv-stale", "dv_rows": 0},
            read_version=rv,
        )
    # interleaved end-to-end: both writers computed against the same tip
    n_after_first = T.read(spark, tbl).count()
    rv2 = T.current_version(tbl)
    T.delete_where_dv(spark, tbl, "o_orderstatus = 'O'")
    second = T.read(spark, tbl).count()
    assert second < n_after_first  # loser raced out, winner's deletes live


def test_restore_rejects_vacuumed_dv(spark, sf_dir, tbl):
    """RESTORE to a version whose deletion-vector sidecar was vacuumed must
    fail the existence check (not commit a state whose reads would die)."""
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(50), tbl)
    T.delete_where_dv(spark, tbl, "o_totalprice > 100000")  # v1: pending DV
    dv_version = T.current_version(tbl)
    T.restore(tbl, 0)  # v2: same data files as v0/v1, no DV
    T.vacuum(tbl, keep_versions=1)  # data files still referenced; DV is not
    with pytest.raises(FileNotFoundError, match="dv-"):
        T.restore(tbl, dv_version)
    # table is still intact at the tip (full v0 contents)
    assert T.read(spark, tbl).count() == 50


def test_bloom_probe_int_vs_double_column(spark, sf_dir, tbl):
    """An int equality probe against a DOUBLE bloom column must not hash
    differently from the stored 1.0-style values: that would prune every
    file and return a WRONG (empty) answer, not just a missed prune."""
    o = _orders(spark, sf_dir).select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price_d")
    )
    keyed = o.withColumn("price_d", F.floor("price_d").cast("double"))
    T.create_table(keyed.limit(200).coalesce(1), tbl, bloom_cols=["price_d"])
    some = int(T.read(spark, tbl).select("price_d").first()[0])
    got = T.read(spark, tbl, eq=("price_d", some))  # int probe, double column
    want = T.read(spark, tbl).filter(F.col("price_d") == some)
    assert got.count() == want.count() > 0


# --- WAP branches (write-audit-publish) --------------------------------------


def test_wap_branch_isolated_then_published(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(100), tbl)
    T.set_constraints(tbl, {"price_pos": "o_totalprice > 0"})
    T.branch_create(tbl, "etl")
    assert T.list_branches(tbl) == ["etl"]
    T.append(o.limit(150).exceptAll(o.limit(100)), tbl, branch="etl")
    # branch sees base + writes; main is untouched until publish
    assert T.read(spark, tbl, branch="etl").count() == 150
    assert T.read(spark, tbl).count() == 100
    assert T.audit_branch(spark, tbl, "etl") == {}
    v = T.publish_branch(spark, tbl, "etl")
    assert T.read(spark, tbl).count() == 150
    assert T.read(spark, tbl, version=v - 1).count() == 100  # history intact
    assert T.list_branches(tbl) == []
    assert T.history(tbl)[-1]["operation"] == "publish_branch"


def test_wap_audit_rejects_bad_branch_main_untouched(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(20), tbl)
    T.set_constraints(tbl, {"price_pos": "o_totalprice > 0"})
    T.branch_create(tbl, "bad")
    T.append(
        o.limit(5).withColumn("o_totalprice", F.lit(-1.0)), tbl, branch="bad"
    )
    tip_before = T.current_version(tbl)
    with pytest.raises(T.ConstraintViolation):
        T.publish_branch(spark, tbl, "bad")
    # main tip unmoved, branch intact for fix-up; drop cleans its files only
    assert T.current_version(tbl) == tip_before
    assert T.list_branches(tbl) == ["bad"]
    deleted = T.drop_branch(tbl, "bad")
    assert deleted and T.list_branches(tbl) == []
    assert T.read(spark, tbl).count() == 20  # base files untouched by drop


def test_wap_append_only_branch_fast_forwards_over_moved_tip(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(10), tbl)
    T.branch_create(tbl, "ff")
    branch_rows = o.limit(40).exceptAll(o.limit(30))
    T.append(branch_rows, tbl, branch="ff")
    # main advances independently while the branch is open
    T.append(o.limit(20).exceptAll(o.limit(10)), tbl)
    T.publish_branch(spark, tbl, "ff")
    assert T.read(spark, tbl).count() == 10 + 10 + 10


def test_wap_overwriting_branch_conflicts_on_moved_tip(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(10), tbl)
    T.branch_create(tbl, "rw")
    T.overwrite(o.limit(5), tbl, branch="rw")
    T.append(o.limit(20).exceptAll(o.limit(10)), tbl)  # tip moves
    with pytest.raises(T.ConcurrentModificationError):
        T.publish_branch(spark, tbl, "rw")
    T.drop_branch(tbl, "rw")
    assert T.read(spark, tbl).count() == 20  # interleaved append survived


def test_wap_vacuum_keeps_open_branch_files(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir)
    T.create_table(o.limit(100), tbl)
    T.branch_create(tbl, "slow")
    T.append(o.limit(110).exceptAll(o.limit(100)), tbl, branch="slow")
    # main compacts + vacuums aggressively while the branch is open: the
    # branch's base files leave main's recent snapshots but must survive
    T.compact(spark, tbl)
    T.vacuum(tbl, keep_versions=1)
    assert T.read(spark, tbl, branch="slow").count() == 110
    # append-only branch still publishes over the compacted tip
    T.publish_branch(spark, tbl, "slow")
    assert T.read(spark, tbl).count() == 110


# --- metadata-only column rename (column mapping) ----------------------------


def test_rename_column_metadata_only_and_time_travel(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(50), tbl, stat_cols=["o_totalprice"])
    files_before = {a["file"] for a in T.snapshot_files(tbl)}
    v = T.rename_column(tbl, "o_totalprice", "price")
    # zero data churn: same physical files before and after
    assert {a["file"] for a in T.snapshot_files(tbl)} == files_before
    cur = T.read(spark, tbl)
    assert "price" in cur.columns and "o_totalprice" not in cur.columns
    old = T.read(spark, tbl, version=v - 1)
    assert "o_totalprice" in old.columns  # time travel is name-faithful
    assert (
        cur.agg(F.sum("price")).first()[0]
        == old.agg(F.sum("o_totalprice")).first()[0]
    )


def test_rename_column_merges_mixed_name_files(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(30), tbl)
    T.rename_column(tbl, "o_totalprice", "price")
    # post-rename writer appends under the new schema; pre-rename files keep
    # the old physical name — the read coalesces both populations
    T.append(
        o.limit(40).exceptAll(o.limit(30)).withColumnRenamed(
            "o_totalprice", "price"
        ),
        tbl,
    )
    cur = T.read(spark, tbl)
    assert set(cur.columns) == {"o_orderkey", "price"}
    assert cur.count() == 40
    assert cur.filter(F.col("price").isNull()).count() == 0


def test_rename_column_chain_validation_and_checkpoint(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(10), tbl)
    T.rename_column(tbl, "o_totalprice", "price_v1")
    T.rename_column(tbl, "price_v1", "price")
    assert "price" in T.read(spark, tbl).columns
    with pytest.raises(ValueError):
        T.rename_column(tbl, "nope", "x")
    with pytest.raises(ValueError):
        T.rename_column(tbl, "o_orderkey", "price")  # target exists
    # cross a checkpoint boundary: the folded mapping must survive the
    # checkpointed replay (readers only see the tail)
    extra = o.limit(11).exceptAll(o.limit(10)).withColumnRenamed(
        "o_totalprice", "price"
    )
    for _ in range(T.CHECKPOINT_EVERY + 2):
        T.append(extra, tbl)
    cur = T.read(spark, tbl)
    assert set(cur.columns) == {"o_orderkey", "price"}
    assert cur.filter(F.col("price").isNull()).count() == 0


def test_rename_column_predicates_use_logical_name(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(100), tbl, stat_cols=["o_totalprice"])
    T.rename_column(tbl, "o_totalprice", "price")
    lo = T.read(spark, tbl).agg(F.min("price")).first()[0]
    got = T.read(spark, tbl, between=("price", lo, lo)).count()
    want = T.read(spark, tbl).filter(F.col("price") == lo).count()
    assert got == want > 0


def test_rename_column_merge_pruned_and_dv_use_logical_names(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(40), tbl, stat_cols=["o_orderkey"])
    T.rename_column(tbl, "o_orderkey", "ok")
    # pruned MERGE keyed on the LOGICAL name must still match rows living in
    # pre-rename files (their physical column is o_orderkey)
    some = [r["ok"] for r in T.read(spark, tbl).limit(3).collect()]
    updates = T.read(spark, tbl).filter(F.col("ok").isin(some)).withColumn(
        "o_totalprice", F.lit(0.0)
    )
    T.merge_upsert_pruned(spark, updates, tbl, key_cols=["ok"])
    cur = T.read(spark, tbl)
    assert cur.count() == 40  # no silent duplicates
    assert cur.filter(F.col("ok").isin(some)).agg(
        F.sum("o_totalprice")
    ).first()[0] == 0.0
    # DV delete by logical-name predicate on a pre-rename file population
    T.delete_where_dv(spark, tbl, F.col("ok") == some[0])
    assert T.read(spark, tbl).filter(F.col("ok") == some[0]).count() == 0


def test_rename_column_export_refuses_then_compact_clears(spark, sf_dir, tbl, tmp_path):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(20), tbl)
    T.rename_column(tbl, "o_totalprice", "price")
    with pytest.raises(ValueError, match="column renames"):
        T.export_manifest(tbl, str(tmp_path / "m.txt"))
    # a full rewrite materializes the mapping into the data and clears it
    T.compact(spark, tbl)
    assert T.snapshot_renames(tbl) == []
    assert "price" in T.read(spark, tbl).columns
    assert T.export_manifest(tbl, str(tmp_path / "m.txt")) > 0


def test_rename_column_restore_pins_historical_names(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(10), tbl)
    T.rename_column(tbl, "o_totalprice", "price")
    v = T.restore(tbl, 0)
    cur = T.read(spark, tbl, version=v)
    assert "o_totalprice" in cur.columns and "price" not in cur.columns


def test_wap_branch_stream_writer_exactly_once_then_publish(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(10), tbl)
    T.set_constraints(tbl, {"price_pos": "o_totalprice > 0"})
    T.branch_create(tbl, "v2")
    write = T.stream_writer(tbl, branch="v2")
    b1 = o.limit(20).exceptAll(o.limit(10))
    b2 = o.limit(30).exceptAll(o.limit(20))
    write(b1, 0)
    write(b2, 1)
    write(b2, 1)  # replayed epoch (restart between write and checkpoint)
    assert T.committed_batch_ids(tbl, branch="v2") == {0, 1}
    assert T.read(spark, tbl, branch="v2").count() == 30  # no doubling
    assert T.read(spark, tbl).count() == 10  # main untouched mid-stream
    assert T.audit_branch(spark, tbl, "v2") == {}
    T.publish_branch(spark, tbl, "v2")
    assert T.read(spark, tbl).count() == 30


def test_register_view_sql_over_versions(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(10), tbl)
    T.append(o.limit(20).exceptAll(o.limit(10)), tbl)
    T.read(spark, tbl).createOrReplaceTempView("tl_now")
    T.read(spark, tbl, version=0).createOrReplaceTempView("tl_v0")
    assert spark.sql("SELECT COUNT(*) c FROM tl_now").first()["c"] == 20
    assert spark.sql("SELECT COUNT(*) c FROM tl_v0").first()["c"] == 10
    spark.catalog.dropTempView("tl_now")
    spark.catalog.dropTempView("tl_v0")


# --- shallow clone ------------------------------------------------------------


def test_clone_zero_copy_and_independent(spark, sf_dir, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(50), src, stat_cols=["o_orderkey"])
    T.clone_table(src, dst)
    # zero copy: the clone directory holds no parquet data files
    assert not [f for f in os.listdir(dst) if f.endswith(".parquet")]
    assert T.read(spark, dst).count() == 50
    # stats rode along: skipping works on the clone
    lo = T.read(spark, dst).agg(F.min("o_orderkey")).first()[0]
    kept, total = T.pruned_file_count(dst, "o_orderkey", lo, lo)
    assert kept <= total
    # independence both ways
    T.append(o.limit(60).exceptAll(o.limit(50)), dst)
    assert T.read(spark, src).count() == 50
    T.append(o.limit(70).exceptAll(o.limit(60)), src)
    assert T.read(spark, dst).count() == 60


def test_clone_compact_detaches_from_source(spark, sf_dir, tmp_path):
    import shutil as _sh

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(30), src)
    T.clone_table(src, dst)
    T.compact(spark, dst)  # re-stages into the clone's own directory
    assert all("dir" not in a for a in T.snapshot_files(dst))
    _sh.rmtree(src)  # source gone entirely: the clone must survive
    assert T.read(spark, dst).count() == 30


def test_clone_refuses_pending_dv_and_pins_renames(spark, sf_dir, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(20), src)
    T.rename_column(src, "o_totalprice", "price")
    T.delete_where_dv(spark, src, F.col("price") < 0)  # empty but pending DV
    with pytest.raises(ValueError, match="deletion vector"):
        T.clone_table(src, dst)
    T.compact(spark, src)
    T.rename_column(src, "price", "price2")  # mapping pending again
    T.clone_table(src, dst)
    assert "price2" in T.read(spark, dst).columns


def test_compact_small_rewrites_only_slivers(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(5000), tbl)  # the settled bulk
    big = {a["file"] for a in T.snapshot_files(tbl)}
    for k in range(4):  # four streamed 10-row slivers (re-sent rows)
        T.append(
            o.filter(F.col("o_orderkey").between(10 * k, 10 * k + 9)).coalesce(1),
            tbl,
        )
    assert len(T.snapshot_files(tbl)) == len(big) + 4
    n_before = T.read(spark, tbl).count()
    v = T.compact_small(spark, tbl, small_bytes=16 * 1024, min_small=2)
    assert v is not None
    after = {a["file"] for a in T.snapshot_files(tbl)}
    # every bulk file survived untouched; the slivers merged into one
    assert big <= after
    assert len(after) == len(big) + 1
    assert T.read(spark, tbl).count() == n_before
    # already-healthy layout: no-op
    assert T.compact_small(spark, tbl, small_bytes=16 * 1024, min_small=2) is None


def test_model_based_random_op_sequences(spark, tmp_path):
    """Model-based check of the log algebra: seeded random sequences of
    append / overwrite / rename / partial-compact / WAP-publish / restore
    run against a table, with an in-memory model tracking the expected
    (rows, columns) at EVERY version. After each op the live snapshot must
    match the model; at the end every historical version must too (time
    travel through arbitrary op interleavings)."""
    import random

    def snap_matches(path, version, model_rows, model_cols):
        df = T.read(spark, path, version=version)
        assert set(df.columns) == set(model_cols), (version, df.columns, model_cols)
        got = sorted((r[0], r[1]) for r in df.select(*model_cols).collect())
        assert got == sorted(model_rows), f"v{version}: {got[:3]}... != model"

    for seed in (7, 23, 51):
        rng = random.Random(seed)
        path = str(tmp_path / f"m{seed}")
        nxt = [0]

        def fresh_rows(k):
            rows = [(nxt[0] + i, float(rng.randint(0, 99))) for i in range(k)]
            nxt[0] += k
            return rows

        def df_of(rows, cols):
            return spark.createDataFrame(
                [(int(a), float(b)) for a, b in rows], list(cols)
            )

        cols = ("id", "val")
        rows = fresh_rows(5)
        T.create_table(df_of(rows, cols), path)
        history = [(list(rows), cols)]  # model per version

        for _ in range(7):
            op = rng.choice(["append", "overwrite", "rename", "compact", "wap", "restore"])
            if op == "append":
                new = fresh_rows(rng.randint(1, 4))
                T.append(df_of(new, cols), path)
                rows = rows + new
            elif op == "overwrite":
                rows = fresh_rows(rng.randint(2, 5))
                T.overwrite(df_of(rows, cols), path)
            elif op == "rename":
                old = cols[1]
                new_name = old + "x"
                T.rename_column(path, old, new_name)
                cols = (cols[0], new_name)
            elif op == "compact":
                got = T.compact_small(spark, path, small_bytes=1 << 30, min_small=1)
                if got is None:
                    continue
            elif op == "wap":
                T.branch_create(path, "b")
                new = fresh_rows(rng.randint(1, 3))
                T.append(df_of(new, cols), path, branch="b")
                assert T.read(spark, path).count() == len(rows)  # isolation
                T.publish_branch(spark, path, "b")
                rows = rows + new
            elif op == "restore":
                v = rng.randrange(len(history))
                T.restore(path, v)
                rows, cols = list(history[v][0]), history[v][1]
            history.append((list(rows), cols))
            snap_matches(path, len(history) - 1, rows, cols)

        # time travel: every recorded version still reproduces its model
        for v in range(0, len(history), 2):
            snap_matches(path, v, *history[v])


def test_clone_restore_to_referencing_version(spark, sf_dir, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(15), src)
    T.clone_table(src, dst)
    T.overwrite(o.limit(5), dst)  # clone diverges
    v = T.restore(dst, 0)  # back to the source-referencing snapshot
    assert v is not None and T.read(spark, dst).count() == 15


def test_schema_enforcement_rejects_drift(spark, sf_dir, tbl):
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    T.create_table(o.limit(10), tbl)
    T.set_schema_enforcement(tbl)
    with pytest.raises(T.SchemaMismatch):
        T.append(o.limit(12).withColumn("extra", F.lit(1)), tbl)
    with pytest.raises(T.SchemaMismatch):
        T.append(o.limit(12).select("o_orderkey"), tbl)
    T.append(o.limit(15).exceptAll(o.limit(10)), tbl)  # matching: fine
    assert T.read(spark, tbl).count() == 15
    # enforcement follows renames: the LOGICAL schema is the contract
    T.rename_column(tbl, "o_totalprice", "price")
    with pytest.raises(T.SchemaMismatch):
        T.append(o.limit(16).exceptAll(o.limit(15)), tbl)  # old names now drift
    T.append(
        o.limit(16).exceptAll(o.limit(15)).withColumnRenamed("o_totalprice", "price"),
        tbl,
    )
    # explicit evolution: disable, widen, done
    T.set_schema_enforcement(tbl, False)
    T.append(
        o.limit(17).exceptAll(o.limit(16))
        .withColumnRenamed("o_totalprice", "price")
        .withColumn("extra", F.lit(1)),
        tbl,
    )
    assert T.read(spark, tbl).count() == 17


def test_timestamp_as_of_time_travel(spark, sf_dir, tbl):
    """TIMESTAMP AS OF: commits record a UTC timestamp; read(as_of=ts)
    resolves the latest snapshot at-or-before ts, a ts before the first
    commit raises, and a future ts reads the tip."""
    import datetime as dt

    o = _orders(spark, sf_dir).limit(30)
    T.create_table(o.limit(10), tbl)
    T.append(o.limit(20).subtract(o.limit(10)), tbl)
    T.append(o.subtract(o.limit(20)), tbl)
    hist = T.history(tbl)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert all(h["ts"] is not None for h in hist)

    # exactly at each commit's own timestamp -> that version
    for h, want in zip(hist, (10, 20, 30)):
        assert T.version_at(tbl, h["ts"]) == h["version"]
        assert T.read(spark, tbl, as_of=h["ts"]).count() == want

    # far future -> tip; datetime input accepted
    future = dt.datetime.now(dt.timezone.utc) + dt.timedelta(days=1)
    assert T.read(spark, tbl, as_of=future).count() == 30

    # before the first commit -> error
    past = dt.datetime.fromisoformat(hist[0]["ts"]) - dt.timedelta(seconds=1)
    with pytest.raises(ValueError, match="no snapshot"):
        T.version_at(tbl, past)


def test_version_at_monotonizes_skewed_clocks(spark, sf_dir, tbl):
    """ADVICE r3: commit timestamps come from writer wall clocks, so a later
    version can carry an EARLIER ts (clock skew between concurrent writers).
    version_at must monotonize effective timestamps Delta-style
    (max(ts, prev+1us)) instead of early-breaking on the first ts > target —
    a skewed clock must never resolve a query to a superseded snapshot."""
    import datetime as dt
    import json
    import os

    o = _orders(spark, sf_dir).limit(30)
    T.create_table(o.limit(10), tbl)
    T.append(o.limit(20).subtract(o.limit(10)), tbl)
    T.append(o.subtract(o.limit(20)), tbl)
    hist = T.history(tbl)
    t0 = dt.datetime.fromisoformat(hist[0]["ts"])

    # skew version 1's wall clock 10 minutes BEFORE version 0's
    p1 = os.path.join(tbl, "_txn_log", f"{1:020d}.json")
    with open(p1) as f:
        e1 = json.load(f)
    e1["ts"] = (t0 - dt.timedelta(minutes=10)).isoformat()
    with open(p1, "w") as f:
        json.dump(e1, f)

    # at v0's own ts: v1's effective ts is monotonized to t0+1us (> t0), so
    # v0 still wins — the naive raw-ts scan would pick v1 (stale-ts newer
    # version) or, with an early break, miss v2 entirely
    assert T.version_at(tbl, hist[0]["ts"]) == 0
    # just past v0: the skewed v1 becomes visible (effective t0+1us)
    assert (
        T.version_at(tbl, t0 + dt.timedelta(microseconds=1)) == 1
    )
    # v2's genuine ts still resolves to the tip despite the non-monotone
    # entry in the middle (no early break)
    assert T.version_at(tbl, hist[2]["ts"]) == 2
    assert T.read(spark, tbl, as_of=hist[2]["ts"]).count() == 30
    # before everything -> still an error
    with pytest.raises(ValueError, match="no snapshot"):
        T.version_at(tbl, t0 - dt.timedelta(days=1))


def test_log_fold_stays_checkpoint_bounded_at_500_versions(spark, sf_dir, tbl):
    """VERDICT r3 #8: with checkpointing every CHECKPOINT_EVERY commits, the
    per-read log fold must stay O(since-checkpoint) no matter how long the
    table lives. Drive ~500 versions (metadata-only rename ping-pong
    interleaved with appends, a branch, and a shallow clone) and pin, at a
    sweep of version depths, that snapshot_files replays at most the
    checkpoint tail — the deterministic proxy for flat read() latency."""
    from unittest import mock

    o = _orders(spark, sf_dir)
    T.create_table(o.limit(3), tbl)
    # 500 versions: cheap metadata-only renames dominate; every 25th commit
    # is a real append so checkpointed file lists keep growing; a branch and
    # a clone interleave to prove neither disturbs the main-log fold
    renamed = False
    for i in range(500):
        if i % 25 == 0:
            T.append(o.limit(1), tbl)
        elif renamed:
            T.rename_column(tbl, "order_key", "o_orderkey")
            renamed = False
        else:
            T.rename_column(tbl, "o_orderkey", "order_key")
            renamed = True
        if i == 100:
            T.branch_create(tbl, "probe")
        if i == 200:
            T.clone_table(tbl, tbl + "_clone")
    tip = T.current_version(tbl)
    assert tip >= 500

    counts = {}
    for v in (tip, tip - 97, tip - 251, 260):
        with mock.patch.object(
            T, "_read_entry", side_effect=T._read_entry
        ) as spy:
            files = T.snapshot_files(tbl, v)
            assert files  # fold still lands on live data
            counts[v] = spy.call_count
    # every depth folds at most one checkpoint interval of tail entries
    # (+1 for the entry at the checkpoint boundary itself)
    for v, c in counts.items():
        assert c <= T.CHECKPOINT_EVERY + 1, (v, c, counts)
    # version_at must be checkpoint-bounded too (ADVICE r4: it regressed to
    # O(total versions) entry reads): a tip-time lookup starts at the newest
    # eff_ts-folded checkpoint and early-breaks past the target
    import datetime as _ldt

    with mock.patch.object(T, "_read_entry", side_effect=T._read_entry) as spy:
        v_now = T.version_at(tbl, _ldt.datetime.now(_ldt.timezone.utc))
        assert v_now == tip
        assert spy.call_count <= T.CHECKPOINT_EVERY + 1, spy.call_count
    # and a mid-log lookup resolves exactly (strict +1µs rule: querying at a
    # commit's own effective ts yields that commit), also checkpoint-bounded
    mid = tip - 97
    mid_eff = T._effective_ts_at(tbl, mid)
    with mock.patch.object(T, "_read_entry", side_effect=T._read_entry) as spy:
        assert T.version_at(tbl, mid_eff) == mid
        assert spy.call_count <= 2 * (T.CHECKPOINT_EVERY + 1), spy.call_count
    # and the row data is still correct at the tip (renames fold cleanly
    # through 500 versions: the last rename state decides the column name)
    df = T.read(spark, tbl)
    assert df.count() == 3 + len([i for i in range(500) if i % 25 == 0])
    assert ("o_orderkey" in df.columns) or ("order_key" in df.columns)

def test_randomized_interleaving_one_winner_per_version_no_lost_updates(
    spark, sf_dir, tbl
):
    """VERDICT r4 #6: randomized concurrent-writer interleavings over the
    whole write surface (append / delete-DV / compact / rename ping-pong /
    shallow clone). Seeded sweep; per seed, 3 threads each run 4 ops with
    jittered scheduling. Invariants:

    - exactly one winner per version: committed versions are unique and
      dense (EXCL-create can never hand two writers the same slot);
    - remove-bearing ops (delete-DV, compact) either commit against an
      unmoved tip or abort with ConcurrentModificationError — never a
      blind publish;
    - no lost updates: replaying ONLY the committed ops in version order
      over a driver-side key set reproduces the final table exactly."""
    import random
    import threading
    import time as _t

    o = _orders(spark, sf_dir)
    all_keys = sorted(
        r.o_orderkey for r in o.select("o_orderkey").distinct().limit(200).collect()
    )

    for seed in (7, 23):
        path = f"{tbl}_ilv{seed}"
        T.create_table(o.limit(0), path)
        rng = random.Random(seed)
        cursor = 0
        plans = []
        for tid in range(3):
            ops = []
            for _ in range(4):
                kind = rng.choice(
                    ["append", "append", "append", "delete", "compact", "rename", "clone"]
                )
                if kind == "append":
                    batch = all_keys[cursor : cursor + 10]
                    cursor += 10
                    ops.append(("append", batch))
                else:
                    ops.append((kind, None))
            plans.append(ops)

        committed: list[tuple[int, str, object]] = []  # (version, kind, payload)
        aborted: list[str] = []
        lock = threading.Lock()
        errors: list = []

        def run(tid, ops):
            rlocal = random.Random(1000 + tid)
            flip = False
            for i, (kind, arg) in enumerate(ops):
                _t.sleep(rlocal.random() * 0.05)
                try:
                    if kind == "append":
                        df = o.filter(F.col("o_orderkey").isin(arg))
                        v = T.append(df, path)
                        with lock:
                            committed.append((v, "append", set(arg)))
                    elif kind == "delete":
                        v = T.delete_where_dv(
                            spark, path, F.col("o_orderkey") % 5 == 2
                        )
                        with lock:
                            committed.append((v, "delete", None))
                    elif kind == "compact":
                        v = T.compact(spark, path)
                        with lock:
                            committed.append((v, "compact", None))
                    elif kind == "rename":
                        old, new = (
                            ("order_key", "o_orderkey")
                            if flip
                            else ("o_orderkey", "order_key")
                        )
                        flip = not flip
                        v = T.rename_column(path, old, new)
                        with lock:
                            committed.append((v, "rename", (old, new)))
                    elif kind == "clone":
                        dst = f"{path}_clone{tid}_{i}"
                        T.clone_table(path, dst)
                        cl = {
                            r[0]
                            for r in T.read(spark, dst)
                            .select(T.read(spark, dst).columns[0])
                            .collect()
                        }
                        with lock:
                            committed.append((None, "clone", cl))
                except T.ConcurrentModificationError:
                    with lock:
                        aborted.append(kind)
                except ValueError:
                    if kind != "rename":
                        raise
                    # rename validation TOCTOU: another thread renamed the
                    # column between this op's schema read and commit — an
                    # acceptable race abort (reads stay coherent either way;
                    # _apply_renames coalesces duplicated mappings)
                    with lock:
                        aborted.append(kind)
                except Exception as e:  # pragma: no cover - failure surface
                    with lock:
                        errors.append((tid, kind, repr(e)))

        threads = [
            threading.Thread(target=run, args=(tid, ops))
            for tid, ops in enumerate(plans)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors

        # exactly one winner per version: unique, dense 1..n (v0 = create)
        versions = sorted(v for v, _, _ in committed if v is not None)
        assert versions == list(range(1, len(versions) + 1)), (versions, aborted)
        hist_versions = [h["version"] for h in T.history(path)]
        assert hist_versions == list(range(len(versions) + 1)), hist_versions

        # no lost updates: replay committed ops in version order
        keys: set = set()
        ever_appended: set = set()
        for v, kind, payload in sorted(
            ((v, k, p) for v, k, p in committed if v is not None),
            key=lambda x: x[0],
        ):
            if kind == "append":
                keys |= payload
                ever_appended |= payload
            elif kind == "delete":
                # committed only if tip unmoved since its read snapshot, so
                # its effect is exactly the matching keys present at commit
                keys -= {k for k in keys if k % 5 == 2}
            # compact / rename / clone: no row-set effect
        final = T.read(spark, path)
        keycol = "order_key" if "order_key" in final.columns else "o_orderkey"
        got = {r[0] for r in final.select(keycol).collect()}
        assert got == keys, (
            f"seed {seed}: lost/resurrected updates "
            f"(missing {sorted(keys - got)[:5]}, extra {sorted(got - keys)[:5]})"
        )
        # every clone snapshot only ever saw appended keys
        for v, kind, payload in committed:
            if kind == "clone":
                assert payload <= ever_appended

def test_rename_logical_conflict_detection(spark, sf_dir, tbl):
    """Racing metadata commits (Delta's metadata-update conflict rule): a
    rename validated at a stale tip must abort when an interleaved commit
    also touched the column mapping (another rename, or a rewriting op that
    resets it), but must PROCEED over interleaved appends — appends don't
    conflict with a rename."""
    import json as _json

    o = _orders(spark, sf_dir)
    T.create_table(o.limit(5), tbl)

    # interleaved APPEND: no logical conflict, rename proceeds at a new slot
    rv = T.current_version(tbl)
    T.append(o.limit(2), tbl)
    schema = _json.loads(T._read_entry(tbl, 0)["schema"])
    for f in schema["fields"]:
        if f["name"] == "o_orderkey":
            f["name"] = "order_key"
    v = T._commit(
        tbl,
        {"operation": "rename_column", "renames": {"o_orderkey": "order_key"},
         "schema": _json.dumps(schema)},
        read_version=rv,
        conflict_on=("renames", "renames_set"),
    )
    assert v == rv + 2
    assert "order_key" in T.read(spark, tbl).columns

    # interleaved RENAME: logical conflict, the stale one aborts
    rv = T.current_version(tbl)
    T.rename_column(tbl, "o_orderstatus", "status")
    with pytest.raises(T.ConcurrentModificationError, match="renames"):
        T._commit(
            tbl,
            {"operation": "rename_column", "renames": {"order_key": "okey"},
             "schema": T._read_entry(tbl, 0)["schema"]},
            read_version=rv,
            conflict_on=("renames", "renames_set"),
        )

    # interleaved COMPACT (renames_set reset): also a logical conflict
    rv = T.current_version(tbl)
    T.compact(spark, tbl)
    with pytest.raises(T.ConcurrentModificationError, match="renames"):
        T._commit(
            tbl,
            {"operation": "rename_column", "renames": {"status": "st"},
             "schema": T._read_entry(tbl, 0)["schema"]},
            read_version=rv,
            conflict_on=("renames", "renames_set"),
        )
    # the documented recovery — re-invoke (re-validates) — succeeds
    T.rename_column(tbl, "status", "st")
    assert "st" in T.read(spark, tbl).columns


def test_version_at_checkpoint_fold_equals_checkpoint_free_replay(spark, sf_dir, tbl):
    """VERDICT r5 #6: the checkpoint eff_ts fold (tablog.py _commit /
    _eff_checkpoints_desc / version_at) must be a pure ACCELERATION — for a
    log with heavily skewed writer clocks (and legacy no-ts tail entries),
    ``version_at(ts)`` must resolve identically on the checkpointed log and
    on a checkpoint-stripped copy (full replay from v0) at probes just
    before / exactly at / just after EVERY version's effective timestamp,
    plus a random probe sweep. Also pins the steady-state cost: a
    tip-adjacent probe parses exactly ONE checkpoint body and at most one
    checkpoint interval of entries; a deep-past probe stays entry-bounded
    too (it may walk newer checkpoint bodies — documented)."""
    import datetime as dt
    import random
    import shutil
    from unittest import mock

    o = _orders(spark, sf_dir)
    rng = random.Random(41)
    clock = dt.datetime.now(dt.timezone.utc).replace(microsecond=0)

    def skew_ts(path, version):
        # Rewrite the just-committed entry's wall clock with a seeded random
        # walk where ~40% of steps go BACKWARD (concurrent-writer skew).
        # Checkpoint-boundary entries keep their natural clock: the fold at
        # version v reads entry v's ts inside the same _commit call, so a
        # post-hoc rewrite there would desynchronize fold and log — exactly
        # the hazard this test must not inject (earlier rewrites happen
        # before the next boundary commit, so every fold sees final values).
        nonlocal clock
        step = rng.choice([-90, -90, -5, -1, 0, 0, 1, 3, 60, 600])
        clock = clock + dt.timedelta(seconds=step, microseconds=rng.randrange(1000))
        if version % T.CHECKPOINT_EVERY == 0:
            return
        p = os.path.join(tbl, "_txn_log", f"{version:020d}.json")
        with open(p) as f:
            e = json.load(f)
        e["ts"] = clock.isoformat()
        with open(p, "w") as f:
            json.dump(e, f)

    T.create_table(o.limit(2), tbl)
    skew_ts(tbl, 0)
    renamed = False
    for i in range(1, 65):
        if i % 7 == 0:
            v = T.append(o.limit(1), tbl)
        elif renamed:
            v = T.rename_column(tbl, "order_key", "o_orderkey")
            renamed = False
        else:
            v = T.rename_column(tbl, "o_orderkey", "order_key")
            renamed = True
        assert v == i
        skew_ts(tbl, i)
    tip = T.current_version(tbl)
    assert tip == 64
    n_cps = len(
        [f for f in os.listdir(os.path.join(tbl, "_txn_log"))
         if f.startswith("_checkpoint-")]
    )
    assert n_cps == 6  # v10..v60

    # two legacy (no-ts) entries in the tail past the last checkpoint —
    # rewriting entries no checkpoint has folded keeps fold/log consistent
    for v in (62, 63):
        p = os.path.join(tbl, "_txn_log", f"{v:020d}.json")
        with open(p) as f:
            e = json.load(f)
        del e["ts"]
        with open(p, "w") as f:
            json.dump(e, f)

    # ground truth: same log, checkpoints stripped -> full replay from v0
    free = tbl + "_free"
    shutil.copytree(tbl, free)
    for f in os.listdir(os.path.join(free, "_txn_log")):
        if f.startswith("_checkpoint-"):
            os.remove(os.path.join(free, "_txn_log", f))
    assert next(T._eff_checkpoints_desc(free), None) is None

    def both(ts):
        out = []
        for path in (tbl, free):
            try:
                out.append(T.version_at(path, ts))
            except ValueError:
                out.append("no-snapshot")
        return out

    tick = dt.timedelta(microseconds=1)
    effs = [T._effective_ts_at(free, v) for v in range(tip + 1)]
    assert all(b - a >= tick for a, b in zip(effs, effs[1:])), (
        "monotonization must be strictly increasing"
    )
    for v, eff in enumerate(effs):
        for probe in (eff - tick, eff, eff + tick):
            got_cp, got_free = both(probe)
            assert got_cp == got_free, (v, probe, got_cp, got_free)
        # absolute: querying exactly at a commit's effective ts yields it
        assert T.version_at(tbl, eff) == v
    lo, hi = effs[0] - dt.timedelta(hours=1), effs[-1] + dt.timedelta(hours=1)
    for _ in range(50):
        probe = lo + (hi - lo) * rng.random()
        got_cp, got_free = both(probe)
        assert got_cp == got_free, (probe, got_cp, got_free)
    assert both(effs[0] - tick) == ["no-snapshot", "no-snapshot"]

    # steady-state cost, tip-adjacent probe: exactly ONE checkpoint body
    # parsed, at most one checkpoint interval (+boundary) of entry reads
    real_open = open
    cp_opens = []

    def spy_open(p, *a, **k):
        if isinstance(p, str) and os.path.basename(p).startswith("_checkpoint-"):
            cp_opens.append(p)
        return real_open(p, *a, **k)

    with mock.patch.object(T, "_read_entry", side_effect=T._read_entry) as spy, \
            mock.patch("builtins.open", side_effect=spy_open):
        assert T.version_at(tbl, effs[tip]) == tip
    assert len(cp_opens) == 1, cp_opens
    assert spy.call_count <= T.CHECKPOINT_EVERY + 1, spy.call_count

    # deep-past probe (just past the first checkpoint): entry reads stay
    # checkpoint-bounded; body parses bounded by the checkpoint count
    # (newest-first walk until eff_ts <= target — the documented trade)
    cp_opens.clear()
    deep = 2 * T.CHECKPOINT_EVERY + 2
    with mock.patch.object(T, "_read_entry", side_effect=T._read_entry) as spy, \
            mock.patch("builtins.open", side_effect=spy_open):
        assert T.version_at(tbl, effs[deep]) == deep
    assert spy.call_count <= T.CHECKPOINT_EVERY + 1, spy.call_count
    assert len(cp_opens) <= n_cps, cp_opens


# --- timestamp keys and bounds vs footer stats --------------------------------


def _day_expr(day: int, ntz: bool) -> str:
    e = f"timestamp_seconds({1_700_000_000 // 86400 * 86400 + day * 86400})"
    return f"to_timestamp_ntz({e})" if ntz else e


def _day_files(spark, path, ntz: bool, days: int = 4):
    """One commit (so one [d, d] stat range) per day, keyed on ``dt``: a
    TimestampType column (UTC-aware footer stats) or a TimestampNTZ one
    (naive stats)."""
    for day in range(days):
        df = spark.range(1, numPartitions=1).selectExpr(
            f"{_day_expr(day, ntz)} AS dt", f"{day}.0D AS v"
        )
        (T.create_table if day == 0 else T.append)(df, path, stat_cols=["dt"])


@pytest.fixture(params=["UTC", "America/New_York"])
def driver_tz(request):
    """Run under a given driver (Python) time zone: collected TimestampType
    values and naive literals are local wall-clock times there."""
    import time

    old = os.environ.get("TZ")
    os.environ["TZ"] = request.param
    time.tzset()
    yield request.param
    if old is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.mark.parametrize("ntz", [False, True], ids=["timestamp", "timestamp_ntz"])
def test_pruned_merge_timestamp_key_at_file_min_matches_unpruned(spark, tmp_path, ntz, driver_tz):
    """A [d, d] file whose only update key is d must be rewritten. The
    collected key is a naive datetime and the footer stat UTC-aware: unless
    they compare by value, the file is skipped and the day keeps two rows."""
    p1, p2 = str(tmp_path / "pruned"), str(tmp_path / "plain")
    _day_files(spark, p1, ntz)
    _day_files(spark, p2, ntz)
    upd = spark.range(1).selectExpr(f"{_day_expr(1, ntz)} AS dt", "-1.0D AS v")
    T.merge_upsert_pruned(spark, upd, p1, ["dt"], stat_cols=["dt"])
    T.merge_upsert(spark, upd, p2, ["dt"], stat_cols=["dt"])
    got = sorted(T.read(spark, p1).collect())
    assert got == sorted(T.read(spark, p2).collect())
    assert len(got) == 4 and len({r.dt for r in got}) == 4
    assert sorted(r.v for r in got) == [-1.0, 0.0, 2.0, 3.0]
    # only the file holding the key was rewritten
    assert T.history(p1)[-1]["n_removed"] == 1


@pytest.mark.parametrize("max_probe_keys", [1, 2, 100_000])
def test_pruned_merge_key_collect_paths_match_unpruned(spark, tmp_path, max_probe_keys):
    """Every way the pruned MERGE gets its keys gives the full merge's
    table: all rows collected (<= max_probe_keys rows), distinct keys after
    too many rows (2 keys in 3 rows), and the [min, max] interval once the
    distinct keys exceed max_probe_keys."""
    base = spark.createDataFrame([(k, "old") for k in range(1, 9)], "k int, v string")
    p1, p2 = str(tmp_path / "pruned"), str(tmp_path / "plain")
    for p in (p1, p2):
        T.create_table(base.repartitionByRange(4, "k"), p, stat_cols=["k"])
    upd = spark.createDataFrame([(2, "a"), (2, "b"), (7, "c")], "k int, v string")
    T.merge_upsert_pruned(spark, upd, p1, ["k"], stat_cols=["k"], max_probe_keys=max_probe_keys)
    T.merge_upsert(spark, upd, p2, ["k"], stat_cols=["k"])
    assert sorted(T.read(spark, p1).collect()) == sorted(T.read(spark, p2).collect())


@pytest.mark.parametrize("ntz", [False, True], ids=["timestamp", "timestamp_ntz"])
def test_read_between_datetime_bounds_returns_every_row(spark, tmp_path, ntz, driver_tz):
    """Datetime bounds equal to a file's min/max must keep that file:
    read(between=/eq=) and pruned_file_count compare in the stats' form,
    and the re-applied filter keeps the rows whose collected value lies in
    the bounds — for an NTZ column on a non-UTC driver too, where the
    bound is wall-clock time in no zone."""
    p = str(tmp_path / "t")
    _day_files(spark, p, ntz)
    full = T.read(spark, p).collect()
    days = sorted(r.dt for r in full)
    d1 = days[1]
    assert T.pruned_file_count(p, "dt", d1, d1) == (1, 4)
    assert T.pruned_file_count(p, "dt", days[0], days[2]) == (3, 4)
    for got, lo, hi in [
        (T.read(spark, p, between=("dt", d1, d1)), d1, d1),
        (T.read(spark, p, between=("dt", days[0], days[2])), days[0], days[2]),
        (T.read(spark, p, eq=("dt", d1)), d1, d1),
    ]:
        assert sorted(got.collect()) == sorted(r for r in full if lo <= r.dt <= hi)
    assert T.read(spark, p, between=("dt", d1, d1)).count() == 1
    assert T.read(spark, p, eq=("dt", d1)).count() == 1


def test_eq_probe_on_timestamp_bloom_keeps_matching_file(spark, tmp_path, driver_tz):
    """Bloom bits of a timestamp column hash the footer's aware form; a
    naive datetime probe must not read as 'definitely absent'."""
    p = str(tmp_path / "t")
    df = spark.range(3).selectExpr("timestamp_seconds(id * 3600) AS ts", "id")
    T.create_table(df, p, bloom_cols=["ts"])
    ts1 = T.read(spark, p).filter("id = 1").first().ts
    assert T.read(spark, p, eq=("ts", ts1)).count() == 1


# --- log-resolved read schemas --------------------------------------------------


def _jobs_started(spark, fn):
    """Spark jobs started while ``fn`` runs (job-group probe)."""
    sc = spark.sparkContext
    group = f"probe-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _merged_read(spark, path):
    files = T.snapshot_files(path)
    return spark.read.option("mergeSchema", "true").parquet(
        *[T._data_path(path, a) for a in files]
    )


def test_read_takes_schema_from_log_without_jobs(spark, tbl):
    """A table whose live files share one logged schema is read with that
    schema: no footer-merge job, and the same schema (names, order, types,
    nullability, nested containsNull) as the merged read — also once the
    file list comes from a checkpoint. (One file per commit: Spark lists
    more than spark.sql.sources.parallelPartitionDiscovery.threshold paths
    with a job of its own.)"""
    df = spark.range(4, numPartitions=1).selectExpr(
        "id", "'x' AS s", "array(id) AS arr", "timestamp_seconds(id) AS ts",
        "to_timestamp_ntz(timestamp_seconds(id)) AS ntz", "cast(id AS decimal(9, 2)) AS d",
    )
    T.create_table(df, tbl)
    for _ in range(T.CHECKPOINT_EVERY):
        T.append(df, tbl)
    assert any(f.startswith("_checkpoint-") for f in os.listdir(T._log_dir(tbl)))
    got, n_jobs = _jobs_started(spark, lambda: T.read(spark, tbl))
    assert n_jobs == 0
    assert got.schema == _merged_read(spark, tbl).schema
    assert got.count() == 4 * (T.CHECKPOINT_EVERY + 1)
    # the probe does see the footer merge of a two-schema table
    T.append(df.withColumn("extra", F.lit(1)), tbl)
    evolved, n_jobs = _jobs_started(spark, lambda: T.read(spark, tbl))
    assert n_jobs >= 1 and "extra" in evolved.columns


def test_read_falls_back_to_footer_merge_without_logged_schema(spark, tbl):
    """Legacy logs (no schema ids on adds, no schema map in checkpoints)
    read exactly as before through the mergeSchema path."""
    df = spark.range(3).selectExpr("id", "'x' AS s")
    T.create_table(df, tbl)
    for _ in range(T.CHECKPOINT_EVERY):
        T.append(df, tbl)
    d = T._log_dir(tbl)
    for f in os.listdir(d):
        full = os.path.join(d, f)
        if not f.endswith(".json"):
            continue
        with open(full) as fh:
            body = json.load(fh)
        body.pop("schemas", None)
        for a in body.get("add", []) + body.get("files", []):
            a.pop("schema_id", None)
        with open(full, "w") as fh:
            json.dump(body, fh)
    got, n_jobs = _jobs_started(spark, lambda: T.read(spark, tbl))
    assert n_jobs >= 1
    assert got.schema == _merged_read(spark, tbl).schema
    assert got.count() == 3 * (T.CHECKPOINT_EVERY + 1)


def test_compact_logs_schema_for_log_resolved_reads(spark, tbl):
    """compact logs the schema it wrote, so the compacted files (and a
    rename on top of them) still read with the logged schema."""
    T.create_table(spark.range(3).selectExpr("id", "'x' AS a"), tbl)
    T.rename_column(tbl, "a", "b")
    T.compact(spark, tbl)
    T.rename_column(tbl, "b", "c")
    got, n_jobs = _jobs_started(spark, lambda: T.read(spark, tbl))
    assert n_jobs == 0
    assert got.columns == ["id", "c"] and got.count() == 3


def test_empty_append_batch_logs_no_file(spark, tbl):
    """An epoch without rows commits only its batch id: no add (Spark's
    schema-only file for an empty result is not logged), the id still
    guards a replay, and the table reads with the logged schema. Every
    logged add carries its footer row count."""
    df = spark.range(3, numPartitions=2).selectExpr("id", "'x' AS s")
    T.create_table(df, tbl)
    files_before = T.snapshot_files(tbl)
    assert all(a["rows"] > 0 for a in files_before)
    assert sum(a["rows"] for a in files_before) == 3
    v = T.append(df.filter("id < 0"), tbl, batch_id=7)
    entry = T._read_entry(tbl, v)
    assert entry["add"] == [] and entry["batch_id"] == 7
    assert 7 in T.committed_batch_ids(tbl)
    assert T.append(df.filter("id < 0"), tbl, batch_id=7) is None
    assert T.current_version(tbl) == v
    assert T.snapshot_files(tbl) == files_before
    assert T.read(spark, tbl).count() == 3

    empty = str(tbl) + "_empty"
    T.create_table(df.filter("id < 0"), empty)
    assert T.snapshot_files(empty) == []
    got = T.read(spark, empty)
    assert got.count() == 0 and got.schema == df.schema
    T.branch_create(empty, "etl")
    T.append(df.filter("id < 0"), empty, branch="etl")
    branch = T.read(spark, empty, branch="etl")
    assert branch.count() == 0 and branch.columns == df.columns


def test_branch_read_takes_schema_from_log_without_jobs(spark, tbl):
    """A branch reads like main: base files and branch writes that share
    one logged schema are read with it, without a footer-merge job.
    Branches have no time travel."""
    df = spark.range(4, numPartitions=1).selectExpr("id", "'x' AS s")
    T.create_table(df, tbl)
    T.branch_create(tbl, "etl")
    T.append(df, tbl, branch="etl")
    got, n_jobs = _jobs_started(spark, lambda: T.read(spark, tbl, branch="etl"))
    assert n_jobs == 0
    assert got.schema == _merged_read(spark, tbl).schema
    assert got.count() == 8
    with pytest.raises(ValueError, match="time travel"):
        T.read(spark, tbl, version=0, branch="etl")


def test_read_replays_each_tail_entry_once(spark, tbl):
    """One read lists the log once and reads each entry past the
    checkpoint once, whatever the tail holds (a deletion vector and a
    rename here): files, schemas, the DV and the column mapping come from
    one replay."""
    from unittest import mock

    df = spark.range(4, numPartitions=1).selectExpr("id", "'x' AS s")
    T.create_table(df, tbl)
    for _ in range(T.CHECKPOINT_EVERY):
        T.append(df, tbl)
    for _ in range(6):
        T.append(df, tbl)
    T.delete_where_dv(spark, tbl, "id = 0")
    T.rename_column(tbl, "s", "t")
    tip = T.current_version(tbl)
    assert tip == T.CHECKPOINT_EVERY + 8
    with mock.patch.object(T, "_read_entry", side_effect=T._read_entry) as reads, \
            mock.patch.object(T, "_list_versions", side_effect=T._list_versions) as lists:
        got = T.read(spark, tbl)
    assert reads.call_count <= 8, reads.call_count
    assert lists.call_count == 1, lists.call_count
    assert got.columns == ["id", "t"]
    assert got.count() == 3 * (T.CHECKPOINT_EVERY + 7)


def test_branch_overwrite_racing_branch_append_conflicts(spark, tbl, monkeypatch):
    """A branch overwrite commits against the branch tip it read: a branch
    append landing between its snapshot and its commit makes it raise
    ConcurrentModificationError instead of dropping the appended rows."""
    df = spark.range(5, numPartitions=1).selectExpr("id")
    T.create_table(df, tbl)
    T.branch_create(tbl, "rw")
    real_stage = T._stage_files
    fired = []

    def racing_stage(*a, **k):
        if not fired:
            fired.append(True)
            T.append(spark.range(100, 103, numPartitions=1), tbl, branch="rw")
        return real_stage(*a, **k)

    monkeypatch.setattr(T, "_stage_files", racing_stage)
    with pytest.raises(T.ConcurrentModificationError):
        T.overwrite(spark.range(2, numPartitions=1), tbl, branch="rw")
    monkeypatch.undo()
    assert fired
    assert T.read(spark, tbl, branch="rw").count() == 8  # the raced append survived
    assert T.read(spark, tbl).count() == 5
