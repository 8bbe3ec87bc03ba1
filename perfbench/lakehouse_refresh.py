"""lakehouse_refresh: full refresh, then late machine-metric batches.

Closed loop, one client. The seed generates the five reference source CSVs
(49 days of machine metrics) and the late batches. ``flow.full_refresh``
runs once in a fresh session, as a scheduled refresh job does, so its time
includes the session's first-run costs. Then late batches go through
``flow.incremental_update`` one after another until the run's time is up.
Even batches touch the last week, odd ones old days, so footer-stats
pruning both hits and misses.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import duckdb
import pyarrow.csv as pcsv

import gen
from names import Result
from spans import Tracer

METRIC_ROWS = 20_000
JOBS = 1_500
LATE_BATCHES = 16
LATE_ROWS = 1_000
MIN_INCREMENTS = 3

_TYPES = {
    "worker_name": "VARCHAR", "machine": "VARCHAR", "start_time": "DOUBLE",
    "end_time": "DOUBLE", "machine_gpu": "DOUBLE", "machine_cpu": "DOUBLE",
    "machine_cpu_iowait": "DOUBLE", "machine_cpu_kernel": "DOUBLE",
    "machine_cpu_usr": "DOUBLE", "machine_load_1": "DOUBLE",
    "machine_net_receive": "DOUBLE", "machine_num_worker": "BIGINT",
}


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _expected_gold(csvs: list[str]) -> list[tuple]:
    """gold_cluster_util_daily recomputed in DuckDB over every generated row,
    rounded as the medallion_end_to_end oracle rounds: (day, avg_gpu,
    p95_gpu, avg_cpu)."""
    con = duckdb.connect()
    rel = " UNION ALL ".join(
        f"SELECT * FROM read_csv('{p}', header=true, columns={_TYPES!r})" for p in csvs
    )
    rows = con.sql(f"""
        SELECT CAST(floor(end_time / 86400) AS BIGINT) AS day,
               ROUND((SUM(CAST(FLOOR(machine_gpu * 1000000 + 0.5) AS BIGINT)) / 1000000.0)
                     / COUNT(machine_gpu), 6),
               ROUND(quantile_cont(machine_gpu, 0.95), 6),
               ROUND((SUM(CAST(FLOOR(machine_cpu * 1000000 + 0.5) AS BIGINT)) / 1000000.0)
                     / COUNT(machine_cpu), 6)
        FROM ({rel})
        WHERE end_time IS NOT NULL AND machine_gpu IS NOT NULL
        GROUP BY 1 ORDER BY 1
    """).fetchall()
    con.close()
    return [tuple(r) for r in rows]


def _actual_gold(spark, gold_path: str) -> list[tuple]:
    from pyspark.sql import functions as F

    from gpu_telemetry_lakehouse_spark import tablog

    df = tablog.read(spark, gold_path).select(
        (F.unix_timestamp("dt") / 86400).cast("long").alias("day"),
        F.round("avg_gpu_util", 6), F.round("p95_gpu_util", 6), F.round("avg_cpu_util", 6),
    )
    return sorted(tuple(r) for r in df.collect())


def _trace(tracer: Tracer) -> None:
    from gpu_telemetry_lakehouse_spark import flow, tablog

    def by_tier(args, kwargs):
        path = str(kwargs.get("path", args[1] if len(args) > 1 else ""))
        base = os.path.basename(path.rstrip("/"))
        return "flow.silver" if base.startswith("silver_") else "flow.gold"

    tracer.wrap(flow, "ingest_all", "ingest.ingest_all")
    tracer.wrap(flow, "run_reference_checks", "checks.run_reference_checks")
    tracer.wrap(flow, "score_driver_side", "ml.score_driver_side")
    tracer.wrap(tablog, "create_table", classify=by_tier)
    tracer.wrap(tablog, "overwrite", classify=by_tier)
    tracer.wrap(tablog, "append", "tablog.append")
    tracer.wrap(tablog, "merge_upsert_pruned", "tablog.merge_upsert_pruned")
    tracer.wrap(tablog, "read", "tablog.read")


def _top_total(tracer: Tracer, name: str, lo: float, hi: float) -> float:
    """Time in ``name`` spans inside [lo, hi] that no tablog span encloses."""
    spans = tracer.spans
    tot = 0.0
    for s in spans:
        if s["name"] != name or s["start"] < lo or s["end"] > hi:
            continue
        p = s["parent"]
        if p is not None and spans[p]["name"].startswith("tablog."):
            continue
        tot += s["end"] - s["start"]
    return tot


def run(spark, args, tmp: str, proc_t0: float) -> Result:
    from gpu_telemetry_lakehouse_spark import flow, tablog
    from gpu_telemetry_lakehouse_spark.schemas import MACHINE_METRICS

    res = Result()
    inputs = gen.write_lakehouse_sources(args.seed, tmp, METRIC_ROWS, JOBS, LATE_BATCHES, LATE_ROWS)
    lake = os.path.join(tmp, "lake")
    wh = os.path.join(lake, "warehouse")
    silver_path = os.path.join(wh, "silver_gpu_timeseries")
    gold_path = os.path.join(wh, "gold_cluster_util_daily")
    tracer = res.tracer = Tracer() if args.trace else None
    if tracer:
        _trace(tracer)
    res.e2e["setup_s"] = time.perf_counter() - proc_t0

    t_end = time.perf_counter() + args.seconds
    res.attempted += 1
    t0 = time.perf_counter()
    try:
        flow.full_refresh(spark, inputs.source_dir, lake)
    except Exception as e:
        traceback.print_exc()
        res.failed += 1
        res.notes.append(f"full_refresh failed: {e!r}"[:500])
        return res
    t1 = time.perf_counter()
    res.e2e["bulk_s"] = t1 - t0

    applied, incr = [], []
    kept = total = 0
    for path in inputs.late_csvs:
        if len(incr) >= MIN_INCREMENTS and time.perf_counter() >= t_end:
            break
        if tracer:
            end = pcsv.read_csv(path).column("end_time").drop_null().to_numpy()
            lo = float(end.min() // 86400 * 86400)
            k, n = tablog.pruned_file_count(silver_path, "ts", lo, float(end.max() // 86400 * 86400 + 86400))
            kept, total = kept + k, total + n
        res.attempted += 1
        a = time.perf_counter()
        try:
            late = spark.read.schema(MACHINE_METRICS).option("header", True).csv(path)
            flow.incremental_update(spark, lake, late)
        except Exception as e:
            traceback.print_exc()
            res.failed += 1
            res.notes.append(f"incremental_update failed: {e!r}"[:500])
            continue
        incr.append(time.perf_counter() - a)
        applied.append(path)
    t2 = time.perf_counter()
    res.e2e["op_latency_s"] = statistics.median(incr) if incr else 0.0

    # verification, outside the timed region
    if tracer:
        tracer.unwrap_all()
    res.attempted += 1
    expected = _expected_gold([os.path.join(inputs.source_dir, "pai_machine_metric.csv")] + applied)
    actual = _actual_gold(spark, gold_path)
    if expected != actual:
        res.failed += 1
        diff = [(a, b) for a, b in zip(expected, actual) if a != b][:3]
        res.notes.append(f"gold mismatch: {len(expected)} vs {len(actual)} rows, first {diff}")
    res.verified = True

    if tracer:
        L = res.layer
        L["ingest.ingest_all_s"] = _top_total(tracer, "ingest.ingest_all", t0, t1)
        bronze = os.path.join(lake, "bronze")
        L["ingest.bytes_written"] = _du(bronze)
        L["ingest.rows"] = sum(
            spark.read.parquet(os.path.join(bronze, b)).count() for b in os.listdir(bronze)
        )
        L["flow.silver_s"] = _top_total(tracer, "flow.silver", t0, t1)
        L["flow.gold_s"] = _top_total(tracer, "flow.gold", t0, t1)
        L["checks.run_reference_checks_s"] = _top_total(tracer, "checks.run_reference_checks", t0, t1)
        L["ml.score_driver_side_s"] = _top_total(tracer, "ml.score_driver_side", t0, t2)
        for op in ("append", "merge_upsert_pruned", "read"):
            L[f"tablog.{op}_s"] = _top_total(tracer, f"tablog.{op}", t1, t2)
        L["tablog.files_read_ratio"] = kept / total if total else 0.0
        tables = [os.path.join(wh, t) for t in os.listdir(wh)]
        L["tablog.log_versions"] = sum((tablog.current_version(t) or 0) + 1 for t in tables)
        L["tablog.live_bytes"] = sum(tablog.table_stats(t)["total_bytes"] for t in tables)
        L["tablog.total_bytes"] = _du(wh)
        src_bytes = inputs.source_bytes + sum(os.path.getsize(p) for p in applied)
        L["tablog.lake_bytes_per_source_byte"] = _du(lake) / src_bytes
    return res
