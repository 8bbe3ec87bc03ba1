"""Medallion model registry — the dbt ref()-DAG re-expressed as Python.

Each model is a pure function ``inputs -> DataFrame`` with declared deps;
``topo_order`` orders them (reference: dbt_project DAG, SURVEY.md §3.2) and
``flow.full_refresh`` runs them as a concurrent DAG. Materialization follows
the reference: bronze = lazy views, silver/gold = persisted tables
(models/bronze/*.sql ``materialized='view'``, silver/gold ``'table'``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import functions as FN
from .functions import exact_avg


@dataclass
class Model:
    name: str
    deps: tuple[str, ...]
    build: Callable[..., DataFrame]
    materialized: str = "view"  # "view" | "table"


MODELS: dict[str, Model] = {}


def model(name: str, deps: tuple[str, ...] = (), materialized: str = "view"):
    def deco(fn: Callable[..., DataFrame]):
        MODELS[name] = Model(name, deps, fn, materialized)
        return fn

    return deco


def topo_order(targets: list[str] | None = None) -> list[str]:
    """Dependency-ordered model list (the dbt compile step, minus Jinja)."""
    order: list[str] = []
    seen: set[str] = set()

    def visit(n: str, stack: tuple[str, ...] = ()):
        if n in seen:
            return
        if n in stack:
            raise ValueError(f"model cycle: {stack + (n,)}")
        for d in MODELS[n].deps:
            if d in MODELS:
                visit(d, stack + (n,))
        seen.add(n)
        order.append(n)

    for t in targets or list(MODELS):
        visit(t)
    return order


# --- bronze views (passthrough; reference: models/bronze/*.sql) --------------
@model("bronze_job_events_view", deps=("bronze_job_events",))
def bronze_job_events_view(bronze_job_events: DataFrame) -> DataFrame:
    return bronze_job_events


# --- silver_jobs -------------------------------------------------------------
# reference: models/silver/silver_jobs.sql:5-29 — rename map + run_time_sec
# CASE null-guard (running jobs have NULL end_time; 3VL preserved).
@model("silver_jobs", deps=("bronze_job_events",), materialized="table")
def silver_jobs(bronze_job_events: DataFrame) -> DataFrame:
    return bronze_job_events.select(
        F.col("job_name").alias("job_id"),
        F.col("inst_id").alias("instance_id"),
        F.col("user").alias("user_id"),
        F.col("status").alias("job_status"),
        F.col("start_time"),
        F.col("end_time"),
        F.when(
            F.col("end_time").isNotNull(), F.col("end_time") - F.col("start_time")
        ).alias("run_time_sec"),
    )


# --- silver_gpu_timeseries ---------------------------------------------------
# reference: models/silver/silver_gpu_timeseries.sql:5-37 — rename map +
# NULL-timestamp filter; end_time becomes the observation ts.
@model("silver_gpu_timeseries", deps=("bronze_machine_metrics",), materialized="table")
def silver_gpu_timeseries(bronze_machine_metrics: DataFrame) -> DataFrame:
    return bronze_machine_metrics.filter(F.col("end_time").isNotNull()).select(
        F.col("machine").alias("machine_id"),
        F.col("worker_name"),
        F.col("end_time").alias("ts"),
        F.col("machine_gpu").alias("gpu_util_pct"),
        F.col("machine_cpu").alias("cpu_util_pct"),
        F.col("machine_load_1"),
        F.col("machine_net_receive"),
        F.col("machine_cpu_iowait"),
        F.col("machine_cpu_kernel"),
        F.col("machine_cpu_usr"),
        F.col("machine_num_worker"),
    )


# --- gold_cluster_util_daily -------------------------------------------------
# reference: models/gold/gold_cluster_util_daily.sql:5-31 — epoch seconds ->
# timestamp (UTC pinned), day truncation, avg + exact p95, ordered by day.
def gold_cluster_util_daily_rows(silver_gpu_timeseries: DataFrame) -> DataFrame:
    """The model's rows, unsorted: one per day of ``silver_gpu_timeseries``."""
    return (
        silver_gpu_timeseries.filter(F.col("gpu_util_pct").isNotNull())
        .withColumn("dt", F.date_trunc("day", F.timestamp_seconds(F.col("ts"))))
        .groupBy("dt")
        .agg(
            # exact_avg, not F.avg: partial fp aggregation order varies with
            # partitioning, so a plain double AVG is not run-to-run
            # deterministic on a cluster. The scaled-long exact mean makes the
            # warehouse table bit-stable (and DuckDB-oracle-matchable) at any
            # partition count — determinism is part of the table contract.
            exact_avg("gpu_util_pct").alias("avg_gpu_util"),
            F.percentile("gpu_util_pct", F.lit(0.95)).alias("p95_gpu_util"),
            exact_avg("cpu_util_pct").alias("avg_cpu_util"),
        )
    )


# Only the full build is sorted: its files come out dt-clustered, so each
# file's footer [min, max] on dt is a narrow range that the late-batch MERGE
# (flow.incremental_update) prunes on. That MERGE takes the unsorted rows —
# a sort there would cost a range-sampling job and an exchange for row
# order that a MERGE never keeps.
@model("gold_cluster_util_daily", deps=("silver_gpu_timeseries",), materialized="table")
def gold_cluster_util_daily(silver_gpu_timeseries: DataFrame) -> DataFrame:
    return gold_cluster_util_daily_rows(silver_gpu_timeseries).orderBy("dt")


# --- silver_gpu_specs: compound-string parsing (reference future work) -------
# reference: README.md:73-81 — tpu_gpus.csv compound columns ("24 GB, GDDR6X,
# 384 bit"; "10496 / 328 / 112"; "1395 MHz") parsed to numerics.
@model("silver_gpu_specs", deps=("bronze_gpu_specs",), materialized="table")
def silver_gpu_specs(bronze_gpu_specs: DataFrame) -> DataFrame:
    mem_parts = F.split(F.col("Memory"), r",\s*")
    shader_parts = F.split(F.col("Shaders_TMUs_ROPs"), r"\s*/\s*")
    return bronze_gpu_specs.select(
        F.col("Product_Name").alias("product_name"),
        F.col("GPU_Chip").alias("gpu_chip"),
        F.regexp_extract("Released", r"(\d{4})", 1).cast("int").alias("released_year"),
        F.regexp_extract(F.element_at(mem_parts, 1), r"([\d.]+)", 1)
        .cast("double")
        .alias("mem_gb"),
        F.element_at(mem_parts, 2).alias("mem_type"),
        F.regexp_extract(F.element_at(mem_parts, 3), r"(\d+)", 1)
        .cast("int")
        .alias("mem_bus_bits"),
        F.regexp_extract("GPU_clock", r"(\d+)", 1).cast("int").alias("gpu_clock_mhz"),
        F.regexp_extract("Memory_clock", r"(\d+)", 1).cast("int").alias("mem_clock_mhz"),
        F.element_at(shader_parts, 1).cast("int").alias("shaders"),
        F.element_at(shader_parts, 2).cast("int").alias("tmus"),
        F.element_at(shader_parts, 3).cast("int").alias("rops"),
    )


# --- gold_job_efficiency_daily (reference README.md:546-549, future work) ----
# GPU-hours allocated vs actively used + per-job efficiency, daily. Each
# silver_jobs row is one instance ~ one GPU allocation (PAI trace shape).
# The sample data has no machine<->job link (reference README limitation), so
# "actively used" applies the CLUSTER's daily mean GPU utilization to each
# job's allocated hours — the honest best available estimator; swap in a
# per-job metric join when job-level telemetry exists (the registry twin
# queries/telemetry_gold.py does exactly that via user+interval overlap).
# Scale shape: day-explode is narrow, the daily-util join is a broadcast of
# ~365 rows/year, the rollup is one hash agg on (job_id, dt).
@model(
    "gold_job_efficiency_daily",
    deps=("silver_jobs", "silver_gpu_timeseries"),
    materialized="table",
)
def gold_job_efficiency_daily(
    silver_jobs: DataFrame, silver_gpu_timeseries: DataFrame
) -> DataFrame:
    # Observation horizon caps still-running jobs (NULL end_time).
    horizon = silver_gpu_timeseries.agg(
        F.max(F.timestamp_seconds("ts")).alias("__horizon")
    )
    jobs = (
        silver_jobs.join(F.broadcast(horizon))
        .select(
            "job_id",
            "instance_id",
            "user_id",
            "job_status",
            F.timestamp_seconds("start_time").alias("__start"),
            F.coalesce(F.timestamp_seconds("end_time"), F.col("__horizon")).alias(
                "__end"
            ),
        )
        .filter(F.col("__start").isNotNull() & (F.col("__end") > F.col("__start")))
    )
    # day span guarded at 100 years: a corrupt sentinel end timestamp
    # (9999-12-31) would otherwise explode one job into millions of rows
    _start_day = F.date_trunc("day", "__start")
    _end_day = F.date_trunc("day", F.col("__end") - F.expr("INTERVAL 1 MICROSECOND"))
    days = jobs.withColumn(
        "dt",
        F.explode(
            F.sequence(
                _start_day,
                FN.guarded_seq_end(
                    _end_day,
                    F.datediff(_end_day, _start_day),
                    36_500,
                    "efficiency-mart job-day explode",
                ),
                F.expr("INTERVAL 1 DAY"),
            )
        ),
    ).withColumn(
        "__overlap_s",
        F.least(
            F.unix_timestamp("__end"),
            F.unix_timestamp(F.col("dt") + F.expr("INTERVAL 1 DAY")),
        )
        - F.greatest(F.unix_timestamp("__start"), F.unix_timestamp("dt")),
    )
    # Clamp per-sample util at 100 before averaging: the PAI machine_gpu
    # field is in "dataset units" that exceed 100 (sums across GPUs), but an
    # efficiency mart must keep used_gpu_hours <= alloc_gpu_hours — the same
    # clamp the registry twin applies (queries/telemetry_gold.py).
    daily_util = (
        silver_gpu_timeseries.filter(F.col("gpu_util_pct").isNotNull())
        .groupBy(F.date_trunc("day", F.timestamp_seconds("ts")).alias("dt"))
        .agg(F.avg(F.least(F.col("gpu_util_pct"), F.lit(100.0))).alias("cluster_util_pct"))
    )
    alloc = days.groupBy("job_id", "user_id", "dt").agg(
        F.count(F.lit(1)).alias("n_instances"),
        (F.sum("__overlap_s") / 3600.0).alias("alloc_gpu_hours"),
    )
    return alloc.join(F.broadcast(daily_util), "dt", "left").select(
        "dt",
        "job_id",
        "user_id",
        "n_instances",
        "alloc_gpu_hours",
        "cluster_util_pct",
        (
            F.col("alloc_gpu_hours")
            * F.coalesce(F.col("cluster_util_pct"), F.lit(0.0))
            / 100.0
        ).alias("used_gpu_hours"),
        F.coalesce(F.col("cluster_util_pct"), F.lit(0.0)).alias("efficiency_pct"),
    )


# --- gold_user_gpu_usage_daily (reference README.md:550-553, future work) ----
# Per-user GPU-hours, job counts, failure rates, daily. Derived from the
# same instance-day explode; one hash aggregation on (user_id, dt).
@model("gold_user_gpu_usage_daily", deps=("silver_jobs",), materialized="table")
def gold_user_gpu_usage_daily(silver_jobs: DataFrame) -> DataFrame:
    jobs = silver_jobs.select(
        "job_id",
        "instance_id",
        "user_id",
        "job_status",
        F.timestamp_seconds("start_time").alias("__start"),
        # running instances count as allocated through their start day only
        # when end is unknown AND no horizon exists; user rollup needs no
        # cluster table, so cap NULL ends at start (zero additional hours)
        # while still counting the job/instance as started and active.
        F.coalesce(F.timestamp_seconds("end_time"), F.timestamp_seconds("start_time")).alias(
            "__end"
        ),
        # __end >= __start keeps NULL-end rows (coalesced to start: zero
        # hours, still counted started/active) and drops corrupt
        # end<start rows that would SUBTRACT from the user's daily hours —
        # the same guard the efficiency mart applies.
    ).filter(F.col("__start").isNotNull() & (F.col("__end") >= F.col("__start")))
    _u_start_day = F.date_trunc("day", "__start")
    _u_end_day = F.date_trunc(
        "day",
        F.greatest(
            F.col("__end") - F.expr("INTERVAL 1 MICROSECOND"),
            F.col("__start"),
        ),
    )
    days = jobs.withColumn(
        "dt",
        F.explode(
            F.sequence(
                _u_start_day,
                FN.guarded_seq_end(
                    _u_end_day,
                    F.datediff(_u_end_day, _u_start_day),
                    36_500,
                    "user-rollup job-day explode",
                ),
                F.expr("INTERVAL 1 DAY"),
            )
        ),
    ).withColumn(
        "__overlap_s",
        F.least(
            F.unix_timestamp("__end"),
            F.unix_timestamp(F.col("dt") + F.expr("INTERVAL 1 DAY")),
        )
        - F.greatest(F.unix_timestamp("__start"), F.unix_timestamp("dt")),
    )
    started = F.date_trunc("day", "__start") == F.col("dt")
    n_started = F.count_distinct(F.when(started, F.col("job_id")))
    n_failed = F.count_distinct(
        F.when(started & (F.col("job_status") == "Failed"), F.col("job_id"))
    )
    return days.groupBy("user_id", "dt").agg(
        F.count_distinct("job_id").alias("n_jobs_active"),
        F.count(F.lit(1)).alias("n_instances_active"),
        (F.sum("__overlap_s") / 3600.0).alias("gpu_hours"),
        n_started.alias("n_jobs_started"),
        n_failed.alias("n_jobs_failed"),
        (n_failed / F.nullif(n_started, F.lit(0))).alias("failure_rate"),
    )
