"""Full-refresh pipeline: ingest -> models -> checks -> ML scoring.

reference: pipelines/flow_full_refresh.py:79-90 — a Prefect flow of
subprocess hops (ingest, dbt run, dbt test, ML train, ML score). Spark-first:
one driver, function calls, DataFrames end to end; the only process
boundaries left are Spark shuffles.

``full_refresh`` runs as a dependency-driven DAG, the way dbt runs
independent nodes on its ``threads``. The five bronze ingests run
concurrently (``ingest_all``). Then every node is submitted to a thread pool
as soon as its deps are done: each table model is built and materialized
once its deps' read-backs exist (the three silver tables overlap, the gold
marts overlap), each model's declared checks start as soon as that model is
materialized, and the scoring fit starts as soon as
``gold_cluster_util_daily`` exists. Only the scored table's commit waits for
every check. At lake sizes where each step is a one-task Spark job, this
fills the cores a serial loop leaves idle; Spark's FIFO scheduler overlaps
the concurrent jobs. Each node's jobs carry the caller's job group and the
description ``medallion:<node>``.

Failure semantics. The order of the old serial loop ranks the nodes:
models in topo order, then the checks in ``REFERENCE_CHECKS +
ENGINE_CHECKS`` order, then the scoring fit, then the scored commit. After a
failure, no node ranked after it is submitted; nodes already running
finish, and nodes ranked before it still run. The call then raises the
failure ranked first — the exception the serial loop raised; for checks,
the first failing check in declaration order. No pool thread outlives the
call. Each table commit stays atomic (tablog), but the refresh as a whole
never was: a table the serial loop would have committed before the failure
is committed here too, and a sibling already running may commit even when
another branch fails.
"""

from __future__ import annotations

import functools
import logging
import os
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import models as M
from . import tablog as T
from .checks import CHECKS, CheckError, run_reference_checks
from .ingest import ingest_all
from .ml.anomaly import DEFAULT_FEATURES, score_driver_side
from .session import thread_target

log = logging.getLogger(__name__)

# Footer-stats columns per warehouse table — what tablog's file skipping
# prunes on (the dominant predicate column of each tier's consumers).
STAT_COLS: dict[str, list[str]] = {
    "silver_jobs": ["job_id"],
    "silver_gpu_timeseries": ["ts", "machine_id"],
    "gold_cluster_util_daily": ["dt"],
    "gold_cluster_util_daily_scored": ["dt"],
    "gold_job_efficiency_daily": ["dt"],
    "gold_user_gpu_usage_daily": ["dt"],
}


def _materialize(spark: SparkSession, df: DataFrame, path: str, name: str) -> DataFrame:
    """Persist a warehouse table through the versioned table format: first
    build is version 0, every refresh commits a new snapshot — the warehouse
    keeps its full history (time travel to any prior refresh) and readers
    never observe a half-written table (the reference's DuckDB CTAS gave the
    same atomicity single-node; tablog gives it on a distributed lake)."""
    stat_cols = STAT_COLS.get(name, [])
    if os.path.isdir(os.path.join(path, T.LOG_DIR)):
        T.overwrite(df, path, stat_cols=stat_cols)
    else:
        T.create_table(df, path, stat_cols=stat_cols)
    return T.read(spark, path)


@dataclass
class _Node:
    deps: tuple[str, ...]  # node or input names
    run: Callable[[dict], object]  # called with {dep: value}
    rank: int  # position in the serial order


def _run_dag(spark: SparkSession, inputs: dict, nodes: dict[str, _Node], failure_rank) -> dict:
    """Run ``nodes`` on a thread pool, each once its node deps are done.

    Deps that are not nodes come from ``inputs``; a missing one fails the
    node with the KeyError the serial loop raised. A node is only submitted
    when its deps are done, so no pool thread ever waits on another node:
    any pool size is deadlock-free. ``max_workers`` is only a cap — the
    executor starts a thread when no idle one is free, so the threads track
    the number of nodes ready at once (the DAG's width). ``failure_rank(key,
    exc)`` places a failure in the serial order; see the module docstring
    for what happens after one."""
    done = dict(inputs)
    pending = dict(nodes)
    running: dict = {}
    failure: tuple[int, Exception] | None = None

    def fail(key: str, exc: Exception) -> None:
        nonlocal failure
        rank = failure_rank(key, exc)
        if failure is None or rank < failure[0]:
            failure = (rank, exc)

    with ThreadPoolExecutor(max_workers=len(nodes)) as pool:
        while True:
            for key, node in list(pending.items()):
                if failure is not None and node.rank > failure[0]:
                    continue
                if any(d in nodes and d not in done for d in node.deps):
                    continue
                del pending[key]
                try:
                    deps = {d: done[d] for d in node.deps}
                except KeyError as e:
                    fail(key, e)
                    continue
                task = thread_target(spark, node.run, f"medallion:{key}")
                running[pool.submit(task, deps)] = key
            if not running:
                break
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for f in finished:
                key = running.pop(f)
                try:
                    done[key] = f.result()
                except Exception as e:
                    fail(key, e)
    if failure is not None:
        raise failure[1]
    return done


def full_refresh(spark: SparkSession, source_dir: str, lake_dir: str) -> dict[str, DataFrame]:
    """Run the whole medallion pipeline; returns every built frame.

    Persisted tiers mirror the reference's materializations: bronze parquet
    (ingest), silver/gold as versioned tablog tables (our improvement — the
    reference overwrites single files with no history, SURVEY.md §1.4).
    Runs as a concurrent DAG; see the module docstring.
    """
    bronze = ingest_all(spark, source_dir, lake_dir)
    wh = os.path.join(lake_dir, "warehouse")
    # Each table model is replaced by its tablog read-back BEFORE dependents
    # build, so every tier consumes the WRITTEN tier below instead of
    # recomputing its deps from the bronze CSVs (r9 profile: a full CSV
    # re-parse per gold mart) — checkpoint-per-stage, the module-docstring
    # 100 TB contract. Values are identical: the parquet round-trip is
    # value-preserving and downstream arithmetic is unchanged.
    def build(name: str, deps: dict) -> DataFrame:
        m = M.MODELS[name]
        df = m.build(**deps)
        if m.materialized == "table":
            df = _materialize(spark, df, os.path.join(wh, name), name)
        return df

    order = M.topo_order(None)
    nodes = {n: _Node(M.MODELS[n].deps, functools.partial(build, n), i) for i, n in enumerate(order)}
    n_models = len(nodes)
    for model in dict.fromkeys(c[0] for c in CHECKS if c[0] in nodes):
        first = next(i for i, c in enumerate(CHECKS) if c[0] == model)
        # dbt test equivalent; called through the module attribute
        nodes[f"checks:{model}"] = _Node((model,), lambda deps: run_reference_checks(deps), n_models + first)
    check_keys = tuple(k for k in nodes if k.startswith("checks:"))
    scored = "gold_cluster_util_daily_scored"
    nodes["score"] = _Node(
        ("gold_cluster_util_daily",),
        lambda deps: score_driver_side(spark, deps["gold_cluster_util_daily"], DEFAULT_FEATURES),
        n_models + len(CHECKS),
    )
    nodes[scored] = _Node(
        ("score", *check_keys),
        lambda deps: _materialize(spark, deps["score"], os.path.join(wh, scored), scored),
        n_models + len(CHECKS) + 1,
    )

    def failure_rank(key: str, exc: Exception) -> int:
        if isinstance(exc, CheckError) and exc.check in CHECKS:
            return n_models + CHECKS.index(exc.check)
        return nodes[key].rank

    done = _run_dag(spark, bronze, nodes, failure_rank)
    return {k: done[k] for k in (*bronze, *order, scored)}


def incremental_update(
    spark: SparkSession, lake_dir: str, new_machine_metrics: DataFrame
) -> dict[str, DataFrame]:
    """Late-arriving telemetry without a full rebuild — the only refresh
    shape that survives 100 TB (the reference is full-refresh-only; dbt
    calls this an incremental model).

    Scale contract per tier:
    - **silver** (the big table) is APPEND-ONLY: the new rows land as one
      tablog append commit — no rewrite of history, ever. The set of days
      the batch touches is observed on that append's own write job (an
      ``Observation`` carrying ``collect_set`` of the day), so the late
      input is read once.
    - the recompute reads back only the touched days: tablog's footer-stats
      ``between`` probe skips every silver file whose ts range misses them,
      so the scan is O(new days), not O(history).
    - **gold** (one row per day) gets exactly the affected day-rows
      recomputed and MERGEd atomically on ``dt`` — identical values to a
      from-scratch rebuild because daily aggregation is partitioned by day:
      a day's row depends only on that day's samples. The recompute is the
      model's unsorted rows (``models.gold_cluster_util_daily_rows``): a
      MERGE keeps no row order, so the full build's global sort would only
      add a range-sampling job and an exchange.
    - the scored table is re-derived from the full gold (IsolationForest
      trains on all days by design — bounded: one row per day).

    One late batch runs 7 Spark jobs: the silver append write, 3 for the
    MERGE source (persisted) and its key collect, the MERGE write, the gold
    collect of the scoring and the one-file scored write. A batch with no
    non-NULL timestamp commits an empty silver append and returns ``{}``
    without touching gold or the scored table.

    Equality with ``full_refresh`` over the union of inputs is pinned in
    tests/test_medallion.py::test_incremental_update_matches_full_rebuild.
    """
    silver_path = os.path.join(lake_dir, "warehouse", "silver_gpu_timeseries")
    gold_path = os.path.join(lake_dir, "warehouse", "gold_cluster_util_daily")

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # Touched days as EPOCH SECONDS, truncated JVM-side where the session tz
    # is pinned UTC. (Collecting TimestampType yields naive datetimes in the
    # Python driver's LOCAL tz — converting those back with timegm would
    # shift the window on any non-UTC driver and silently drop edge-of-day
    # samples from the recompute.) Driver-sized: one long per distinct day.
    day_s = F.unix_timestamp(F.date_trunc("day", F.timestamp_seconds("ts")))
    touched = Observation()
    silver_new = M.MODELS["silver_gpu_timeseries"].build(new_machine_metrics)
    T.append(
        silver_new.observe(touched, F.collect_set(day_s).alias("days")),
        silver_path,
        stat_cols=STAT_COLS["silver_gpu_timeseries"],
    )
    days_epoch = sorted(touched.get["days"])
    if not days_epoch:
        return {}
    lo_s, hi_s = days_epoch[0], days_epoch[-1] + 86400
    log.info("incremental_update: %d day(s) affected", len(days_epoch))

    # Stats-pruned slice of silver (+ exact day membership on top: the
    # between probe is a file-skipping superset, not the predicate).
    sl = T.read(spark, silver_path, between=("ts", lo_s, hi_s)).filter(
        day_s.isin(days_epoch)
    )
    gold_rows = M.gold_cluster_util_daily_rows(sl).filter(
        F.unix_timestamp("dt").isin(days_epoch)
    )
    # stat-pruned MERGE: only gold files whose dt range can contain the
    # touched days are rewritten — O(affected days), not O(history)
    T.merge_upsert_pruned(
        spark, gold_rows, gold_path, key_cols=["dt"], stat_cols=STAT_COLS["gold_cluster_util_daily"]
    )

    gold = T.read(spark, gold_path)
    scored = score_driver_side(spark, gold, DEFAULT_FEATURES)
    scored_name = "gold_cluster_util_daily_scored"
    scored_path = os.path.join(lake_dir, "warehouse", scored_name)
    built = {
        "silver_gpu_timeseries": T.read(spark, silver_path),
        "gold_cluster_util_daily": gold,
        scored_name: _materialize(spark, scored, scored_path, scored_name),
    }
    return built
