"""dbt-style data constraints as Spark assertions.

reference: models/silver/silver.yml:8-23 and models/gold/gold.yml:9-11 —
the seven unique/not_null tests, run post-build by ``dbt test``
(flow_full_refresh.py:49-54).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import thread_target


class CheckError(AssertionError):
    # the failing (model, column, kind) when raised by run_reference_checks
    check: tuple[str, str, str] | None = None


def expect_not_null(df: DataFrame, col: str, model: str = "") -> None:
    n = df.filter(F.col(col).isNull()).limit(1).count()
    if n:
        raise CheckError(f"{model}.{col}: NULLs present")


def expect_unique(df: DataFrame, col: str, model: str = "") -> None:
    dups = df.groupBy(col).count().filter(F.col("count") > 1).limit(1).count()
    if dups:
        raise CheckError(f"{model}.{col}: duplicate keys present")


def expect_accepted_values(
    df: DataFrame, col: str, values: list, model: str = ""
) -> None:
    """dbt ``accepted_values``: every non-null value must be in the allow
    list. One isin-filtered limit(1) scan — pushed to parquet as an IN."""
    bad = df.filter(F.col(col).isNotNull() & ~F.col(col).isin(values)).limit(1).count()
    if bad:
        raise CheckError(f"{model}.{col}: value outside accepted set {values}")


def expect_finite(df: DataFrame, col: str, model: str = "") -> None:
    """No NaN / +-Infinity in a metric column (NULL is allowed — that is
    expect_not_null's job). This is the precondition the engine's exact
    scaled-long aggregation idiom (functions.exact_sum) declares: a single
    non-finite value would CAST_OVERFLOW an ANSI job mid-flight, on Spark
    and DuckDB alike, so non-finite sensor glitches are rejected or
    quarantined AT THE MEDALLION BOUNDARY like malformed CSV rows
    (ingest.ingest_csv_quarantine), not discovered by a dying gold build.
    One limit(1) scan."""
    c = F.col(col)
    bad = (
        df.filter(c.isNotNull() & (F.isnan(c) | (F.abs(c) == float("inf"))))
        .limit(1)
        .count()
    )
    if bad:
        raise CheckError(f"{model}.{col}: non-finite values (NaN/Inf) present")


def expect_relationship(
    child: DataFrame, col: str, parent: DataFrame, parent_col: str, model: str = ""
) -> None:
    """dbt ``relationships`` (referential integrity): every non-null child
    key must exist in the parent. Anti join keeps it one shuffle (broadcast
    when the parent is dimension-sized); limit(1) stops at first orphan."""
    orphans = (
        child.filter(F.col(col).isNotNull())
        .join(parent.select(F.col(parent_col).alias(col)).distinct(), col, "left_anti")
        .limit(1)
        .count()
    )
    if orphans:
        raise CheckError(f"{model}.{col}: orphan keys not in parent.{parent_col}")


# (model, column, check) — mirrors the reference's 7 declared tests
REFERENCE_CHECKS = [
    ("silver_jobs", "job_id", "unique"),
    ("silver_jobs", "job_id", "not_null"),
    ("silver_jobs", "user_id", "not_null"),
    ("silver_gpu_timeseries", "machine_id", "not_null"),
    ("silver_gpu_timeseries", "ts", "not_null"),
    ("gold_cluster_util_daily", "dt", "unique"),
    ("gold_cluster_util_daily", "dt", "not_null"),
]


# Engine-added contract beyond the reference's 7: metric columns feeding
# exact scaled-long gold aggregations must be finite (see expect_finite).
ENGINE_CHECKS = [
    ("silver_gpu_timeseries", "gpu_util_pct", "finite"),
    ("silver_gpu_timeseries", "cpu_util_pct", "finite"),
]

# every declared check, in the order that decides which failure raises
CHECKS = REFERENCE_CHECKS + ENGINE_CHECKS

_KIND = {
    "unique": expect_unique,
    "not_null": expect_not_null,
    "finite": expect_finite,
}


def run_reference_checks(built: dict[str, DataFrame]) -> None:
    """Run all declared checks, submitting the independent limit(1) scans
    from a small thread pool (guide §2.6): sequentially each check is one
    driver-blocking action whose tiny tail stage leaves the executors idle;
    concurrent submission back-fills those tails (Spark's FIFO scheduler
    overlaps jobs whenever slots are free). Deterministic outcome: every
    check still runs, and on failures the FIRST failing check in declaration
    order raises — exactly the exception the sequential loop raised. The
    raised error's ``check`` names the failing ``(model, column, kind)``.

    Only the checks of models present in ``built`` run, so a caller can
    check each model as soon as it is built (``flow.full_refresh`` does)."""
    from concurrent.futures import ThreadPoolExecutor

    todo = [c for c in CHECKS if c[0] in built]
    if not todo:
        return

    def one(c: tuple) -> CheckError | None:
        model, col, kind = c
        try:
            _KIND[kind](built[model], col, model)
            return None
        except CheckError as e:
            e.check = c
            return e

    spark = built[todo[0][0]].sparkSession
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [pool.submit(thread_target(spark, one), c) for c in todo]
    for f in futures:
        err = f.result()
        if err is not None:
            raise err
