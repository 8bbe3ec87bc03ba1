"""Bronze ingestion: CSV sources -> parquet lake (reference parity).

reference: pipelines/ingest_bronze.py:10-69 — five ``pd.read_csv`` ->
``to_parquet`` hops with row-count logging. Spark-first: declared schemas
(schemas.py), distributed CSV scan, parquet write; row counts logged per
dataset (the basis of the reference's published scale numbers, README.md:62-66).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .schemas import BRONZE_SOURCES
from .session import thread_target

log = logging.getLogger(__name__)

# source csv filename per bronze dataset (reference: ingest_bronze.py:15-59)
SOURCE_FILES = {
    "bronze_job_events": "pai_job_table.csv",
    "bronze_instance_table": "pai_instance_table.csv",
    "bronze_machine_metrics": "pai_machine_metric.csv",
    "bronze_machine_spec": "pai_machine_spec.csv",
    "bronze_gpu_specs": "tpu_gpus.csv",
}


def ingest_csv(
    spark: SparkSession, src: str, schema: T.StructType, out_path: str
) -> DataFrame:
    """One CSV -> parquet hop with the declared schema.

    Row-count observability (reference X2, ingest_bronze.py:17) rides the
    write job itself via ``observe`` — no second scan. A separate ``count()``
    would re-read the data; at 100 TB that doubles ingest cost for a log line.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.read.schema(schema).option("header", True).csv(src)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    df.write.mode("overwrite").parquet(out_path)
    log.info("Wrote %s rows -> %s", obs.get["rows"], out_path)
    # Read back with the declared schema: footer inference would cost a job
    # and yields the same schema (the file source makes every field nullable).
    return spark.read.schema(schema).parquet(out_path)


def ingest_csv_quarantine(
    spark: SparkSession, src: str, schema: T.StructType, out_path: str
) -> tuple[DataFrame, DataFrame]:
    """CSV ingest that never drops data silently: rows that fail the declared
    schema land in ``<out_path>_quarantine`` with their raw text, clean rows
    in ``out_path``. Returns (clean, quarantined).

    Mechanics: PERMISSIVE mode + ``columnNameOfCorruptRecord`` keeps the
    malformed raw line in-band (one scan, no re-read) instead of FAILFAST
    aborting a 100 TB job at row 3 or DROPMALFORMED silently shrinking the
    dataset. Both counts ride the writes as observations."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    with_corrupt = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.schema(with_corrupt)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(src)
        .cache()  # one scan feeds both branches; corrupt-column reads require it
    )
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    obs_c, obs_b = Observation(), Observation()
    clean.observe(obs_c, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(out_path)
    bad.observe(obs_b, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(
        out_path + "_quarantine"
    )
    df.unpersist()
    log.info(
        "Wrote %s clean rows -> %s (%s quarantined)",
        obs_c.get["rows"], out_path, obs_b.get["rows"],
    )
    return spark.read.parquet(out_path), spark.read.parquet(out_path + "_quarantine")


def ingest_all(spark: SparkSession, source_dir: str, lake_dir: str) -> dict[str, DataFrame]:
    """All five bronze datasets (skips sources missing on disk).

    The hops are independent, so they run concurrently: at lake sizes where
    each is a one-task job, a serial loop leaves all but one core idle. On
    failure every hop still finishes, and the first failing dataset in
    ``BRONZE_SOURCES`` order raises."""
    from concurrent.futures import ThreadPoolExecutor

    todo = {}
    for name, schema in BRONZE_SOURCES.items():
        src = os.path.join(source_dir, SOURCE_FILES[name])
        if not os.path.exists(src):
            log.warning("source %s missing, skipping %s", src, name)
            continue
        todo[name] = (src, schema, os.path.join(lake_dir, "bronze", name))
    with ThreadPoolExecutor(max_workers=len(BRONZE_SOURCES)) as pool:
        futures = {
            name: pool.submit(thread_target(spark, ingest_csv, f"medallion:{name}"), spark, *args)
            for name, args in todo.items()
        }
    return {name: f.result() for name, f in futures.items()}
