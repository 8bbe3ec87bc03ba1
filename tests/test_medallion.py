"""Golden-pipeline test: fixture CSVs (FIXTURES.md) through the full
medallion flow; asserts silver/gold values and the reference's 7 constraints."""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

from gpu_telemetry_lakehouse_spark.flow import full_refresh

DAY = 86400.0


def _machine_metric_rows(
    days: int, start_day: int = 0, ks: range = range(4)
) -> list[dict]:
    rows = []
    for day in range(start_day, days):
        for m in ("m1", "m2"):
            for k in ks:
                ts = day * DAY + k * 3600.0
                rows.append(
                    {
                        "worker_name": f"w_{m}",
                        "machine": m,
                        "start_time": ts - 60,
                        "end_time": None if (day == 0 and m == "m1" and k == 0) else ts,
                        "machine_gpu": None if k == 3 else 100.0 * day + 10.0 * k,
                        "machine_cpu": 50.0 + k,
                        "machine_cpu_iowait": 1.0,
                        "machine_cpu_kernel": 2.0,
                        "machine_cpu_usr": 3.0,
                        "machine_load_1": 4.0,
                        "machine_net_receive": 5.0,
                        "machine_num_worker": 2,
                    }
                )
    return rows


def write_sources(d, metric_days: int = 3, metric_rows: list[dict] | None = None) -> str:
    pd.DataFrame(
        {
            "job_name": [f"job_{i}" for i in range(6)],
            "inst_id": [f"inst_{i}" for i in range(6)],
            "user": ["u1", "u1", "u2", "u2", "u3", "u3"],
            "status": ["Terminated"] * 4 + ["Running", "Failed"],
            "start_time": [0.0, 100.0, 200.0, 300.0, 400.0, 500.0],
            # Running job -> NULL end_time (drives the CASE null-guard)
            "end_time": [1000.0, 1100.0, 1200.0, 1300.0, None, 1500.0],
        }
    ).to_csv(d / "pai_job_table.csv", index=False)

    pd.DataFrame(
        metric_rows if metric_rows is not None else _machine_metric_rows(metric_days)
    ).to_csv(d / "pai_machine_metric.csv", index=False)

    pd.DataFrame(
        {
            "inst_id": ["inst_0", "inst_1"],
            "job_name": ["job_0", "job_1"],
            "status": ["Terminated", "Terminated"],
            "start_time": [0.0, 100.0],
            "end_time": [1000.0, 1100.0],
        }
    ).to_csv(d / "pai_instance_table.csv", index=False)

    pd.DataFrame(
        {"machine": ["m1", "m2"], "cap_cpu": [96, 96], "cap_mem": [512, 512], "cap_gpu": [8, 8]}
    ).to_csv(d / "pai_machine_spec.csv", index=False)

    pd.DataFrame(
        {
            "Product_Name": ["GeForce RTX 3090", "Radeon RX 6900 XT"],
            "GPU_Chip": ["GA102", "Navi 21"],
            "Released": ["Sep 2020", "Dec 2020"],
            "Bus": ["PCIe 4.0 x16", "PCIe 4.0 x16"],
            "Memory": ["24 GB, GDDR6X, 384 bit", "16 GB, GDDR6, 256 bit"],
            "GPU_clock": ["1395 MHz", "1825 MHz"],
            "Memory_clock": ["1219 MHz", "2000 MHz"],
            "Shaders_TMUs_ROPs": ["10496 / 328 / 112", "5120 / 320 / 128"],
        }
    ).to_csv(d / "tpu_gpus.csv", index=False)
    return str(d)


@pytest.fixture(scope="module")
def source_dir(tmp_path_factory):
    return write_sources(tmp_path_factory.mktemp("sources"))


@pytest.fixture(scope="module")
def built(spark, source_dir, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("lake"))
    return full_refresh(spark, source_dir, lake)


def test_silver_jobs_values(built):
    rows = {r.job_id: r for r in built["silver_jobs"].collect()}
    assert len(rows) == 6
    assert rows["job_0"].run_time_sec == 1000.0
    assert rows["job_4"].run_time_sec is None  # Running job: NULL end_time
    assert rows["job_4"].job_status == "Running"
    assert rows["job_0"].user_id == "u1"  # reserved-word column renamed


def test_silver_timeseries_filters_null_ts(built):
    ts = built["silver_gpu_timeseries"]
    assert ts.count() == 23  # 24 rows minus the one NULL end_time
    assert ts.filter(ts.ts.isNull()).count() == 0


def test_gold_daily_shape(built):
    gold = built["gold_cluster_util_daily"].orderBy("dt").collect()
    assert len(gold) == 3  # three distinct days
    # day 1: gpu values (k<3 only; k=3 is NULL) = 100,110,120 on both machines
    d1 = gold[1]
    assert math.isclose(d1.avg_gpu_util, 110.0)
    # sorted gpu vals [100,100,110,110,120,120]: idx 0.95*5=4.75 -> 120 exactly
    assert d1.p95_gpu_util == pytest.approx(120.0)
    # dt is UTC midnight
    assert d1.dt.hour == 0 and d1.dt.day == 2


def test_gpu_specs_parsing(built):
    specs = {r.product_name: r for r in built["silver_gpu_specs"].collect()}
    r3090 = specs["GeForce RTX 3090"]
    assert r3090.mem_gb == 24.0
    assert r3090.mem_type == "GDDR6X"
    assert r3090.mem_bus_bits == 384
    assert r3090.shaders == 10496 and r3090.tmus == 328 and r3090.rops == 112
    assert r3090.released_year == 2020
    assert r3090.gpu_clock_mhz == 1395


def test_scored_gold_invariants(built):
    scored = built["gold_cluster_util_daily_scored"].collect()
    assert len(scored) == 3
    flags = {r.anomaly_flag for r in scored}
    assert flags <= {0, 1}
    assert all(0.0 < r.anomaly_score <= 1.0 for r in scored)


def test_notebook_plot_script_runs(built, tmp_path, spark, source_dir):
    """V1 parity: the plot notebook's data path (scored gold -> dt-cast ->
    order -> pandas) runs end to end; without matplotlib it writes the
    plot-ready CSV."""
    import subprocess
    import sys as _sys
    from pathlib import Path

    lake = None
    # re-derive the lake dir used by the module-scoped `built` fixture
    scored = built["gold_cluster_util_daily_scored"]
    files = scored.inputFiles()
    assert files, "scored gold not materialized"
    lake = str(Path(files[0].replace("file:", "")).parent.parent.parent)

    out = tmp_path / "images"
    proc = subprocess.run(
        [_sys.executable, "notebooks/plot_daily_anomalies.py", lake, str(out)],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    produced = list(out.glob("daily_gpu_util_with_anomalies.*"))
    assert produced, proc.stdout


def test_refresh_history_is_versioned(spark, source_dir, tmp_path_factory):
    """Re-running the pipeline over the same lake commits new warehouse
    snapshots instead of clobbering: history grows, and time travel to the
    first refresh still reads the original gold rows."""
    from gpu_telemetry_lakehouse_spark import tablog as T

    lake = str(tmp_path_factory.mktemp("lake_versioned"))
    full_refresh(spark, source_dir, lake)
    full_refresh(spark, source_dir, lake)
    gold_path = os.path.join(lake, "warehouse", "gold_cluster_util_daily")
    hist = T.history(gold_path)
    assert [h["operation"] for h in hist] == ["create", "overwrite"]
    assert T.read(spark, gold_path, version=0).count() == 3
    assert T.read(spark, gold_path).count() == 3


def test_gold_job_efficiency_daily_math(built):
    """Allocated-vs-used GPU-hours (reference README.md:546-549): allocated =
    interval∩day hours per instance; used = allocated × that day's mean
    cluster utilization; the running job (NULL end) is capped at the
    observation horizon (max metric ts = day2 + 3h)."""
    rows = {(r.job_id, r.dt.day): r for r in built["gold_job_efficiency_daily"].collect()}
    # 5 finished jobs live on day 1 only; job_4 spans days 1-3 -> 8 rows
    assert len(rows) == 8
    j0 = rows[("job_0", 1)]
    assert math.isclose(j0.alloc_gpu_hours, 1000 / 3600)
    # day-0 cluster mean util: m1 k1,k2 + m2 k0..k2 = (10+20+0+10+20)/5 = 12
    assert math.isclose(j0.cluster_util_pct, 12.0)
    assert math.isclose(j0.used_gpu_hours, (1000 / 3600) * 12.0 / 100.0)
    assert math.isclose(j0.efficiency_pct, 12.0)
    # running job_4: full day 2 allocated; day-1 raw utils (100,110,120) are
    # clamped per-sample at 100 so mean util = 100 and used never exceeds
    # allocated (the PAI field's "dataset units" can exceed 100)
    j4d2 = rows[("job_4", 2)]
    assert math.isclose(j4d2.alloc_gpu_hours, 24.0)
    assert math.isclose(j4d2.used_gpu_hours, 24.0)
    assert all(r.used_gpu_hours <= r.alloc_gpu_hours + 1e-9 for r in rows.values())
    # horizon cap: day 3 holds only 3h (max ts = 2*86400 + 3*3600)
    j4d3 = rows[("job_4", 3)]
    assert math.isclose(j4d3.alloc_gpu_hours, 3.0)
    # day-0 partial: 86400 - 400 seconds
    assert math.isclose(rows[("job_4", 1)].alloc_gpu_hours, (86400 - 400) / 3600)


def test_gold_user_gpu_usage_daily_math(built):
    """Per-user GPU-hours / job counts / failure rates
    (reference README.md:550-553)."""
    rows = {(r.user_id, r.dt.day): r for r in built["gold_user_gpu_usage_daily"].collect()}
    u1 = rows[("u1", 1)]
    assert u1.n_jobs_active == 2 and u1.n_jobs_started == 2
    assert math.isclose(u1.gpu_hours, 2000 / 3600)
    assert u1.n_jobs_failed == 0 and u1.failure_rate == 0.0
    # u3: job_4 Running (NULL end -> 0 extra hours, still active/started),
    # job_5 Failed -> failure rate 1/2
    u3 = rows[("u3", 1)]
    assert u3.n_jobs_active == 2 and u3.n_jobs_started == 2
    assert u3.n_jobs_failed == 1
    assert math.isclose(u3.failure_rate, 0.5)
    assert math.isclose(u3.gpu_hours, 1000 / 3600)


def test_new_gold_marts_materialized_through_tablog(built, spark):
    """Both marts are persisted warehouse tables (version-0 tablog commits
    with dt stats), not lazy views."""
    import os

    from gpu_telemetry_lakehouse_spark import tablog as T

    for df in (built["gold_job_efficiency_daily"], built["gold_user_gpu_usage_daily"]):
        files = [f for f in df.inputFiles() if "warehouse" in f]
        assert files, "mart should be read back from its warehouse table"
        tbl = os.path.dirname(files[0].replace("file://", ""))
        assert T.history(tbl)[0]["operation"] == "create"
        stats = T.snapshot_files(tbl)[0]["stats"]
        assert "dt" in stats  # temporal stats present (MICROS encoding)


def test_incremental_update_matches_full_rebuild(spark, tmp_path_factory):
    """Late-arriving day of telemetry applied via incremental_update (silver
    append + stats-pruned day recompute + gold MERGE on dt) must produce
    gold and scored tables value-identical to a from-scratch full_refresh
    over the union of inputs, while silver history files stay untouched."""
    from gpu_telemetry_lakehouse_spark import tablog as T
    from gpu_telemetry_lakehouse_spark.flow import incremental_update
    from gpu_telemetry_lakehouse_spark.schemas import MACHINE_METRICS

    # Late batch covers BOTH incremental shapes: extra samples for an
    # ALREADY-BUILT day (day 1, new hours k=4,5 -> the gold MERGE must
    # combine pre-existing silver files with the appended ones) and a brand
    # new day (day 2 -> pure insert).
    base_rows = _machine_metric_rows(2)
    late_rows = _machine_metric_rows(2, start_day=1, ks=range(4, 6)) + _machine_metric_rows(
        3, start_day=2
    )
    inc_src = write_sources(tmp_path_factory.mktemp("inc_sources"), metric_rows=base_rows)
    inc_lake = str(tmp_path_factory.mktemp("inc_lake"))
    full_src = write_sources(
        tmp_path_factory.mktemp("full_sources"), metric_rows=base_rows + late_rows
    )
    full_lake = str(tmp_path_factory.mktemp("full_lake"))

    full_refresh(spark, inc_src, inc_lake)
    import os

    silver_path = os.path.join(inc_lake, "warehouse", "silver_gpu_timeseries")
    files_before = {a["file"] for a in T.snapshot_files(silver_path)}

    late = spark.createDataFrame(
        pd.DataFrame(late_rows), schema=MACHINE_METRICS
    )
    inc = incremental_update(spark, inc_lake, late)

    want = full_refresh(spark, full_src, full_lake)

    def rows(df, cols):
        return sorted(df.select(*cols).collect())

    gold_cols = ["dt", "avg_gpu_util", "p95_gpu_util", "avg_cpu_util"]
    assert rows(inc["gold_cluster_util_daily"], gold_cols) == rows(
        want["gold_cluster_util_daily"], gold_cols
    )
    scored_cols = gold_cols + ["anomaly_flag"]
    assert rows(inc["gold_cluster_util_daily_scored"], scored_cols) == rows(
        want["gold_cluster_util_daily_scored"], scored_cols
    )
    # silver history untouched: every pre-update file still in the snapshot
    files_after = {a["file"] for a in T.snapshot_files(silver_path)}
    assert files_before <= files_after and len(files_after) > len(files_before)


def test_incremental_batches_alternating_days_match_full_rebuild(spark, tmp_path_factory):
    """Late batches alternating recent and old days — including extra
    samples for the first day, the min of its gold file — keep exactly one
    gold row per dt after every batch and end equal to a full rebuild over
    the union of inputs. Every warehouse table then reads with the schema a
    footer-merged read infers (names, order, types, nullability)."""
    from gpu_telemetry_lakehouse_spark import tablog as T
    from gpu_telemetry_lakehouse_spark.flow import incremental_update
    from gpu_telemetry_lakehouse_spark.schemas import MACHINE_METRICS

    base_rows = _machine_metric_rows(5)
    batches = [
        _machine_metric_rows(5, start_day=4, ks=range(4, 6)),  # recent day
        _machine_metric_rows(1, start_day=0, ks=range(4, 6)),  # first day
        _machine_metric_rows(6, start_day=5),  # new day
        _machine_metric_rows(3, start_day=2, ks=range(6, 8)),  # old day
    ]
    inc_lake = str(tmp_path_factory.mktemp("alt_inc_lake"))
    full_refresh(
        spark, write_sources(tmp_path_factory.mktemp("alt_inc_src"), metric_rows=base_rows), inc_lake
    )
    for rows_ in batches:
        inc = incremental_update(
            spark, inc_lake, spark.createDataFrame(pd.DataFrame(rows_), schema=MACHINE_METRICS)
        )
        gold = inc["gold_cluster_util_daily"]
        assert gold.count() == gold.select("dt").distinct().count()

    union = base_rows + [r for b in batches for r in b]
    want = full_refresh(
        spark,
        write_sources(tmp_path_factory.mktemp("alt_full_src"), metric_rows=union),
        str(tmp_path_factory.mktemp("alt_full_lake")),
    )

    def rows(df, cols):
        return sorted(df.select(*cols).collect())

    gold_cols = ["dt", "avg_gpu_util", "p95_gpu_util", "avg_cpu_util"]
    assert rows(inc["gold_cluster_util_daily"], gold_cols) == rows(
        want["gold_cluster_util_daily"], gold_cols
    )
    assert inc["gold_cluster_util_daily"].count() == 6
    scored_cols = gold_cols + ["anomaly_flag"]
    assert rows(inc["gold_cluster_util_daily_scored"], scored_cols) == rows(
        want["gold_cluster_util_daily_scored"], scored_cols
    )

    wh = os.path.join(inc_lake, "warehouse")
    for name in sorted(os.listdir(wh)):
        path = os.path.join(wh, name)
        merged = spark.read.option("mergeSchema", "true").parquet(
            *[T._data_path(path, a) for a in T.snapshot_files(path)]
        )
        assert T.read(spark, path).schema == merged.schema, name


def _group_jobs(spark, group: str | None) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _in_job_group(spark, fn):
    """Run ``fn`` under a fresh caller's job group; return (result, job ids
    in the group, job ids started outside any group meanwhile)."""
    sc = spark.sparkContext
    group = f"caller-{os.urandom(4).hex()}"
    before = _group_jobs(spark, None)
    sc.setJobGroup(group, "caller")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, _group_jobs(spark, group), _group_jobs(spark, None) - before


def test_refresh_jobs_stay_in_callers_job_group(spark, source_dir, tmp_path):
    """Every job of a refresh — pool threads' ingests, models, checks and
    scoring included — lands in the job group the caller set, so
    cancelJobGroup can stop all of it."""
    _, grouped, escaped = _in_job_group(
        spark, lambda: full_refresh(spark, source_dir, str(tmp_path / "lake"))
    )
    assert grouped and not escaped


def test_ingest_csv_one_job_declared_schema(spark, source_dir, tmp_path):
    """One CSV -> parquet hop is one Spark job: the read-back takes the
    declared schema instead of inferring it from the footers, and equals
    the inferred schema."""
    from gpu_telemetry_lakehouse_spark.ingest import SOURCE_FILES, ingest_csv
    from gpu_telemetry_lakehouse_spark.schemas import BRONZE_SOURCES

    for name, schema in BRONZE_SOURCES.items():
        out = str(tmp_path / name)
        src = os.path.join(source_dir, SOURCE_FILES[name])
        df, jobs, _ = _in_job_group(spark, lambda: ingest_csv(spark, src, schema, out))
        assert len(jobs) == 1, name
        assert df.schema == spark.read.parquet(out).schema, name


def test_dag_failure_stops_later_ranks_only(spark):
    """After a failure no node ranked after it is submitted, nodes already
    running finish, and nodes ranked before it still run: the rank-1 node,
    whose dep finishes only after the rank-2 node failed, runs and fails,
    and its error is the one raised."""
    import threading
    import time

    from gpu_telemetry_lakehouse_spark.flow import _Node, _run_dag

    b_failed = threading.Event()
    ran = []

    def root(deps):
        assert b_failed.wait(30)
        time.sleep(0.5)  # the runner records b's failure meanwhile
        ran.append("root")

    def failing(name):
        def run(deps):
            ran.append(name)
            if name == "b":
                b_failed.set()
            raise ValueError(name)

        return run

    def in_flight(deps):
        time.sleep(1)
        ran.append("in_flight")

    nodes = {
        "root": _Node((), root, 0),
        "a": _Node(("root",), failing("a"), 1),
        "b": _Node((), failing("b"), 2),
        "in_flight": _Node((), in_flight, 3),
        "c": _Node(("root",), lambda deps: ran.append("c"), 4),
    }
    with pytest.raises(ValueError, match="^a$"):
        _run_dag(spark, {}, nodes, lambda key, exc: nodes[key].rank)
    assert sorted(ran) == ["a", "b", "in_flight", "root"]


def test_refresh_raises_first_declared_check_and_skips_scored_commit(spark, tmp_path):
    """A duplicate job_name fails silver_jobs.job_id unique, the first
    declared check; a NULL machine also fails a later-declared check of
    another model, which runs concurrently. The refresh raises the unique
    check's error, as the serial loop did, and the scored table is never
    committed."""
    from gpu_telemetry_lakehouse_spark.checks import CheckError

    (tmp_path / "src").mkdir()
    src = write_sources(tmp_path / "src")
    jobs = pd.read_csv(os.path.join(src, "pai_job_table.csv"))
    jobs.loc[1, "job_name"] = jobs.loc[0, "job_name"]
    jobs.to_csv(os.path.join(src, "pai_job_table.csv"), index=False)
    metrics = pd.DataFrame(_machine_metric_rows(3))
    metrics["machine"] = metrics["machine"].astype(object)
    metrics.loc[5, "machine"] = None
    metrics.to_csv(os.path.join(src, "pai_machine_metric.csv"), index=False)

    lake = str(tmp_path / "lake")
    with pytest.raises(CheckError, match=r"^silver_jobs\.job_id: duplicate keys present$"):
        full_refresh(spark, src, lake)
    scored = os.path.join(lake, "warehouse", "gold_cluster_util_daily_scored")
    assert not os.path.exists(os.path.join(scored, "_txn_log"))


def test_refresh_missing_source_raises_keyerror_and_leaves_no_thread(spark, tmp_path):
    """Without pai_machine_metric.csv the silver_gpu_timeseries node has no
    input: the refresh raises the serial loop's KeyError, within a time
    limit, and no pool thread outlives the call."""
    import threading

    (tmp_path / "src").mkdir()
    src = write_sources(tmp_path / "src")
    os.remove(os.path.join(src, "pai_machine_metric.csv"))
    before = set(threading.enumerate())
    outcome = []

    def call():
        try:
            full_refresh(spark, src, str(tmp_path / "lake"))
        except Exception as e:
            outcome.append(e)

    t = threading.Thread(target=call)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    assert len(outcome) == 1 and isinstance(outcome[0], KeyError)
    assert outcome[0].args == ("bronze_machine_metrics",)
    assert set(threading.enumerate()) <= before


@pytest.fixture(scope="module")
def refreshed_lake(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("late_lake"))
    full_refresh(
        spark,
        write_sources(tmp_path_factory.mktemp("late_src"), metric_rows=_machine_metric_rows(3)),
        lake,
    )
    return lake


def _late_csv(spark, tmp_path, rows: list[dict]):
    """A late batch as the benchmark feeds one: a CSV read with the
    declared schema, so every re-evaluation re-parses the file."""
    from gpu_telemetry_lakehouse_spark.schemas import MACHINE_METRICS

    path = str(tmp_path / "late.csv")
    pd.DataFrame(rows).to_csv(path, index=False)
    return spark.read.schema(MACHINE_METRICS).option("header", True).csv(path)


def test_incremental_update_job_budget(spark, refreshed_lake, tmp_path):
    """One late batch — an old day and a new one — runs at most 7 Spark
    jobs, all in the caller's job group: the touched days ride the silver
    append's write (no distinct collect), the gold recompute has no sort,
    and the scored table is one partition."""
    from gpu_telemetry_lakehouse_spark.flow import incremental_update

    late = _late_csv(
        spark,
        tmp_path,
        _machine_metric_rows(2, start_day=1, ks=range(4, 6)) + _machine_metric_rows(4, start_day=3),
    )
    out, grouped, escaped = _in_job_group(spark, lambda: incremental_update(spark, refreshed_lake, late))
    assert out["gold_cluster_util_daily"].count() == 4
    assert 0 < len(grouped) <= 7 and not escaped, sorted(grouped)


def test_incremental_update_null_timestamps_touch_no_gold(spark, refreshed_lake, tmp_path):
    """A late batch whose rows all lack ``end_time`` has no day to
    recompute: the call returns ``{}`` and commits no gold or scored
    version (the silver append it makes adds no data file)."""
    from gpu_telemetry_lakehouse_spark import tablog as T
    from gpu_telemetry_lakehouse_spark.flow import incremental_update

    wh = os.path.join(refreshed_lake, "warehouse")
    tables = ("gold_cluster_util_daily", "gold_cluster_util_daily_scored")
    before = {t: T.current_version(os.path.join(wh, t)) for t in tables}
    silver = os.path.join(wh, "silver_gpu_timeseries")
    silver_files = T.snapshot_files(silver)
    rows = [dict(r, end_time=None) for r in _machine_metric_rows(2, start_day=1)]
    assert incremental_update(spark, refreshed_lake, _late_csv(spark, tmp_path, rows)) == {}
    assert {t: T.current_version(os.path.join(wh, t)) for t in tables} == before
    assert T.snapshot_files(silver) == silver_files
