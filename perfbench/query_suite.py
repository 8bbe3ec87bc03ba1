"""query_suite: the 36 pinned headline queries, serially, one client.

Closed loop: each query is built and its rows collected into this process
(``toPandas``) before the next starts. The seed permutes the query order.
One pass runs in the fresh session, as a batch job or a new notebook
session does, so every query pays its first-run planning and code
generation. (A warmed pass would
double the run: the 36 queries take about 20 s warm on four cores.) The
collected rows are then checked against each query's DuckDB oracle.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import numpy as np

import gen
from names import FAMILY, SUITE, Result
from spans import JobCounter, Tracer

SF = 0.002  # 12k lineitem rows: the fixed per-query cost dominates
# The tables come from one fixed seed and the run's seed only permutes the
# query order: at this size a few generated near-duplicates more or less
# move the curation queries' cost by more than the noise the bounds allow.
DATA_SEED = 0


def _oracle_frames(d: str) -> dict:
    """Every suite query's DuckDB oracle result (``anomaly_daily`` is checked
    through its certificate twin: the forest scores have no SQL oracle)."""
    from gpu_telemetry_lakehouse_spark.queries import ORACLE
    from tests.oracle import duck_con

    con = duck_con(d)
    out = {}
    for name in SUITE:
        oname = "anomaly_daily_certified" if name == "anomaly_daily" else name
        try:
            out[name] = con.sql(ORACLE[oname]).df()
        except Exception:
            traceback.print_exc()
    con.close()
    return out


def _mismatches(frames: dict, oracle: dict) -> list[str]:
    from tests.oracle import rows_of

    bad = []
    for name in SUITE:
        pdf, ddf = frames.get(name), oracle.get(name)
        try:
            if name == "anomaly_daily" and pdf is not None:
                flags = ["flags_ok", "n_flagged_ok", "topset_ok", "scores_finite_ok"]
                if not all(int(pdf[c].iloc[0]) == 1 for c in flags):
                    pdf = None
            if pdf is None or ddf is None or sorted(pdf.columns) != sorted(ddf.columns) \
                    or rows_of(pdf) != rows_of(ddf):
                bad.append(name)
        except Exception:
            traceback.print_exc()
            bad.append(name)
    return bad


def _pass(spark, d: str, order: list[str], jobs: JobCounter | None,
          tracer: Tracer | None) -> tuple[float, dict[str, tuple[float, float]], dict]:
    """One serial pass; returns (wall, {name: (build_s, exec_s)}, {name: rows})
    for the queries that did not raise."""
    from gpu_telemetry_lakehouse_spark.queries import QUERIES

    per: dict[str, tuple[float, float]] = {}
    frames = {}
    t_pass = time.perf_counter()
    for name in order:
        gid = jobs.new_group(name) if jobs else None
        try:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, d)
            t1 = time.perf_counter()
            eager = jobs.jobs(gid)[0] if jobs else 0
            frames[name] = df.toPandas()
            t2 = time.perf_counter()
            per[name] = (t1 - t0, t2 - t1)
        except Exception:
            traceback.print_exc()
            continue
        if jobs:
            j, tasks, ftasks = jobs.jobs(gid)
            tracer.counts["queries.eager_jobs"] += eager
            tracer.counts["queries.jobs"] += j
            tracer.counts["queries.tasks"] += tasks
            tracer.counts["queries.failed_tasks"] += ftasks
            tracer.record(f"queries.{name}.build", t0, t1, group=gid)
            tracer.record(f"queries.{name}.exec", t1, t2, group=gid)
    return time.perf_counter() - t_pass, per, frames


def _profile(spark, d: str, tracer: Tracer) -> int:
    """Plan time and executed-operator metrics per query (traced run only,
    after the timed pass)."""
    from gpu_telemetry_lakehouse_spark import plans
    from gpu_telemetry_lakehouse_spark.queries import QUERIES

    failed = 0
    for name in SUITE:
        fam = FAMILY[name]
        try:
            df = QUERIES[name](spark, d)
            t0 = time.perf_counter()
            plans.explain_formatted(df)
            tracer.counts["queries.plan_s"] += time.perf_counter() - t0
            for node, vals in plans.executed_metrics(df):
                if node.startswith("Scan"):
                    tracer.counts[f"queries.{fam}.scan_rows"] += vals.get("numOutputRows", 0)
                tracer.counts[f"queries.{fam}.shuffle_write_bytes"] += vals.get("shuffleBytesWritten", 0)
                tracer.counts[f"queries.{fam}.spill_bytes"] += vals.get("spillSize", 0)
        except Exception:
            traceback.print_exc()
            failed += 1
    return failed


def run(spark, args, tmp: str, proc_t0: float) -> Result:
    from gpu_telemetry_lakehouse_spark.queries import QUERIES

    res = Result()
    d = os.path.join(tmp, "sf")
    gen.write_star_schema(DATA_SEED, d, SF)
    res.e2e["setup_s"] = time.perf_counter() - proc_t0

    order = list(np.random.default_rng([args.seed, 9]).permutation(SUITE))
    tracer = res.tracer = Tracer() if args.trace else None
    wall, per, frames = _pass(spark, d, order, JobCounter(spark) if tracer else None, tracer)
    res.attempted += len(order)
    res.failed += len(order) - len(per)

    # verification, outside the timed region; the forest scores of
    # anomaly_daily have no SQL oracle, its certificate twin is checked
    try:
        frames["anomaly_daily"] = QUERIES["anomaly_daily_certified"](spark, d).toPandas()
    except Exception:
        traceback.print_exc()
        frames.pop("anomaly_daily", None)
    bad = _mismatches(frames, _oracle_frames(d))
    res.attempted += len(SUITE)
    res.failed += len(bad)
    res.verified = True
    if bad:
        res.notes.append(f"oracle mismatch: {bad}")

    if not tracer:
        res.e2e["bulk_s"] = wall
        # the 36 queries are different operations, not samples of one: their
        # geometric mean (as in TPC-H's power metric) weighs each query's
        # relative change equally, where the median jumps between queries
        res.e2e["op_latency_s"] = statistics.geometric_mean([b + e for b, e in per.values()])
        return res

    res.failed += _profile(spark, d, tracer)
    res.attempted += len(SUITE)
    layer = dict(tracer.counts)
    for name, (b, e) in per.items():
        layer[f"queries.{name}.build_s"] = b
        layer[f"queries.{name}.exec_s"] = e
    for fam in ("olap", "curation"):
        layer[f"queries.{fam}_s"] = sum(b + e for n, (b, e) in per.items() if FAMILY[n] == fam)
    layer["queries.traced_pass_s"] = wall
    layer["queries.accounted_share"] = sum(b + e for b, e in per.values()) / wall
    res.layer = layer
    return res
