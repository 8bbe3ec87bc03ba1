#!/usr/bin/env python
"""Step and job profile of ``flow.incremental_update``.

Generates the ``lakehouse_refresh`` inputs for a seed (perfbench/gen.py:
49 days of machine metrics, late batches of 1k rows), runs
``flow.full_refresh`` once, then N late batches. For every batch it prints
the wall of each top-level step (silver append, MERGE, scoring, scored
commit, reads) and every Spark job the batch started: its step, its task
count and its stages' call sites. Closing lines give the median batch
wall, the job count per batch and each step's median wall per batch.

Usage (from the root of a checkout):

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SHUFFLE=4 python tools/incremental_profile.py \
        [--seed 1] [--batches 8] [--quiet]

Inputs and the lake live in a temporary directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import functools
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402
import lakehouse_refresh as LR  # noqa: E402

from gpu_telemetry_lakehouse_spark import flow  # noqa: E402
from gpu_telemetry_lakehouse_spark import tablog  # noqa: E402
from gpu_telemetry_lakehouse_spark.schemas import MACHINE_METRICS  # noqa: E402
from gpu_telemetry_lakehouse_spark.session import get_spark  # noqa: E402

# (module, attribute, step name); only the outermost wrapped call is a step
STEPS = [
    (tablog, "append", "tablog.append"),
    (tablog, "merge_upsert_pruned", "tablog.merge_upsert_pruned"),
    (tablog, "read", "tablog.read"),
    (flow, "score_driver_side", "score_driver_side"),
    (flow, "_materialize", "_materialize(scored)"),
]


class Profiler:
    """Wraps each step so a batch records (step, wall, job ids)."""

    def __init__(self, sc):
        self.sc = sc
        self.group: str | None = None
        self.steps: list[tuple[str, float, set[int]]] = []
        self.depth = 0
        self.saved = []

    def jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def wrap(self, mod, attr: str, name: str) -> None:
        fn = getattr(mod, attr)
        self.saved.append((mod, attr, fn))

        @functools.wraps(fn)
        def step(*args, **kwargs):
            if self.depth or self.group is None:
                return fn(*args, **kwargs)
            before = self.jobs()
            self.depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.depth -= 1
                self.steps.append((name, time.perf_counter() - t0, self.jobs() - before))

        setattr(mod, attr, step)

    def unwrap(self) -> None:
        for mod, attr, fn in reversed(self.saved):
            setattr(mod, attr, fn)


def describe(sc, jid: int) -> tuple[int, list[str]]:
    """(tasks, stage call sites) of one job."""
    st = sc.statusTracker()
    info = st.getJobInfo(jid)
    tasks, sites = 0, []
    for sid in sorted(info.stageIds) if info else []:
        s = st.getStageInfo(sid)
        if s is None:  # skipped stage (reused shuffle): never ran
            continue
        tasks += s.numTasks
        sites.append(s.name)
    return tasks, sites


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--quiet", action="store_true", help="print only the per-batch summary")
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="incremental_profile-")
    try:
        inputs = gen.write_lakehouse_sources(
            args.seed, tmp, LR.METRIC_ROWS, LR.JOBS, max(args.batches, 1), LR.LATE_ROWS
        )
        spark = get_spark(app="incremental-profile")
        sc = spark.sparkContext
        lake = os.path.join(tmp, "lake")
        t0 = time.perf_counter()
        flow.full_refresh(spark, inputs.source_dir, lake)
        print(f"full_refresh {time.perf_counter() - t0:.3f}s")

        prof = Profiler(sc)
        for mod, attr, name in STEPS:
            prof.wrap(mod, attr, name)
        walls, counts, per_step = [], [], {}
        try:
            for i, path in enumerate(inputs.late_csvs[: args.batches]):
                prof.group, prof.steps = f"batch-{i}-{os.urandom(3).hex()}", []
                sc.setJobGroup(prof.group, f"late batch {i}")
                t = time.perf_counter()
                late = spark.read.schema(MACHINE_METRICS).option("header", True).csv(path)
                flow.incremental_update(spark, lake, late)
                wall = time.perf_counter() - t
                jobs = sorted(prof.jobs())
                sc.setLocalProperty("spark.jobGroup.id", None)
                walls.append(wall)
                counts.append(len(jobs))
                print(f"batch {i}: {wall:.3f}s, {len(jobs)} jobs")
                batch_steps: dict[str, float] = {}
                for name, dt, _ in prof.steps:
                    batch_steps[name] = batch_steps.get(name, 0.0) + dt
                for name, dt in batch_steps.items():
                    per_step.setdefault(name, []).append(dt)
                if args.quiet:
                    continue
                step_of = {j: name for name, _, js in prof.steps for j in js}
                for name, dt, js in prof.steps:
                    print(f"  {name:<28} {dt:7.3f}s  jobs={len(js)}")
                for j in jobs:
                    tasks, sites = describe(sc, j)
                    print(f"    job {j:>4} [{step_of.get(j, 'incremental_update')}] tasks={tasks}: {' | '.join(sites)}")
        finally:
            prof.unwrap()
        if walls:
            print(
                f"median batch {statistics.median(walls):.3f}s over {len(walls)} batches; "
                f"jobs per batch {counts}"
            )
            for name, dts in per_step.items():
                print(f"  median {name:<28} {statistics.median(dts):7.3f}s per batch")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
