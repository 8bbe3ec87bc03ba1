"""stream_gold: events files landing on a schedule, streamed into tablog.

Open loop. A generator thread lands one seeded ``events`` parquet file every
``INTERVAL`` seconds by atomic rename, whether or not the stream keeps up.
The stream is ``read_event_stream(maxFilesPerTrigger=1)`` ->
``incremental_hourly_gold`` -> ``foreachBatch(tablog.stream_writer(path))``
in append mode, with a checkpoint. Set-up streams one file through a
separate warm-up query. The measured query then starts on ``BACKLOG`` files
that are already there, as a restarted stream does, and catches up; then
the schedule starts.

A file's commit latency runs from its scheduled landing time to the end of
the micro-batch that consumed it: with ``maxFilesPerTrigger=1`` the k-th
batch that read rows consumed file k.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
import traceback
from datetime import datetime

import pyarrow.parquet as pq

import gen
from names import Result
from spans import Tracer

ROWS = 2_000
INTERVAL = 1.25  # seconds between landings: about half the catch-up rate
BACKLOG = 12
MIN_LIVE = 12  # landings per run at least: the median needs the samples
WARM_FILES = 1


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _Listener:
    """Collects every progress event of one query, in arrival order."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.batches: dict[int, dict] = {}
        self.query_id = None
        self.cv = threading.Condition()

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if str(p.id) != outer.query_id:
                    return
                ops = p.stateOperators or []
                rec = {
                    "rows": p.numInputRows,
                    "end": _epoch(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1000.0,
                    "dur": {k: v / 1000.0 for k, v in p.durationMs.items()},
                    "watermark": _epoch(p.eventTime["watermark"]) if "watermark" in p.eventTime else 0.0,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "dropped": sum(o.numRowsDroppedByWatermark for o in ops),
                }
                with outer.cv:
                    outer.batches[p.batchId] = rec
                    outer.cv.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()
        spark.streams.addListener(self.listener)

    def data_batches(self) -> list[tuple[int, dict]]:
        with self.cv:
            return [(b, r) for b, r in sorted(self.batches.items()) if r["rows"] > 0]

    def wait_for(self, pred, timeout: float) -> bool:
        with self.cv:
            return self.cv.wait_for(pred, timeout)


def _land(src: str, k: int, table, mtime: float | None = None) -> None:
    tmp = os.path.join(src, f".landing-{k:05d}.parquet")
    pq.write_table(table, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(src, f"events-{k:05d}.parquet"))


def _start(spark, src: str, table: str, ckpt: str):
    from gpu_telemetry_lakehouse_spark import tablog
    from gpu_telemetry_lakehouse_spark.streaming.pipeline import (
        incremental_hourly_gold, read_event_stream,
    )

    agg = incremental_hourly_gold(read_event_stream(spark, src, max_files_per_trigger=1))
    return (
        agg.writeStream.outputMode("append")
        .foreachBatch(tablog.stream_writer(table))
        .option("checkpointLocation", ckpt)
        .start()
    )


def _expected(files, watermarks: list[float], final_wm: float) -> dict:
    """hourly_agg over the rows the watermark admitted, for every window the
    final watermark has closed. A row of file k is admitted when its hour
    window ends after ``watermarks[k]``: Spark drops late rows by the
    watermark of the batch BEFORE the one that read them, and evicts (emits)
    windows by the current batch's watermark."""
    acc: dict[tuple, list] = {}
    for tbl, wm in zip(files, watermarks):
        ts = tbl.column("ts").cast("int64").to_numpy() // 1_000_000
        types = tbl.column("event_type").to_pylist()
        vals = tbl.column("value").to_pylist()
        for t, et, v in zip(ts.tolist(), types, vals):
            start = t - t % 3600
            if start + 3600 <= wm or start + 3600 > final_wm:
                continue
            a = acc.setdefault((start, et), [0, 0])
            a[0] += 1
            a[1] += int(math.floor(v * 1_000_000 + 0.5))
    return {k: (n, s / 1e6) for k, (n, s) in acc.items()}


def run(spark, args, tmp: str, proc_t0: float) -> Result:
    from pyspark.sql import functions as F

    from gpu_telemetry_lakehouse_spark import tablog

    res = Result()
    n_live = max(int(args.seconds / INTERVAL), MIN_LIVE)
    files = gen.stream_files(args.seed, WARM_FILES + BACKLOG + n_live, ROWS)
    warm, files = files[:WARM_FILES], files[WARM_FILES:]
    lis = _Listener(spark)

    # warm-up on its own source, table and checkpoint
    wdir = os.path.join(tmp, "warm")
    os.makedirs(os.path.join(wdir, "src"))
    for k, t in enumerate(warm):
        _land(os.path.join(wdir, "src"), k, t, time.time() - WARM_FILES + k)
    q = _start(spark, os.path.join(wdir, "src"), os.path.join(wdir, "table"), os.path.join(wdir, "ckpt"))
    q.processAllAvailable()
    q.stop()

    src = os.path.join(tmp, "src")
    table = os.path.join(tmp, "table")
    os.makedirs(src)
    now = time.time()
    for k in range(BACKLOG):
        _land(src, k, files[k], now - BACKLOG + k)
    res.e2e["setup_s"] = time.perf_counter() - proc_t0

    t_start = time.time()
    q = _start(spark, src, table, os.path.join(tmp, "ckpt"))
    lis.query_id = str(q.id)
    deadline = t_start + 30 + 2 * len(files) * INTERVAL
    caught_up = lis.wait_for(lambda: len(lis.data_batches()) >= BACKLOG, deadline - time.time())
    if not caught_up:
        q.stop()
        res.failed += len(files)
        res.attempted += len(files)
        res.notes.append("stream did not catch up on the backlog")
        return res
    res.e2e["bulk_s"] = lis.data_batches()[BACKLOG - 1][1]["end"] - t_start

    due, late, backlog = [], [], []

    def generator() -> None:
        t0 = time.time() + INTERVAL
        for i in range(n_live):
            d = t0 + i * INTERVAL
            time.sleep(max(0.0, d - time.time()))
            _land(src, BACKLOG + i, files[BACKLOG + i])
            due.append(d)
            late.append(time.time() - d)
            backlog.append(BACKLOG + i + 1 - len(lis.data_batches()))

    g = threading.Thread(target=generator)
    g.start()
    g.join()
    lis.wait_for(lambda: len(lis.data_batches()) >= len(files), deadline - time.time())
    try:
        q.processAllAvailable()
    except Exception as e:
        traceback.print_exc()
        res.notes.append(f"stream failed: {e!r}"[:500])
    q.stop()
    lis.wait_for(
        lambda: max(lis.batches, default=-1) >= max(tablog.committed_batch_ids(table), default=-1), 10
    )
    spark.streams.removeListener(lis.listener)

    data = lis.data_batches()
    res.attempted += len(files)
    res.failed += len(files) - len(data)
    lat = [data[BACKLOG + i][1]["end"] - d for i, d in enumerate(due) if BACKLOG + i < len(data)]
    res.e2e["op_latency_s"] = statistics.median(lat) if lat else 0.0

    # verification, outside the timed region
    res.attempted += 1
    last = max(tablog.committed_batch_ids(table))
    final_wm = lis.batches[last]["watermark"]
    late_wm = [lis.batches.get(b - 1, {"watermark": 0.0})["watermark"] for b, _ in data]
    expected = _expected(files[: len(data)], late_wm, final_wm)
    got = tablog.read(spark, table).select(
        F.unix_timestamp("hour_start").alias("h"), "event_type", "n", "sum_value"
    ).collect()
    actual = {(r.h, r.event_type): (r.n, r.sum_value) for r in got}
    if len(actual) != len(got) or actual != expected:
        res.failed += 1
        diff = [(k, expected.get(k), actual.get(k)) for k in set(expected) | set(actual)
                if expected.get(k) != actual.get(k)][:3]
        res.notes.append(f"stream table mismatch: {len(expected)} vs {len(got)} rows, {diff}")
    res.verified = True

    if args.trace:
        res.tracer = Tracer()
        batches = [r for b, r in sorted(lis.batches.items())]
        for b, r in sorted(lis.batches.items()):
            res.tracer.record("stream.batch", r["end"] - r["dur"].get("triggerExecution", 0.0),
                              r["end"], batch=b, rows=r["rows"], watermark=r["watermark"])
        L = res.layer
        for key, name in [("triggerExecution", "trigger_s"), ("addBatch", "add_batch_s"),
                          ("latestOffset", "latest_offset_s"), ("getBatch", "get_batch_s"),
                          ("walCommit", "wal_commit_s")]:
            L[f"stream.{name}"] = statistics.median(r["dur"].get(key, 0.0) for r in batches)
        L["stream.batches_per_file"] = len(batches) / len(files)
        L["stream.state_rows"] = batches[-1]["state_rows"]
        L["stream.rows_dropped_by_watermark"] = sum(r["dropped"] for r in batches)
        L["stream.backlog_files_max"] = max(backlog, default=0)
        L["stream.generator_late_s"] = max(late, default=0.0)
        L["stream.commit_p90_s"] = statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else 0.0
    return res
