"""Seeded input generator for the benchmark workloads.

Every function takes a seed and sizes, and its output depends on nothing
else: the same seed gives byte-identical inputs.

- ``write_star_schema``: the eight query tables (TPC-H-shaped star schema,
  an ``events`` stream table, ``documents`` and ``embeddings``) as one
  parquet file each, in the layout ``catalog.load_table`` reads.
- ``write_lakehouse_sources``: the five reference source CSVs
  (FIXTURES.md section 1) plus late machine-metric batches.
- ``stream_files``: seeded ``events`` frames for the stream workload, one per
  landing, with rows out of order inside the watermark and a few beyond it.

Only numpy and pyarrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big", "dark"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.5, 0.12, 0.1, 0.13]

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400
US = 1_000_000


def _ts_us(days_since_1970: np.ndarray) -> pa.Array:
    return pa.array(days_since_1970.astype(np.int64) * DAY * US, pa.timestamp("us"))


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(seed: int, out_dir: str, sf: float) -> None:
    """Write the query tables at scale ``sf`` (sf=0.01: 60k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_part = max(int(200_000 * sf), 100)
    n_supp = max(int(10_000 * sf), 20)
    n_events = max(int(1_000_000 * sf), 1000)
    n_docs = max(int(50_000 * sf), 100)
    n_emb = max(int(50_000 * sf), 100)
    n_users = max(int(15_000 * sf), 20)

    _write(os.path.join(out_dir, "region.parquet"), {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(os.path.join(out_dir, "nation.parquet"), {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(os.path.join(out_dir, "customer.parquet"), {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(os.path.join(out_dir, "supplier.parquet"), {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    price = np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 1)
    _write(os.path.join(out_dir, "part.parquet"), {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price),
    })

    # orders: 1995-01-01 .. 2001-08-01; lineitem: 1..7 lines per order
    d0 = 9131  # 1995-01-01 in days since 1970
    odate = d0 + rng.integers(0, 2404, n_ord)
    _write(os.path.join(out_dir, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(os.path.join(out_dir, "lineitem.parquet"), {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[partkey] * rng.uniform(1.0, 2.2, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts_us(np.repeat(odate, lines) + rng.integers(1, 122, n_li)),
    })

    ev_us = np.sort(EPOCH_2024 * US + rng.integers(0, 30 * DAY * US, n_events))
    _write(os.path.join(out_dir, "events.parquet"), {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word substituted
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    _write(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    emb = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(os.path.join(out_dir, "embeddings.parquet"), {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


# --- lakehouse sources ------------------------------------------------------

@dataclass
class LakehouseInputs:
    source_dir: str
    late_csvs: list[str]
    source_bytes: int


def _metric_rows(rng: np.random.Generator, n: int, day_lo: int, day_hi: int,
                 machines: int, tag: str) -> list[list]:
    """Machine-metric rows with ``end_time`` on days [day_lo, day_hi) of the
    49-day horizon. ~2% have a NULL window end and ~3% a NULL GPU value."""
    end = EPOCH_2024 + rng.integers(day_lo * DAY, day_hi * DAY, n).astype(np.float64)
    gpu = np.round(rng.gamma(2.0, 60.0, n), 3)
    cpu = np.round(rng.uniform(0.0, 100.0, n), 3)
    null_end = rng.random(n) < 0.02
    null_gpu = rng.random(n) < 0.03
    mach = rng.integers(0, machines, n)
    workers = rng.integers(1, 9, n)
    rows = []
    for i in range(n):
        rows.append([
            f"{tag}w{i}", f"m{mach[i]:03d}", end[i] - 60.0,
            None if null_end[i] else end[i],
            None if null_gpu[i] else gpu[i], cpu[i],
            round(cpu[i] * 0.1, 3), round(cpu[i] * 0.2, 3), round(cpu[i] * 0.3, 3),
            round(gpu[i] / 100.0, 3), round(gpu[i] * 10.0, 3), int(workers[i]),
        ])
    return rows


def _write_csv(path: str, header: list[str], rows: list[list]) -> int:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        for r in rows:
            # repr of a Python float is the shortest round-trip form
            w.writerow(["" if v is None else (repr(float(v)) if isinstance(v, float) else v)
                        for v in r])
    return os.path.getsize(path)


METRIC_HEADER = [
    "worker_name", "machine", "start_time", "end_time", "machine_gpu", "machine_cpu",
    "machine_cpu_iowait", "machine_cpu_kernel", "machine_cpu_usr", "machine_load_1",
    "machine_net_receive", "machine_num_worker",
]
HORIZON_DAYS = 49


def write_lakehouse_sources(seed: int, out_dir: str, metric_rows: int, jobs: int,
                            late_batches: int, late_rows: int) -> LakehouseInputs:
    """The five reference CSVs over a 49-day horizon plus ``late_batches``
    late machine-metric CSVs. Even batches land on the last week (recent
    days), odd ones on the first three weeks (old days), so footer-stats
    pruning both hits and misses. Job intervals stay inside the horizon:
    a still-running job is capped at the last telemetry sample, and a
    longer span would day-explode ``gold_job_efficiency_daily``."""
    rng = np.random.default_rng([seed, 2])
    src = os.path.join(out_dir, "sources")
    os.makedirs(src, exist_ok=True)
    machines = 24
    size = _write_csv(os.path.join(src, "pai_machine_metric.csv"), METRIC_HEADER,
                      _metric_rows(rng, metric_rows, 0, HORIZON_DAYS, machines, ""))

    start = EPOCH_2024 + rng.integers(0, (HORIZON_DAYS - 4) * DAY, jobs).astype(np.float64)
    dur = np.round(rng.exponential(6 * 3600.0, jobs) + 60.0, 1)
    status = rng.choice(["Running", "Terminated", "Failed", "Waiting"], jobs, p=[0.1, 0.6, 0.2, 0.1])
    users = rng.integers(0, 97, jobs)
    job_rows = [
        [f"job_{i}", f"inst_{i}", f"u{users[i]}", status[i], start[i],
         None if status[i] == "Running" else start[i] + dur[i]]
        for i in range(jobs)
    ]
    size += _write_csv(os.path.join(src, "pai_job_table.csv"),
                       ["job_name", "inst_id", "user", "status", "start_time", "end_time"], job_rows)
    size += _write_csv(os.path.join(src, "pai_instance_table.csv"),
                       ["inst_id", "job_name", "status", "start_time", "end_time"],
                       [[r[1], r[0], r[3], r[4], r[5]] for r in job_rows])
    size += _write_csv(os.path.join(src, "pai_machine_spec.csv"),
                       ["machine", "cap_cpu", "cap_mem", "cap_gpu"],
                       [[f"m{m:03d}", 32 + m, 4 * (32 + m), m % 8] for m in range(machines)])
    spec_rows = []
    for p in range(40):
        sz = int(rng.integers(4, 49))
        spec_rows.append([
            f"{rng.choice(PART_ADJ)} GPU {p}", f"GA{100 + p}", f"Sep {1990 + sz % 30}",
            "PCIe 4.0 x16", f"{sz} GB, GDDR6X, {sz * 8} bit", f"{1000 + sz} MHz",
            f"{900 + sz} MHz", f"{sz * 64} / {sz * 4} / {sz}",
        ])
    size += _write_csv(os.path.join(src, "tpu_gpus.csv"),
                       ["Product_Name", "GPU_Chip", "Released", "Bus", "Memory",
                        "GPU_clock", "Memory_clock", "Shaders_TMUs_ROPs"], spec_rows)

    late_dir = os.path.join(out_dir, "late")
    os.makedirs(late_dir, exist_ok=True)
    late = []
    for b in range(late_batches):
        lo = HORIZON_DAYS - 7 if b % 2 == 0 else int(rng.integers(0, 19))
        hi = HORIZON_DAYS if b % 2 == 0 else lo + 2
        path = os.path.join(late_dir, f"late_{b:03d}.csv")
        _write_csv(path, METRIC_HEADER, _metric_rows(rng, late_rows, lo, hi, machines, f"l{b}_"))
        late.append(path)
    return LakehouseInputs(src, late, size)


# --- stream files -----------------------------------------------------------

STREAM_T0_US = EPOCH_2024 * US
FILE_SPAN_US = 600 * US  # each file covers ten minutes of event time


def stream_files(seed: int, n_files: int, rows: int) -> list[pa.Table]:
    """``n_files`` seeded event frames. File k covers event time
    [k*10min, (k+1)*10min); ~10% of its rows are late by up to 100 minutes
    (inside the 2-hour watermark) and ~1% by 3-4 hours (beyond it)."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for k in range(n_files):
        base = STREAM_T0_US + k * FILE_SPAN_US
        ts = base + rng.integers(0, FILE_SPAN_US, rows)
        r = rng.random(rows)
        ts = np.where(r < 0.10, ts - rng.integers(0, 100 * 60 * US, rows), ts)
        ts = np.where(r > 0.99, ts - rng.integers(180 * 60 * US, 240 * 60 * US, rows), ts)
        out.append(pa.table({
            "event_id": pa.array(np.arange(k * rows, (k + 1) * rows, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, 500, rows).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, rows)),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, rows), 2), 0.01)),
            "props": pa.array([f'{{"k": {x}}}' for x in rng.integers(0, 100, rows)]),
        }))
    return out
