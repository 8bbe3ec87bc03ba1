"""Self-test of the benchmark's input generator: the same seed gives
byte-identical inputs, another seed gives other inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import io
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for r, _, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _stream_digest(seed: int) -> list[str]:
    out = []
    for t in gen.stream_files(seed, 3, 200):
        buf = io.BytesIO()
        pq.write_table(t, buf)
        out.append(hashlib.sha256(buf.getvalue()).hexdigest())
    return out


def _write_all(seed: int, root: str) -> None:
    gen.write_star_schema(seed, os.path.join(root, "sf"), 0.001)
    gen.write_lakehouse_sources(seed, os.path.join(root, "lake"), 500, 50, 2, 50)


def test_same_seed_same_bytes(tmp_path):
    _write_all(7, str(tmp_path / "a"))
    _write_all(7, str(tmp_path / "b"))
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert len(a) == 10 + 5 + 2
    assert a == b
    assert _stream_digest(7) == _stream_digest(7)


def test_other_seed_other_bytes(tmp_path):
    _write_all(7, str(tmp_path / "a"))
    _write_all(8, str(tmp_path / "b"))
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    changed = [k for k in a if a[k] != b[k]]
    # region, nation and the machine spec table do not depend on the seed
    assert len(changed) == len(a) - 3
    assert _stream_digest(7) != _stream_digest(8)


def test_late_batches_touch_recent_and_old_days(tmp_path):
    import pyarrow.csv as pcsv

    inputs = gen.write_lakehouse_sources(3, str(tmp_path), 500, 50, 4, 100)
    last_day = gen.EPOCH_2024 + gen.HORIZON_DAYS * gen.DAY
    for i, path in enumerate(inputs.late_csvs):
        end = pcsv.read_csv(path).column("end_time").drop_null().to_numpy()
        if i % 2 == 0:
            assert end.min() >= last_day - 7 * gen.DAY
        else:
            assert end.max() < last_day - 28 * gen.DAY
