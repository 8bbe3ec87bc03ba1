"""Versioned lakehouse table format: a transaction log over parquet.

The Delta/Iceberg storage pattern scaled to its essentials — the piece that
turns "a directory of parquet" into a TABLE with ACID semantics:

- **Atomic commits.** Every mutation writes data files into the table
  directory under collision-proof unique names, then publishes ONE JSON log
  entry ``_txn_log/<version 20d>.json`` created with ``O_CREAT|O_EXCL``.
  Readers only believe the log, so a crashed writer leaves invisible orphan
  files, never a torn table (same contract as jsonl_sink's manifest, and as
  Delta's ``_delta_log``).
- **Optimistic concurrency.** Two writers racing for version N: exactly one
  EXCL-create wins; the loser re-reads the log and retries at N+1. On object
  stores this maps to put-if-absent; on HDFS/POSIX it is the create() above.
- **Snapshot isolation + time travel.** A snapshot is the fold of
  add/remove actions up to a version. ``read(spark, path, version=...)``
  reconstructs any historical snapshot; concurrent readers of version N are
  untouched by later commits (files are never mutated, only added/removed
  from the log).
- **Data skipping.** Each add action records per-file min/max stats from the
  parquet footer for requested columns; ``read`` with a ``between`` predicate
  prunes non-overlapping files BEFORE Spark ever lists them — the file-level
  analog of row-group pruning, and what makes sorted/z-ordered layouts pay
  off at 100 TB (planning cost is O(log), not O(data)).
- **Log-resolved schemas.** Each add action carries ``schema_id``, the
  content hash of the schema its file was written with; commits log the
  schema string and checkpoints carry the id -> schema map of their live
  files, so resolving a snapshot's schema costs the same checkpoint-plus-
  tail replay as its file list. When every scanned file shares one id,
  readers (``read``, ``read_incremental``, the pruned MERGE's base slice)
  pass that schema to Spark instead of inferring it, which saves the
  parquet footer-merge job (Delta readers likewise take the schema from
  the log). Files with different ids (an evolved table), or an id the map
  cannot resolve (a legacy log or checkpoint), fall back to a
  ``mergeSchema`` read.
- **Compaction.** ``compact`` rewrites small files into big ones in a new
  version with identical rows — time travel to pre-compaction versions still
  works because the old files stay on disk until a retention vacuum.
- **Log checkpointing.** Every ``CHECKPOINT_EVERY`` commits the folded file
  list is written to ``_txn_log/_checkpoint-<version>.json`` so readers replay
  O(CHECKPOINT_EVERY) tail entries, not the whole history — the log never
  becomes the bottleneck on long-lived tables.
- **DML + CDC.** ``merge_upsert`` (plain / footer-stat-pruned / retry-with-
  rebase), ``delete_where`` (rewrite) and ``delete_where_dv`` (deletion
  vector: logical delete, zero file churn), ``apply_changes`` (consume a
  keyed change feed), ``changes_between`` (produce one: Delta-CDF-style
  insert/delete/update images), ``scd2_history``, ``restore``.
- **Data skipping, three tiers.** Footer [min,max] range stats, per-file
  Bloom filters for equality probes on unsorted layouts (``read(eq=...)``),
  and ``optimize_zorder`` Morton re-clustering so multi-column probes prune.
- **Governance.** CHECK constraints (ANSI NULL-pass, whole-batch reject),
  multi-table ``savepoint``/``read_savepoint`` for transactionally
  consistent cross-table reads, GDPR erasure via delete + vacuum.

Single-JVM local testing exercises the full protocol; the commit path's only
primitive is atomic create-if-absent, which every production store provides.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

LOG_DIR = "_txn_log"
CHECKPOINT_EVERY = 10


class ConcurrentModificationError(RuntimeError):
    """Raised when a remove-bearing commit (overwrite/compact/merge) loses a
    race: its remove list was computed against a snapshot that is no longer
    the tip. Retrying blindly would republish stale removes (an overwrite
    racing an append would drop the append; two merges would double the
    base), so — like Delta's WriteSerializable conflict — the loser aborts
    and the caller re-runs against the new tip. Pure appends never conflict
    and retry transparently."""


def _log_dir(path: str) -> str:
    return os.path.join(path, LOG_DIR)


def _entry_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.json")


def _list_versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and not f.startswith("_")
    )


def _canon_stat(v):
    """Canonical JSON-safe, ORDER-PRESERVING form for a footer stat value.

    Temporal stats become ISO-8601 strings (space-separated, what
    ``str(datetime)`` yields) whose lexicographic order equals chronological
    order, so stored stats and normalized probe bounds compare correctly
    after a JSON round-trip. Numeric stats stay native."""
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


# Footer stats of a TimestampType column are UTC-aware ("... +00:00"), of a
# TimestampNTZ column naive: _canon_stat keeps pyarrow's form.
_AWARE_TS = re.compile(r"\d \d\d:\d\d:\d\d(\.\d+)?[+-]\d\d:\d\d$")
_NAIVE_TS = re.compile(r"\d \d\d:\d\d:\d\d(\.\d+)?$")


def _stat_form(stat_value) -> str:
    if isinstance(stat_value, str):
        if _AWARE_TS.search(stat_value):
            return "aware"
        if _NAIVE_TS.search(stat_value):
            return "naive"
    return "plain"


def _canon_probe(v, form: str):
    """A probe key or read bound in the canonical form of stats of ``form``
    (see ``_stat_form``), so that the two compare by value, not by string
    shape. A naive datetime means LOCAL wall-clock time — what ``collect()``
    yields for TimestampType and what PySpark makes of a naive literal — so
    against aware stats it converts to UTC. A temporal probe that has no
    exact place among the stats (a date against timestamp stats, any
    datetime against date stats, an aware datetime against NTZ stats) maps
    to None, which callers treat as "may overlap": the file is kept."""
    if isinstance(v, _dt.date) and hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()  # pandas.Timestamp: astimezone on naive raises
    if not isinstance(v, _dt.date):
        return _canon_stat(v)
    is_dt = isinstance(v, _dt.datetime)
    if form == "aware":
        return v.astimezone(_dt.timezone.utc).isoformat(sep=" ") if is_dt else None
    if form == "naive":
        return v.isoformat(sep=" ") if is_dt and v.tzinfo is None else None
    return None if is_dt else _canon_stat(v)


def _overlaps(stat: list, lo, hi) -> bool:
    """File [min,max] vs probe [lo,hi], with bounds normalized to the stored
    canonical form. Incomparable types keep the file — pruning is an
    optimization, never a correctness dependency."""
    form = _stat_form(stat[0])
    lo, hi = _canon_probe(lo, form), _canon_probe(hi, form)
    try:
        return not (stat[1] < lo or stat[0] > hi)
    except TypeError:
        return True


def _file_stats(md, stat_cols: list[str]) -> dict[str, list]:
    """Per-file [min, max] from a parquet footer's metadata (no data read)."""
    stats: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in stat_cols or col.statistics is None:
                continue
            s = col.statistics
            if not s.has_min_max:
                continue
            lo, hi = _canon_stat(s.min), _canon_stat(s.max)
            if name in stats:
                stats[name] = [min(stats[name][0], lo), max(stats[name][1], hi)]
            else:
                stats[name] = [lo, hi]
    return stats


_BLOOM_M = 8192  # bits per column bloom (1 KiB hex in the log entry)
_BLOOM_K = 5


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """k bit positions from the md5 of the CANONICALIZED value string — the
    same normalization the min/max stats use, so a probe bound and a stored
    value always hash identically. Numerics additionally canonicalize
    through float so an int probe against a double column (1 vs 1.0)
    hashes the same — str() would split them and turn a numerically-equal
    probe into a false 'definitely absent' (a wrong answer, not a missed
    prune). Collapsing >2^53 ints onto floats only merges hash inputs,
    which for a Bloom filter is a false positive: safe."""
    v = _canon_stat(value)
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        v = float(v)
    h = hashlib.md5(str(v).encode()).hexdigest()
    return [int(h[i * 6 : (i + 1) * 6], 16) % m for i in range(k)]


def _file_bloom(full_path: str, bloom_cols: list[str]) -> dict[str, dict]:
    """Per-file Bloom filter per column, built from one columnar read of the
    just-written file (page-cache warm at write time). Complements the
    footer [min,max]: min/max prunes RANGE probes on clustered layouts, a
    bloom prunes EQUALITY probes on high-cardinality columns even when the
    layout is unsorted and every file's range overlaps. Saturated filters
    (distinct count ~ m) are still stored — a full bloom answers 'maybe' for
    everything, so skipping degrades to a no-op, never to a wrong answer."""
    import pyarrow.parquet as pq

    blooms: dict[str, dict] = {}
    # intersect with the file's actual schema BEFORE reading — a schema-
    # evolved table may have files predating a bloom column, and read_table
    # raises on absent columns rather than skipping them
    present = [
        c for c in bloom_cols if c in pq.ParquetFile(full_path).schema_arrow.names
    ]
    if not present:
        return blooms
    table = pq.read_table(full_path, columns=present)
    for col in present:
        bits = bytearray(_BLOOM_M // 8)
        for v in table.column(col).to_pylist():
            if v is None:
                continue
            for p in _bloom_positions(v, _BLOOM_M, _BLOOM_K):
                bits[p // 8] |= 1 << (p % 8)
        blooms[col] = {"m": _BLOOM_M, "k": _BLOOM_K, "bits": bits.hex()}
    return blooms


def _bloom_might_contain(bloom: dict, value) -> bool:
    if isinstance(value, _dt.datetime):
        # stored timestamps hash in their footer form (UTC-aware for
        # TimestampType, naive for NTZ); a probe's form is not known here
        return True
    bits = bytes.fromhex(bloom["bits"])
    for p in _bloom_positions(value, bloom["m"], bloom["k"]):
        if not bits[p // 8] & (1 << (p % 8)):
            return False
    return True


def _data_path(path: str, a: dict) -> str:
    """Absolute path of an add-entry's data file. Entries normally live in
    the table directory; SHALLOW-CLONE entries carry an explicit ``dir``
    (the source table's directory) — zero-copy references, Delta CLONE
    style."""
    return os.path.join(a.get("dir", path), a["file"])


def _file_size(path: str, f: dict) -> int:
    """Live size of an add-entry: the logged 'bytes' field when present,
    else a guarded filesystem stat — a HISTORICAL version's files may have
    been vacuumed since (auditing must degrade to size 0, not
    FileNotFoundError; ADVICE r2), and a file can vanish between a snapshot
    read and the stat under a concurrent vacuum."""
    if f.get("bytes"):
        return f["bytes"]
    full = _data_path(path, f)
    return os.path.getsize(full) if os.path.exists(full) else 0


def _schema_id(schema_json: str) -> str:
    """Content id of a logged schema string: equal ids, equal schemas."""
    return hashlib.sha1(schema_json.encode()).hexdigest()[:16]


def _stage_files(
    df: DataFrame,
    path: str,
    stat_cols: list[str],
    bloom_cols: list[str] | None = None,
) -> list[dict]:
    """Write df's partitions as uniquely-named parquet files in the table dir
    (invisible until a log entry lists them); return add-actions with row
    count and stats, each tagged with the id of the schema it was written
    with. Files without rows (Spark writes one for an empty result, to
    carry the schema) are dropped: the commit logs the schema itself, so an
    empty write adds nothing and ``read`` of an empty snapshot still has
    the logged schema."""
    import pyarrow.parquet as pq

    schema_id = _schema_id(df.schema.json())
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    # INT96 (Spark's legacy default) carries no footer stats — force the
    # stats-capable MICROS encoding so temporal stat_cols actually skip,
    # even when the caller handed us a vanilla session.
    df.sparkSession.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    df.write.mode("overwrite").parquet(staging)
    os.makedirs(path, exist_ok=True)
    adds = []
    for f in sorted(os.listdir(staging)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(staging, f)).metadata
        if md.num_rows == 0:
            continue  # removed with the staging dir
        name = f"part-{uuid.uuid4().hex}.parquet"
        os.rename(os.path.join(staging, f), os.path.join(path, name))
        full = os.path.join(path, name)
        add = {
            "file": name,
            "bytes": os.path.getsize(full),
            "rows": md.num_rows,
            "stats": _file_stats(md, stat_cols),
            "schema_id": schema_id,
        }
        if bloom_cols:
            add["bloom"] = _file_bloom(full, bloom_cols)
        adds.append(add)
    shutil.rmtree(staging)
    return adds


def _read_entry(path: str, version: int) -> dict:
    with open(_entry_path(path, version)) as f:
        return json.load(f)


def _commit(
    path: str,
    actions: dict,
    max_retries: int = 20,
    read_version: int | None = None,
    conflict_on: tuple = (),
) -> int:
    """Optimistic-concurrency commit: EXCL-create the next version slot;
    on collision re-read the log and retry. Returns the committed version.

    ``read_version`` is the snapshot version the caller's action list was
    computed against (the tip at read time; None for blind appends). A
    remove-bearing commit whose read snapshot is no longer the tip raises
    ConcurrentModificationError instead of publishing stale removes —
    blind-retrying an overwrite/merge against a moved tip would silently
    drop or duplicate the interleaved writer's rows.

    ``conflict_on`` is Delta-style LOGICAL conflict detection for commits
    that depend on metadata rather than the file list (e.g. a rename
    validated against the schema at read time): when the tip has moved past
    ``read_version``, only interleaved entries carrying one of these action
    keys conflict (raise) — unrelated commits (appends) are not conflicts
    and the commit proceeds at the new slot."""
    os.makedirs(_log_dir(path), exist_ok=True)
    for _ in range(max_retries):
        versions = _list_versions(path)
        # A commit depends on its read snapshot when it removes files OR
        # carries a deletion vector: a DV built against v5 names v5's files
        # and unions v5's prior DV — publishing it over a moved tip silently
        # resurrects concurrent deletes or references rewritten files.
        if "remove" in actions or actions.get("dv") is not None:
            tip = versions[-1] if versions else None
            if tip != read_version:
                raise ConcurrentModificationError(
                    f"{actions.get('operation')} at {path}: snapshot read at "
                    f"version {read_version} but tip is now {tip}; re-read "
                    "the table and retry the operation"
                )
        if conflict_on:
            tip = versions[-1] if versions else None
            if tip != read_version:
                for v in versions:
                    if read_version is not None and v <= read_version:
                        continue
                    e = _read_entry(path, v)
                    hit = [k for k in conflict_on if k in e]
                    if hit:
                        raise ConcurrentModificationError(
                            f"{actions.get('operation')} at {path}: validated "
                            f"at version {read_version} but version {v} "
                            f"carries conflicting action(s) {hit}; re-read "
                            "and retry the operation"
                        )
        version = (versions[-1] + 1) if versions else 0
        entry = dict(
            actions,
            version=version,
            ts=_dt.datetime.now(_dt.timezone.utc).isoformat(),
        )
        try:
            fd = os.open(_entry_path(path, version), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # another writer won this version — retry against new tip
        with os.fdopen(fd, "w") as f:
            json.dump(entry, f, default=str)  # datetime/decimal stats -> ISO strings
        if version and version % CHECKPOINT_EVERY == 0:
            files, schemas = _snapshot(path, version)
            cp = os.path.join(_log_dir(path), f"_checkpoint-{version:020d}.json")
            cp_body = {
                "version": version,
                "files": files,
                # the schemas the live files were written with, so readers
                # resolve them from the checkpoint plus the tail only
                "schemas": {
                    i: schemas[i]
                    for i in {a.get("schema_id") for a in files}
                    if i in schemas
                },
                # fold DV state so snapshot_dv's backward walk stops
                # at the checkpoint instead of replaying to v0
                "dv": snapshot_dv(path, version),
                # fold the column-mapping so readers replay the tail
                # only (same O(CHECKPOINT_EVERY) bound as files)
                "renames": snapshot_renames(path, version),
            }
            # Fold the MONOTONIZED commit timestamp (version_at semantics)
            # so TIMESTAMP AS OF replays only the tail past the newest
            # eligible checkpoint instead of O(total versions) entry reads.
            eff = _effective_ts_at(path, version)
            if eff is not None:
                cp_body["eff_ts"] = eff.isoformat()
            with open(cp + ".tmp", "w") as f:
                json.dump(cp_body, f, default=str)
            os.replace(cp + ".tmp", cp)  # atomic publish
        return version
    raise RuntimeError(f"commit contention exceeded {max_retries} retries at {path}")


def snapshot_files(path: str, version: int | None = None) -> list[dict]:
    """Fold the log into the live file list at ``version`` (default: latest).
    Replays from the newest checkpoint at or below ``version``, then the tail."""
    return _snapshot(path, version)[0]


def _snapshot(path: str, version: int | None = None) -> tuple[list[dict], dict[str, str]]:
    """``snapshot_files`` plus the schema-id -> schema map of the same replay:
    the checkpoint's map and every schema the tail logs. An id missing from
    the map (legacy checkpoint, commit logging no schema) makes ``_scan``
    fall back to a footer merge."""
    versions = _list_versions(path)
    if not versions:
        return [], {}
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"unknown version {version}; have {versions[0]}..{versions[-1]}")
    d = _log_dir(path)
    cp_versions = sorted(
        int(f[len("_checkpoint-"):-5])
        for f in os.listdir(d)
        if f.startswith("_checkpoint-") and f.endswith(".json")
    )
    live: dict[str, dict] = {}
    schemas: dict[str, str] = {}
    start = 0
    usable = [v for v in cp_versions if v <= version]
    if usable:
        with open(os.path.join(d, f"_checkpoint-{usable[-1]:020d}.json")) as f:
            body = json.load(f)
        live = {a["file"]: a for a in body["files"]}
        schemas = body.get("schemas", {})
        start = usable[-1] + 1
    for v in versions:
        if v < start or v > version:
            continue
        e = _read_entry(path, v)
        for rm in e.get("remove", []):
            live.pop(rm, None)
        for add in e.get("add", []):
            live[add["file"]] = add
        if e.get("schema"):
            schemas[_schema_id(e["schema"])] = e["schema"]
    return list(live.values()), schemas


def _scan(spark: SparkSession, path: str, files: list[dict], schemas: dict[str, str]) -> DataFrame:
    """Read data files with the schema the log recorded for them when they
    were all written with one schema: no footer-merge job, and the same
    schema a merged read infers (file sources make every field nullable).
    Files written with different schemas, or with no resolvable id, are
    read with ``mergeSchema`` as before."""
    ids = {a.get("schema_id") for a in files}
    logged = schemas.get(ids.pop()) if len(ids) == 1 else None
    if logged:
        reader = spark.read.schema(StructType.fromJson(json.loads(logged)))
    else:
        reader = spark.read.option("mergeSchema", "true")
    return reader.parquet(*[_data_path(path, a) for a in files])


def snapshot_dv(path: str, version: int | None = None) -> str | None:
    """The deletion-vector sidecar in force at ``version`` (None when no
    logical deletes are pending). Walks raw log entries backward — the
    newest entry carrying an explicit ``dv`` key wins; entries without the
    key inherit (appends don't disturb DVs, rewrites clear them)."""
    versions = _list_versions(path)
    if not versions:
        return None
    if version is None:
        version = versions[-1]
    d = _log_dir(path)
    cp_versions = sorted(
        int(f[len("_checkpoint-"):-5])
        for f in os.listdir(d)
        if f.startswith("_checkpoint-") and f.endswith(".json")
    )
    usable = [v for v in cp_versions if v <= version]
    floor = usable[-1] if usable else None
    for v in reversed([x for x in versions if x <= version]):
        if floor is not None and v < floor:
            break
        e = _read_entry(path, v)
        if "dv" in e:
            return e["dv"]
    if floor is not None:
        with open(os.path.join(d, f"_checkpoint-{floor:020d}.json")) as f:
            return json.load(f).get("dv")
    return None


def snapshot_renames(path: str, version: int | None = None) -> list[list[str]]:
    """The cumulative column-mapping at ``version``: ordered [old, new]
    pairs folded from rename_column entries (checkpoint-accelerated like
    snapshot_files — readers replay only the tail)."""
    versions = _list_versions(path)
    if not versions:
        return []
    if version is None:
        version = versions[-1]
    d = _log_dir(path)
    cp_versions = sorted(
        int(f[len("_checkpoint-"):-5])
        for f in os.listdir(d)
        if f.startswith("_checkpoint-") and f.endswith(".json")
    )
    out: list[list[str]] = []
    start = 0
    usable = [v for v in cp_versions if v <= version]
    if usable:
        with open(os.path.join(d, f"_checkpoint-{usable[-1]:020d}.json")) as f:
            out = [list(p) for p in json.load(f).get("renames", [])]
        start = usable[-1] + 1
    for v in versions:
        if v < start or v > version:
            continue
        e = _read_entry(path, v)
        if "renames_set" in e:
            # full-rewrite operations (compact/overwrite/zorder/full merge)
            # materialize the mapping into the data and reset it; restore
            # pins the mapping of the restored version
            out = [list(p) for p in e["renames_set"]]
        for old, new in e.get("renames", {}).items():
            out.append([old, new])
    return out


def _apply_renames(df: DataFrame, renames: list[list[str]]) -> DataFrame:
    """Replay the column-mapping onto a loaded frame. Files written before a
    rename still carry the old physical name; after mergeSchema both names
    can coexist (each NULL where the other file population contributed), so
    the both-present case COALESCES old into new — this also absorbs a
    writer that raced a rename with old-named files."""
    for old, new in renames:
        if old in df.columns and new in df.columns:
            df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
        elif old in df.columns:
            df = df.withColumnRenamed(old, new)
    return df


def rename_column(path: str, old: str, new: str) -> int:
    """METADATA-ONLY column rename (the Delta column-mapping / Iceberg
    schema-evolution semantic): zero data files rewritten; readers apply the
    mapping at scan time, so a rename on a 100 TB table costs one log entry.

    Time travel is name-faithful: snapshots before the rename read under the
    old name, snapshots at/after it under the new. Footer-stat and Bloom
    skipping keyed under the old physical name degrade gracefully on
    pre-rename files (missing stats keep the file — pruning is an
    optimization, never correctness); post-rename files record stats under
    the new name and prune as usual. CHECK constraints referencing the old
    name are the caller's to update (as in Delta).

    Concurrency: the rename is validated against the logical schema at the
    read tip, and the commit carries LOGICAL conflict detection (Delta's
    metadata-update rule): an interleaved commit that also touches the
    column mapping (another rename, or a rewriting op that resets it —
    overwrite/compact/zorder/full merge) raises
    ConcurrentModificationError instead of publishing a rename validated
    against a stale mapping; interleaved appends/deletes don't conflict.
    Callers retry by re-invoking (re-validation is cheap and correct)."""
    versions = _list_versions(path)
    assert versions, f"rename_column on a table with no commits: {path}"
    read_tip = versions[-1]
    schema = None
    for v in reversed(versions):
        schema = _read_entry(path, v).get("schema")
        if schema:
            break
    assert schema, f"no schema recorded at {path}"
    sj = json.loads(schema)
    names = {f["name"] for f in sj["fields"]}
    # apply pending renames so chained renames validate against the CURRENT
    # logical schema, not the physical one the last writer recorded
    for o, n in snapshot_renames(path):
        if o in names:
            names.discard(o)
            names.add(n)
    if old not in names:
        raise ValueError(f"rename_column: no column {old!r} (have {sorted(names)})")
    if new in names:
        raise ValueError(f"rename_column: column {new!r} already exists")
    for f in sj["fields"]:
        if f["name"] == old:
            f["name"] = new
    return _commit(
        path,
        {
            "operation": "rename_column",
            "renames": {old: new},
            "schema": json.dumps(sj),
        },
        read_version=read_tip,
        conflict_on=("renames", "renames_set"),
    )


def delete_where_dv(spark: SparkSession, path: str, predicate) -> int | None:
    """DELETE by DELETION VECTOR: mark matching rows deleted WITHOUT
    rewriting any data file (the Iceberg v2 position-delete / Delta DV
    semantic). Matching (file, row_index) positions — via the parquet
    scanner's ``_metadata`` columns — land in a sidecar parquet the readers
    anti-join; the commit is metadata + one DV-sized write, so a 10-row
    GDPR delete on a 100 TB table costs seconds, not a table rewrite.
    Any rewriting operation (compact / optimize / merge / overwrite)
    materializes pending deletes and clears the DV. The read-side anti-join
    prices each scan by |DV| — run compact when the DV grows large.
    A snapshot without data files has no row to mark: nothing is
    committed and the call returns None."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    rv = current_version(path)
    files = snapshot_files(path, rv)
    if not files:
        return None
    base = spark.read.option("mergeSchema", "true").parquet(
        *[_data_path(path, a) for a in files]
    )
    # predicates are written against LOGICAL (post-rename) column names
    base = _apply_renames(base, snapshot_renames(path, rv))
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    new_dv = base.filter(pred).select(
        fname.alias("file"), F.col("_metadata.row_index").alias("pos")
    )
    prev = snapshot_dv(path, rv)
    if prev:
        new_dv = new_dv.unionByName(
            spark.read.parquet(os.path.join(path, prev))
        ).distinct()
    name = f"dv-{uuid.uuid4().hex}"
    # no coalesce(1): the DV is already file-scoped and a broad-predicate
    # delete on a 100 TB table produces a large DV — serializing its write
    # through one task gains nothing (readers list the directory). The row
    # count rides on the write via observe() (the ingest.py:44 idiom)
    # instead of a second read-back job.
    from pyspark.sql import Observation

    obs = Observation()
    new_dv.observe(obs, F.count(F.lit(1)).alias("rows")).write.parquet(
        os.path.join(path, name)
    )
    n = int(obs.get["rows"])
    return _commit(
        path,
        {"operation": "delete_dv", "dv": name, "dv_rows": n},
        read_version=rv,
    )


def _apply_dv(spark: SparkSession, df: DataFrame, path: str, dv: str) -> DataFrame:
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    tagged = df.select(
        "*", fname.alias("__dvf"), F.col("_metadata.row_index").alias("__dvp")
    )
    dvdf = spark.read.parquet(os.path.join(path, dv)).select(
        F.col("file").alias("__dvf"), F.col("pos").alias("__dvp")
    )
    return tagged.join(F.broadcast(dvdf), ["__dvf", "__dvp"], "left_anti").drop(
        "__dvf", "__dvp"
    )


def create_table(
    df: DataFrame,
    path: str,
    stat_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Version 0: initial data + schema. ``bloom_cols`` additionally records
    a per-file Bloom filter for equality-probe skipping (see read(eq=...))."""
    adds = _stage_files(df, path, stat_cols or [], bloom_cols)
    return _commit(
        path, {"operation": "create", "add": adds, "schema": df.schema.json()}
    )


class SchemaMismatch(ValueError):
    """An append's columns diverge from an enforcement-enabled table."""


def set_schema_enforcement(path: str, enabled: bool = True) -> None:
    """Delta-style SCHEMA ENFORCEMENT as a table property: when enabled,
    ``append``/``branch_append`` reject batches whose column names differ
    from the table's current LOGICAL schema (post-rename) — silent drift
    (typo'd producers, upstream schema changes) fails loudly at the write
    instead of surfacing as NULL-padded mergeSchema reads. Widening is the
    explicit act of disabling enforcement for the evolving write (the
    mergeSchema-option analog)."""
    os.makedirs(_log_dir(path), exist_ok=True)
    marker = os.path.join(_log_dir(path), "_enforce_schema")
    if enabled:
        with open(marker, "w") as f:
            f.write("1")
    elif os.path.exists(marker):
        os.remove(marker)


def _check_schema_enforcement(df: DataFrame, path: str) -> None:
    if not os.path.exists(os.path.join(_log_dir(path), "_enforce_schema")):
        return
    schema = None
    for v in reversed(_list_versions(path)):
        schema = _read_entry(path, v).get("schema")
        if schema:
            break
    if not schema:
        return
    names = {f["name"] for f in json.loads(schema)["fields"]}
    for o, n in snapshot_renames(path):
        if o in names:
            names.discard(o)
            names.add(n)
    got = set(df.columns)
    if got != names:
        raise SchemaMismatch(
            f"append to {path}: columns {sorted(got)} != table schema "
            f"{sorted(names)} (schema enforcement is enabled; "
            "set_schema_enforcement(path, False) to evolve)"
        )


def append(
    df: DataFrame,
    path: str,
    stat_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    batch_id: int | None = None,
) -> int:
    """``batch_id`` gives exactly-once replay like merge_upsert's ledger: an
    already-committed id returns the tip without staging anything (the
    foreachBatch restart window between append and checkpoint commit)."""
    if batch_id is not None and batch_id in committed_batch_ids(path):
        return current_version(path)
    _check_schema_enforcement(df, path)
    adds = _stage_files(df, path, stat_cols or [], bloom_cols)
    actions = {"operation": "append", "add": adds, "schema": df.schema.json()}
    if batch_id is not None:
        actions["batch_id"] = batch_id
    return _commit(path, actions)


def overwrite(df: DataFrame, path: str, stat_cols: list[str] | None = None) -> int:
    rv = current_version(path)
    removes = [a["file"] for a in snapshot_files(path, rv)] if rv is not None else []
    adds = _stage_files(df, path, stat_cols or [])
    return _commit(
        path,
        {"operation": "overwrite", "add": adds, "remove": removes,
         "schema": df.schema.json(), "dv": None, "renames_set": []},
        read_version=rv,
    )


def compact(spark: SparkSession, path: str, stat_cols: list[str] | None = None) -> int:
    """Rewrite the current snapshot as one file per ~128MB (here: coalesced),
    committing adds+removes in a single atomic version — readers of older
    versions are unaffected."""
    rv = current_version(path)
    current = snapshot_files(path, rv)
    df = read(spark, path, version=rv)
    adds = _stage_files(df.coalesce(max(1, len(current) // 8)), path, stat_cols or [])
    return _commit(
        path,
        {"operation": "compact", "add": adds, "schema": df.schema.json(),
         "remove": [a["file"] for a in current], "dv": None, "renames_set": []},
        read_version=rv,
    )


def _parse_commit_ts(e_ts):
    if e_ts is None:
        return None
    committed = _dt.datetime.fromisoformat(e_ts)
    if committed.tzinfo is None:
        committed = committed.replace(tzinfo=_dt.timezone.utc)
    return committed


def _step_effective(prev_eff, committed):
    """One step of Delta-style timestamp monotonization:
    effective(v) = max(ts(v), effective(v-1) + 1µs); legacy no-ts entries
    are arbitrarily old unless following ts'd commits (then pinned just
    after their predecessor). Effective ts is therefore STRICTLY increasing
    with version once it becomes non-None."""
    tick = _dt.timedelta(microseconds=1)
    if committed is None:
        return prev_eff + tick if prev_eff is not None else None
    if prev_eff is not None and committed <= prev_eff:
        return prev_eff + tick
    return committed


def _eff_checkpoints_desc(path: str, max_version: int | None = None):
    """Yield (version, folded effective ts) for eff_ts-bearing checkpoints,
    NEWEST FIRST, parsing bodies lazily. eff_ts is strictly increasing in
    version, so both callers stop at the first usable hit — the steady-state
    cost is ONE checkpoint-body parse, not O(total checkpoints) (checkpoint
    bodies carry the full folded file list and grow with the table).
    ``max_version`` filters on the version ENCODED IN THE FILENAME before
    any body is opened, so a deep-past version lookup also parses exactly
    one body; only a deep-past TIMESTAMP lookup (version_at, which must
    compare eff_ts itself) walks newer bodies. Pre-eff_ts (legacy)
    checkpoints are skipped (readers fall back to a longer entry replay)."""
    d = _log_dir(path)
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return
    cps = sorted(
        (f for f in names if f.startswith("_checkpoint-") and f.endswith(".json")),
        reverse=True,
    )
    for f in cps:
        if max_version is not None and int(f[len("_checkpoint-"):-5]) > max_version:
            continue
        with open(os.path.join(d, f)) as fh:
            body = json.load(fh)
        eff = _parse_commit_ts(body.get("eff_ts"))
        if eff is not None:
            yield (body["version"], eff)


def _effective_ts_at(path: str, version: int):
    """Monotonized effective commit timestamp of ``version``. Replays from
    the newest eff_ts-bearing checkpoint at or below ``version`` (the one
    written CHECKPOINT_EVERY commits ago in steady state), so the checkpoint
    fold in _commit is O(CHECKPOINT_EVERY) entry reads + one checkpoint
    parse, not O(version)."""
    prev_eff = None
    start = 0
    usable = next(_eff_checkpoints_desc(path, max_version=version), None)
    if usable:
        cp_v, prev_eff = usable
        if cp_v == version:
            return prev_eff
        start = cp_v + 1
    eff = prev_eff
    for v in _list_versions(path):
        if v < start or v > version:
            continue
        eff = _step_effective(eff, _parse_commit_ts(_read_entry(path, v).get("ts")))
    return eff


def version_at(path: str, ts) -> int:
    """TIMESTAMP AS OF resolution (Delta/Iceberg semantic): the latest
    version whose commit timestamp is <= ``ts`` (datetime or ISO string,
    naive values treated as UTC). Commits predating the ts field count as
    arbitrarily old. Raises ValueError when ``ts`` precedes every commit.

    Commit timestamps come from each WRITER's wall clock, so clock skew
    between concurrent writers (or a legacy no-ts entry after ts'd ones) can
    place an earlier wall-time on a later version. Like Delta, the effective
    timestamp is MONOTONIZED at read time — ``effective(v) = max(ts(v),
    effective(v-1) + 1µs)`` — so version order always wins: a skewed clock
    can never resolve a query to a stale version, and querying exactly at a
    commit's own recorded ts still yields that commit (strict +1µs bump,
    Delta's rule).

    Cost: checkpoints fold the effective ts (``eff_ts``), and effective ts
    is strictly increasing with version, so the scan starts at the newest
    checkpoint whose eff_ts <= target (every earlier version is <= target
    by monotonicity) and EARLY-BREAKS once effective ts exceeds the target
    — O(CHECKPOINT_EVERY) entry reads per lookup in steady state. Raw
    commit ts would not admit the early break (skew can place small ts
    late); the monotonized sequence does."""
    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    best = None
    prev_eff = None
    start = 0
    # newest checkpoint already at-or-before the target: its version is a
    # floor for the answer, its eff_ts seeds the monotonization. eff_ts is
    # strictly increasing in version, so the first hit of the newest-first
    # scan IS the newest such checkpoint — one body parse in steady state.
    usable = next(
        ((v, e) for v, e in _eff_checkpoints_desc(path) if e <= ts), None
    )
    if usable:
        best, prev_eff = usable
        start = best + 1
    for v in _list_versions(path):
        if v < start:
            continue
        effective = _step_effective(
            prev_eff, _parse_commit_ts(_read_entry(path, v).get("ts"))
        )
        if effective is None or effective <= ts:
            best = v
        else:
            break  # strictly increasing past the target: no later v can win
        prev_eff = effective if effective is not None else prev_eff
    if best is None:
        raise ValueError(f"no snapshot of {path} exists at or before {ts}")
    return best


def read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    between: tuple[str, object, object] | None = None,
    eq: tuple[str, object] | None = None,
    as_of: object | None = None,
) -> DataFrame:
    """Read a snapshot. ``between=(col, lo, hi)`` additionally prunes files
    whose footer [min,max] cannot overlap — log-level data skipping; the
    remaining files still get row-group pruning + predicate pushdown from
    Spark itself (the filter is re-applied, so pruning is an optimization,
    never a correctness dependency). ``eq=(col, value)`` is the POINT-LOOKUP
    form: files whose logged Bloom filter answers 'definitely absent' are
    skipped — this prunes high-cardinality equality probes on UNSORTED
    layouts where every file's [min,max] overlaps and range skipping is
    useless. min/max (when logged) and the re-applied filter still back it
    up, so a missing or saturated bloom only costs performance.
    ``as_of`` (datetime or ISO string) is TIMESTAMP AS OF time travel —
    mutually exclusive with ``version``."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        version = version_at(path, as_of)
    files, schemas = _snapshot(path, version)
    if between is not None:
        col, lo, hi = between
        files = [
            a
            for a in files
            if a.get("stats", {}).get(col) is None
            or _overlaps(a["stats"][col], lo, hi)
        ]
    if eq is not None:
        col, val = eq
        files = [
            a
            for a in files
            if (
                a.get("stats", {}).get(col) is None
                or _overlaps(a["stats"][col], val, val)
            )
            and (
                a.get("bloom", {}).get(col) is None
                or _bloom_might_contain(a["bloom"][col], val)
            )
        ]
    if not files:
        schema = None
        versions = _list_versions(path)
        for v in reversed(versions if version is None else [x for x in versions if x <= version]):
            schema = _read_entry(path, v).get("schema")
            if schema:
                break
        empty = spark.createDataFrame([], StructType.fromJson(json.loads(schema)))
        return _apply_renames(empty, snapshot_renames(path, version))
    df = _scan(spark, path, files, schemas)
    dv = snapshot_dv(path, version)
    if dv:
        df = _apply_dv(spark, df, path, dv)
    # column-mapping replay happens BEFORE predicates so between/eq refer to
    # the logical (post-rename) column names
    df = _apply_renames(df, snapshot_renames(path, version))
    if between is not None:
        col, lo, hi = between
        df = df.filter(F.col(col).between(_bound(df, col, lo), _bound(df, col, hi)))
    if eq is not None:
        col, val = eq
        df = df.filter(F.col(col) == _bound(df, col, val))
    return df


def _bound(df: DataFrame, col: str, v):
    """A read bound as a literal comparable with ``col``. A naive datetime
    against a TimestampNTZ column is wall-clock time in no zone, so it
    becomes a TIMESTAMP_NTZ literal: ``F.lit`` would make it a TIMESTAMP in
    the driver's zone, which Spark casts back to NTZ in the session zone —
    off by the difference, so a non-UTC driver lost the boundary rows."""
    if isinstance(v, _dt.datetime) and v.tzinfo is None and any(
        f.name == col and isinstance(f.dataType, TimestampNTZType) for f in df.schema.fields
    ):
        return F.lit(v.isoformat(sep=" ")).cast(TimestampNTZType())
    return F.lit(v)


def pruned_file_count(path: str, col: str, lo, hi, version: int | None = None) -> tuple[int, int]:
    """(files read with skipping, total files in snapshot) — observability for
    layout quality (sorted/z-ordered tables should prune hard)."""
    files = snapshot_files(path, version)
    kept = [
        a for a in files
        if a.get("stats", {}).get(col) is None or _overlaps(a["stats"][col], lo, hi)
    ]
    return len(kept), len(files)


class ConstraintViolation(ValueError):
    """A write violated a table CHECK constraint."""


def set_constraints(path: str, checks: dict[str, str]) -> None:
    """Attach named CHECK constraints (SQL boolean expressions over the
    table's columns) to the table. Enforced by ``validate_constraints`` —
    call it in write paths (create/append/merge wrappers) before commit, the
    Delta `ALTER TABLE ADD CONSTRAINT CHECK` semantic."""
    os.makedirs(_log_dir(path), exist_ok=True)
    with open(os.path.join(_log_dir(path), "_constraints.json"), "w") as f:
        json.dump(checks, f, indent=1, sort_keys=True)


def get_constraints(path: str) -> dict[str, str]:
    p = os.path.join(_log_dir(path), "_constraints.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _violation_counts(df: DataFrame, checks: dict[str, str]) -> dict[str, int]:
    """Per-constraint violation counts in ONE aggregate pass (not one scan
    per constraint). SQL-standard CHECK: a row violates only when the
    expression is definitively FALSE (NULL passes, as in Delta/ANSI)."""
    if not checks:
        return {}
    aggs = [
        F.sum(F.when(F.expr(expr) == False, 1).otherwise(0)).alias(name)  # noqa: E712
        for name, expr in checks.items()
    ]
    row = df.agg(*aggs).first()
    return {name: row[name] for name in checks if (row[name] or 0) > 0}


def validate_constraints(df: DataFrame, path: str) -> None:
    """Raise ConstraintViolation if any registered CHECK fails on ``df``."""
    bad = _violation_counts(df, get_constraints(path))
    if bad:
        raise ConstraintViolation(f"CHECK constraint(s) violated: {bad}")


def append_checked(
    df: DataFrame, path: str, stat_cols: list[str] | None = None
) -> int:
    """append() with CHECK enforcement — violating batches are rejected
    whole (no partial data lands; the constraint scan happens before any
    file is staged)."""
    validate_constraints(df, path)
    return append(df, path, stat_cols)


def savepoint(paths: list[str], out_file: str) -> dict[str, int]:
    """Record a CONSISTENT multi-table snapshot: the current version of each
    table, written atomically to ``out_file``. Single-table readers get
    snapshot isolation from the log already; a report that joins N tables
    needs all N pinned at once — the cross-table consistency single-table
    formats (Delta/Iceberg) leave to the engine above."""
    versions = {p: current_version(p) for p in paths}
    tmp = out_file + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(versions, f, indent=1, sort_keys=True)
    os.replace(tmp, out_file)
    return versions


def read_savepoint(spark: SparkSession, out_file: str) -> dict[str, DataFrame]:
    """Read every table AT ITS SAVEPOINTED VERSION — writers that advanced
    any table since are invisible, so a multi-table join over the returned
    frames is transactionally consistent."""
    with open(out_file) as f:
        versions = json.load(f)
    return {p: read(spark, p, version=v) for p, v in versions.items()}


def delete_where(
    spark: SparkSession,
    path: str,
    predicate,
    stat_cols: list[str] | None = None,
) -> int:
    """DELETE FROM table WHERE predicate, committed atomically (the DML that
    retention/TTL and GDPR-erasure jobs run). ``predicate`` is a Column or a
    SQL string. Full-snapshot rewrite like merge_upsert — correct at any
    scale, proportional cost; the footer-stats file-pruning refinement
    (merge_upsert_pruned) applies identically when the predicate is a
    range/key test."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    rv = current_version(path)
    current = snapshot_files(path, rv)
    keep = read(spark, path, version=rv).filter(~pred)
    return _commit(
        path,
        {
            "operation": "delete",
            "add": _stage_files(keep, path, stat_cols or []),
            "remove": [a["file"] for a in current],
            "schema": keep.schema.json(),
            "dv": None,
            "renames_set": [],
        },
        read_version=rv,
    )


def optimize_zorder(
    spark: SparkSession,
    path: str,
    cols: list[str],
    n_files: int = 8,
    stat_cols: list[str] | None = None,
) -> int:
    """OPTIMIZE ... ZORDER BY analog: rewrite the current snapshot clustered
    on the Morton code of ``cols`` so each file covers a compact region of
    EVERY listed column — after which the footer-stats skipping (and the
    eq/bloom path) prunes multi-column probes that an unsorted or singly-
    sorted layout cannot. Normalization ranges come from one tiny min/max
    aggregate over the table (exactness irrelevant — only monotonicity);
    stats default to the z-order columns. One atomic commit; old snapshots
    stay time-travelable until vacuum."""
    from .operators.layout import cluster_zorder

    rv = current_version(path)
    current = snapshot_files(path, rv)
    df = read(spark, path, version=rv)
    bounds = df.agg(
        *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(cols)],
    ).first()
    ranges = [
        (float(bounds[f"lo_{i}"]), float(bounds[f"hi_{i}"]))
        for i in range(len(cols))
    ]
    clustered = cluster_zorder(df, cols, ranges, n_files)
    return _commit(
        path,
        {
            "operation": "optimize",
            "add": _stage_files(clustered, path, stat_cols or cols),
            "remove": [a["file"] for a in current],
            "schema": df.schema.json(),
            "dv": None,
            "renames_set": [],
        },
        read_version=rv,
    )


def apply_changes(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    key_cols: list[str],
    stat_cols: list[str] | None = None,
    batch_id: int | None = None,
) -> int | None:
    """Apply a keyed change feed (the ``changes_between`` output shape:
    ``_change_type`` in insert/delete/update_preimage/update_postimage) to a
    table as ONE atomic commit — the consumer half of the CDC loop, the
    APPLY CHANGES INTO semantic. Deletes and update keys are removed, then
    inserts and update postimages land; preimages are ignored (they exist
    for reversal/audit). ``batch_id`` gives exactly-once replay like
    merge_upsert. Cost: one snapshot rewrite (same contract as merge_upsert;
    the stat-pruned refinement applies identically)."""
    if batch_id is not None and batch_id in committed_batch_ids(path):
        return None
    rv = current_version(path)
    current = snapshot_files(path, rv)
    base = read(spark, path, version=rv)
    gone = (
        changes.filter(
            F.col("_change_type").isin("delete", "update_preimage", "update_postimage")
        )
        .select(*key_cols)
        .distinct()
    )
    incoming = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type")
    merged = base.join(gone, key_cols, "left_anti").unionByName(
        incoming, allowMissingColumns=True
    )
    actions = {
        "operation": "apply_changes",
        "add": _stage_files(merged, path, stat_cols or []),
        "remove": [a["file"] for a in current],
        "schema": merged.schema.json(),
        "dv": None,
        "renames_set": [],
    }
    if batch_id is not None:
        actions["batch_id"] = batch_id
    return _commit(path, actions, read_version=rv)


def export_manifest(path: str, out_file: str, version: int | None = None) -> int:
    """Export a snapshot as a plain newline-separated list of absolute data
    file paths — the symlink-manifest interop pattern (Hive/Trino
    SymlinkTextInputFormat, Delta's manifest generation): ANY parquet reader
    can consume the exact snapshot without understanding the log. Refuses
    when a deletion vector is pending (plain readers cannot apply it —
    compact first to materialize). Returns the number of files listed."""
    if snapshot_dv(path, version) is not None:
        raise ValueError(
            "snapshot has a pending deletion vector; compact() to materialize "
            "before exporting a plain-reader manifest"
        )
    if snapshot_renames(path, version):
        # physical column names in pre-rename files differ from the logical
        # schema; a plain reader has no column mapping to reconcile them
        raise ValueError(
            "snapshot has pending column renames; compact() to materialize "
            "the mapping before exporting a plain-reader manifest"
        )
    files = sorted(
        os.path.abspath(_data_path(path, a))
        for a in snapshot_files(path, version)
    )
    tmp = out_file + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write("\n".join(files) + ("\n" if files else ""))
    os.replace(tmp, out_file)
    return len(files)


def pruned_file_count_eq(
    path: str, col: str, value, version: int | None = None
) -> tuple[int, int]:
    """(files read for an equality probe with stat+bloom skipping, total
    files) — the point-lookup twin of pruned_file_count."""
    files = snapshot_files(path, version)
    kept = [
        a
        for a in files
        if (
            a.get("stats", {}).get(col) is None
            or _overlaps(a["stats"][col], value, value)
        )
        and (
            a.get("bloom", {}).get(col) is None
            or _bloom_might_contain(a["bloom"][col], value)
        )
    ]
    return len(kept), len(files)


def history(path: str) -> list[dict]:
    """Commit history, oldest first: version, operation, files added/removed."""
    out = []
    for v in _list_versions(path):
        e = _read_entry(path, v)
        out.append(
            {
                "version": v,
                "operation": e.get("operation"),
                "ts": e.get("ts"),
                "n_added": len(e.get("add", [])),
                "n_removed": len(e.get("remove", [])),
            }
        )
    return out


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    stat_cols: list[str] | None = None,
    batch_id: int | None = None,
) -> int | None:
    """MERGE INTO: rows matching on ``key_cols`` are replaced by the update,
    unmatched update rows are inserted — committed as ONE atomic version
    (remove old files + add rewritten ones), so readers see either the whole
    merge or none of it. ``batch_id`` makes streaming CDC apply idempotent
    (a replayed epoch is a no-op), turning an at-least-once upstream into an
    exactly-once table.

    This implementation rewrites the full snapshot (correct at any scale,
    proportional cost). The production refinement — rewriting only files
    whose key ranges overlap the updates, found via the log's footer stats —
    drops cost to O(touched files) and needs no format change; see
    operators/scale.py::upsert_by_key for the partition-pruned variant over
    plain layouts."""
    if batch_id is not None and batch_id in committed_batch_ids(path):
        return None
    rv = current_version(path)
    current = snapshot_files(path, rv)
    base = read(spark, path, version=rv)
    merged = base.join(updates.select(*key_cols), key_cols, "left_anti").unionByName(
        updates, allowMissingColumns=True
    )
    adds = _stage_files(merged, path, stat_cols or [])
    actions = {
        "operation": "merge",
        "add": adds,
        "remove": [a["file"] for a in current],
        "schema": merged.schema.json(),
        "dv": None,
        "renames_set": [],
    }
    if batch_id is not None:
        actions["batch_id"] = batch_id
    return _commit(path, actions, read_version=rv)


# Key types whose collected Python values round-trip exactly into literals
# (timestamps once made UTC-aware). The filter form costs one py4j literal
# per key, so large key sets keep the anti-join.
_ISIN_TYPES = (
    BooleanType, ByteType, ShortType, IntegerType, LongType, DecimalType,
    StringType, DateType, TimestampType,
)
_ISIN_MAX_KEYS = 1024


def merge_upsert_pruned(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    stat_cols: list[str] | None = None,
    batch_id: int | None = None,
    max_probe_keys: int = 100_000,
) -> int | None:
    """MERGE INTO that rewrites ONLY the files whose footer stats on the
    primary key column can contain an update key — the production
    refinement promised in ``merge_upsert``'s docstring: cost is
    O(touched files), not O(table).

    File classification, most to least precise:
    - <= ``max_probe_keys`` distinct update keys: collect them sorted
      (bounded driver memory — the normal CDC-batch case) and probe each
      file's [min, max] with a binary search, so a batch mixing low keys
      with one brand-new high key still touches only those files, not the
      whole span between them.
    - more keys than that: fall back to the single [min, max] interval of
      the updates (two scalars from a 1-row aggregate).
    - file without stats, or incomparable types: conservatively touched.

    Touched files are re-read, stripped of the update keys, unioned with
    the updates, and re-staged; the commit removes exactly the touched
    files. Untouched files survive by NOT being named — no data movement,
    no rewrite. Correctness never depends on the stats: a file that could
    contain a matching key is always classified touched, and the result is
    row-identical to ``merge_upsert`` (pinned in tests/test_tablog.py).

    ``updates`` is evaluated once: it is persisted for the call, and one
    bounded key collect answers emptiness, the all-NULL case and the probe
    set, so classification and the written rows come from the same
    evaluation (Delta's MERGE materializes its source for the same reason).

    On a date-range-clustered 100 TB table, a CDC batch touching one day
    rewrites that day's files only — the difference between a merge that
    costs minutes and one that re-shuffles the lake.
    """
    from bisect import bisect_left
    from functools import lru_cache

    if batch_id is not None and batch_id in committed_batch_ids(path):
        return None
    if snapshot_dv(path) is not None:
        # a pending deletion vector references CURRENT file names; a pruned
        # rewrite re-stages touched files from their RAW bytes, which would
        # resurrect DV-deleted rows under new names the DV does not cover.
        # The full merge reads through read() (DV applied) and clears it.
        return merge_upsert(spark, updates, path, key_cols, stat_cols, batch_id)
    key = key_cols[0]
    rv = current_version(path)
    files, schemas = _snapshot(path, rv)
    updates = updates.persist()
    try:
        # a batch of at most max_probe_keys rows yields its keys without the
        # shuffle of a distinct (dedup by repr: key values may be unhashable)
        rows = updates.select(key).limit(max_probe_keys + 1).collect()
        if len(rows) > max_probe_keys:
            rows = updates.select(key).distinct().limit(max_probe_keys + 1).collect()
        keys = list({repr(r[0]): r[0] for r in rows}.values())
        if not keys:  # empty update set: MERGE is a no-op, commit nothing
            return None
        probed = len(keys) <= max_probe_keys
        # NULL keys can't match stored rows — probe only the non-null keys
        # (sorted() would TypeError on a None among comparables otherwise)
        keys = [k for k in keys if k is not None]
        # every update key NULL: NULL never equals any stored key, so no file
        # can match — the whole batch is inserts (merge_upsert would append
        # them all)
        touched = []
        if keys or not probed:
            key_type = updates.schema[key].dataType
            if isinstance(key_type, TimestampType):
                # collect() gives naive LOCAL datetimes; as aware UTC they
                # compare with the UTC-aware footer stats and make exact
                # literals on any driver time zone (DST folds included)
                keys = [k.astimezone(_dt.timezone.utc) for k in keys]
            if probed:

                @lru_cache(maxsize=None)
                def probe_in(form: str) -> list | None:
                    canon = [_canon_probe(k, form) for k in keys]
                    return None if None in canon else sorted(canon)

                def hits(stat: list) -> bool:
                    try:
                        probe = probe_in(_stat_form(stat[0]))
                        i = bisect_left(probe, stat[0])
                        return i < len(probe) and probe[i] <= stat[1]
                    except TypeError:
                        return True  # incomparable -> conservatively touched

            else:
                lo, hi = updates.agg(F.min(key), F.max(key)).first()

                def hits(stat: list) -> bool:
                    return _overlaps(stat, lo, hi)

            touched = [
                a for a in files
                if a.get("stats", {}).get(key) is None or hits(a["stats"][key])
            ]
        merged = updates
        if touched:
            base_slice = _scan(spark, path, touched, schemas)
            # pre-rename files carry OLD physical column names; without the
            # replay the key would read as NULL there and matching base rows
            # would survive next to their updates (silent duplicates)
            base_slice = _apply_renames(base_slice, snapshot_renames(path, rv))
            if (
                probed
                and len(key_cols) == 1
                and len(keys) <= _ISIN_MAX_KEYS
                and isinstance(key_type, _ISIN_TYPES)
                and isinstance(base_slice.schema[key].dataType, _ISIN_TYPES)
            ):
                # the keys are already on the driver: a filter drops the
                # matched rows without a join (NULL keys never match)
                k = F.col(key)
                kept = base_slice.filter(k.isNull() | ~k.isin(keys))
            else:
                kept = base_slice.join(updates.select(*key_cols), key_cols, "left_anti")
            merged = kept.unionByName(updates, allowMissingColumns=True)
        adds = _stage_files(merged, path, stat_cols or [])
    finally:
        updates.unpersist()
    actions = {
        "operation": "merge_pruned",
        "add": adds,
        "remove": [a["file"] for a in touched],
        "schema": merged.schema.json(),
    }
    if batch_id is not None:
        actions["batch_id"] = batch_id
    return _commit(path, actions, read_version=rv)


def merge_upsert_with_retry(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    stat_cols: list[str] | None = None,
    batch_id: int | None = None,
    max_retries: int = 5,
) -> int | None:
    """``merge_upsert`` + rebase: the loser of a concurrent-writer race
    re-reads the moved tip and reapplies its updates against it instead of
    aborting (VERDICT r2 #7).

    Safe because a MERGE's effect is a pure function of (current snapshot,
    updates): replaying it against the new tip yields exactly the state
    sequential execution would have produced — the interleaved writer's rows
    survive unless the updates themselves override those keys. This is the
    same rebase loop Delta/Iceberg run for non-overlapping commits, with
    MERGE's semantics making overlap benign too. Staged-but-unpublished data
    files from the lost attempt are unreachable (never referenced by any
    committed entry) and get swept by ``vacuum``.
    """
    last: ConcurrentModificationError | None = None
    for _ in range(max_retries):
        try:
            return merge_upsert(spark, updates, path, key_cols, stat_cols, batch_id)
        except ConcurrentModificationError as e:
            last = e  # tip moved under us — re-read and reapply
    raise ConcurrentModificationError(
        f"merge at {path} lost the tip race {max_retries} times"
    ) from last


def committed_batch_ids(path: str) -> set:
    """Stream batch ids already recorded in the log (exactly-once ledger)."""
    ids = set()
    for v in _list_versions(path):
        e = _read_entry(path, v)
        if "batch_id" in e:
            ids.add(e["batch_id"])
    return ids


def append_batch(
    df: DataFrame, path: str, batch_id: int, stat_cols: list[str] | None = None
) -> int | None:
    """Idempotent append keyed by stream batch id: a replayed epoch (restart
    between sink write and checkpoint commit) finds its id in the log and
    becomes a no-op instead of doubling rows — the table-format half of
    Structured Streaming's exactly-once contract. foreachBatch calls are
    serialized per query, so the check-then-commit window has no concurrent
    writer for the same id."""
    if batch_id in committed_batch_ids(path):
        return None
    _check_schema_enforcement(df, path)
    adds = _stage_files(df, path, stat_cols or [])
    return _commit(
        path,
        {
            "operation": "stream-append",
            "batch_id": batch_id,
            "add": adds,
            "schema": df.schema.json(),
        },
    )


def stream_writer(path: str, stat_cols: list[str] | None = None):
    """``foreachBatch`` callable writing a stream into a tablog table:
    ``stream.writeStream.foreachBatch(tablog.stream_writer(path)).start()``."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df, path, batch_id, stat_cols)

    return _write


def current_version(path: str) -> int | None:
    versions = _list_versions(path)
    return versions[-1] if versions else None


def read_incremental(
    spark: SparkSession, path: str, since_version: int | None
) -> tuple[DataFrame | None, int | None]:
    """Rows added to the table AFTER ``since_version`` (None = everything):
    the change feed an incremental consumer needs. Returns (df, version to
    record for the next call); df is None when nothing new arrived.

    Reads only the net-new files named by the log tail — cost proportional
    to the CHANGE, not the table. This is what turns a 100 TB continuous
    aggregate from a nightly full re-scan into a per-batch delta
    aggregation (see the continuous-aggregate test in test_tablog.py).
    Assumes append-style commits for the delta window (true for stream/
    append ingestion; an overwrite/merge in the window requires a full
    recompute, which the caller detects via history())."""
    tip = current_version(path)
    if tip is None or (since_version is not None and tip <= since_version):
        return None, tip
    if since_version is None:
        return read(spark, path), tip
    prev = {a["file"] for a in snapshot_files(path, since_version)}
    now, schemas = _snapshot(path, tip)
    new_files = [a for a in now if a["file"] not in prev]
    if not new_files:
        return None, tip
    df = _scan(spark, path, new_files, schemas)
    # change-feed consumers key on logical names; new files may still
    # predate a rename (e.g. a publish_branch of an older branch)
    return _apply_renames(df, snapshot_renames(path, tip)), tip


def restore(path: str, to_version: int) -> int:
    """RESTORE the table to a previous snapshot as a NEW commit (the Delta
    RESTORE semantic): the target version's file set becomes the live set,
    current-only files are removed, and history is preserved — time travel
    still reaches every intermediate version, and the restore itself is one
    atomic, conflict-checked log entry (no data is copied or rewritten;
    only membership changes). Requires the restored files to still exist,
    i.e. not vacuumed away."""
    rv = current_version(path)
    want = {a["file"]: a for a in snapshot_files(path, to_version)}
    have = {a["file"] for a in snapshot_files(path, rv)}
    # _data_path: clone-referenced entries live in the SOURCE directory
    missing = [f for f, a in want.items() if not os.path.exists(_data_path(path, a))]
    # the target's deletion-vector sidecar is part of the restored state —
    # re-activating a vacuumed DV would make every subsequent read() fail
    # (or, unchecked, silently drop the deletes)
    dv = snapshot_dv(path, to_version)
    if dv is not None and not os.path.exists(os.path.join(path, dv)):
        missing.append(dv)
    if missing:
        raise FileNotFoundError(
            f"restore to v{to_version}: {len(missing)} files vacuumed away "
            f"(first: {missing[0]})"
        )
    adds = [a for f, a in want.items() if f not in have]
    removes = [f for f in have if f not in want]
    schema = _read_entry(path, to_version).get("schema")
    actions = {"operation": "restore", "restored_version": to_version,
               "add": adds, "remove": removes, "dv": dv,
               "renames_set": snapshot_renames(path, to_version)}
    if schema:
        actions["schema"] = schema
    return _commit(path, actions, read_version=rv)


def vacuum(path: str, keep_versions: int = 1) -> list[str]:
    """Delete data files unreferenced by the ``keep_versions`` most recent
    snapshots (bounds time travel; frees compacted-away files). Returns the
    deleted names. Open WAP branches pin their snapshots (base files + branch
    writes) — a branch forked before a compact must survive the vacuum that
    frees the compacted-away base files."""
    versions = _list_versions(path)
    keep = versions[-keep_versions:] if versions else []
    referenced = {a["file"] for v in keep for a in snapshot_files(path, v)}
    ref_dvs = {snapshot_dv(path, v) for v in keep} - {None}
    for b in list_branches(path):
        bfiles, bbase = _branch_snapshot(path, b)
        referenced |= {a["file"] for a in bfiles}
        bdv = snapshot_dv(path, bbase)
        if bdv:
            ref_dvs.add(bdv)
    deleted = []
    for f in os.listdir(path):
        if f.endswith(".parquet") and f.startswith("part-") and f not in referenced:
            os.remove(os.path.join(path, f))
            deleted.append(f)
        elif f.startswith("dv-") and f not in ref_dvs:
            shutil.rmtree(os.path.join(path, f), ignore_errors=True)
            deleted.append(f)
    return deleted


def diff_versions(
    spark: SparkSession, path: str, v_from: int, v_to: int
) -> DataFrame:
    """Row-level diff between two snapshots (the audit/debug companion to
    time travel): multiset-exact added vs removed rows via exceptAll in both
    directions. Cost note: this is the generic any-table form (two snapshot
    scans + one anti-style shuffle each); for append-only windows
    ``read_incremental`` answers 'what changed' from the log tail alone
    without touching old files — use this one when overwrites/merges make
    the log insufficient."""
    a = read(spark, path, version=v_from)
    b = read(spark, path, version=v_to)
    added = b.exceptAll(a).withColumn("change_type", F.lit("added"))
    removed = a.exceptAll(b).withColumn("change_type", F.lit("removed"))
    return added.unionByName(removed)


def changes_between(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Keyed change data feed between two snapshots — the Delta CDF semantic:
    one ``_change_type`` row per changed entity, with update rows emitted as
    a pre/post-image pair so a downstream consumer can apply (or reverse) the
    delta without re-reading either snapshot. Requires ``key_cols`` to be
    unique per snapshot (the same contract merge_upsert maintains).

    Versus ``diff_versions`` (multiset added/removed, no identity): this one
    pairs rows by key, so an UPDATE is distinguishable from an unrelated
    delete+insert — what cache invalidation and reverse-ETL consumers need.
    Across a schema change every surviving key reports as an update (the
    fingerprint covers each snapshot's own column set) — the conservative
    reading: a consumer re-materializes rows whose shape changed.
    Attribute comparison uses the NULL-safe to_json struct fingerprint (same
    as scd2_history; concat_ws would collide NULL layouts). Cost: two
    snapshot scans + key-partitioned joins; every join shuffles on the same
    key columns, so at scale the exchange is reused across the branches."""
    a = read(spark, path, version=v_from)
    b = read(spark, path, version=v_to)

    def _fp(df: DataFrame) -> DataFrame:
        attrs = sorted(c for c in df.columns if c not in key_cols)
        return df.select(
            *key_cols,
            F.md5(
                F.to_json(
                    F.struct(*[F.col(c) for c in attrs]),
                    {"ignoreNullFields": "false"},
                )
            ).alias("__fp"),
        )

    inserted = b.join(a.select(*key_cols), key_cols, "left_anti").withColumn(
        "_change_type", F.lit("insert")
    )
    deleted = a.join(b.select(*key_cols), key_cols, "left_anti").withColumn(
        "_change_type", F.lit("delete")
    )
    fa = _fp(a).withColumnRenamed("__fp", "__fp_a")
    changed_keys = (
        fa.join(_fp(b), key_cols)
        .filter(F.col("__fp_a") != F.col("__fp"))
        .select(*key_cols)
    )
    pre = a.join(changed_keys, key_cols, "left_semi").withColumn(
        "_change_type", F.lit("update_preimage")
    )
    post = b.join(changed_keys, key_cols, "left_semi").withColumn(
        "_change_type", F.lit("update_postimage")
    )
    return (
        inserted.unionByName(deleted, allowMissingColumns=True)
        .unionByName(pre, allowMissingColumns=True)
        .unionByName(post, allowMissingColumns=True)
    )


def table_stats(path: str, version: int | None = None) -> dict:
    """Operational audit of a snapshot from LOG METADATA ONLY (no data
    scan): live file count, total bytes, small-file count (the compaction
    trigger), and per-file stat-column coverage. The numbers a maintenance
    job reads before deciding to compact/Z-order/vacuum."""
    files = snapshot_files(path, version)

    sizes = [_file_size(path, f) for f in files]
    return {
        "version": version if version is not None else current_version(path),
        "n_files": len(files),
        "total_bytes": sum(sizes),
        "avg_bytes": (sum(sizes) // len(files)) if files else 0,
        "small_files": sum(1 for s in sizes if s < 8 * 1024 * 1024),
        "files_with_stats": sum(1 for f in files if f.get("stats")),
    }


def maybe_compact(
    spark: SparkSession,
    path: str,
    stat_cols: list[str] | None = None,
    small_bytes: int = 8 * 1024 * 1024,
    min_small: int = 4,
) -> int | None:
    """Policy-driven auto-compaction: rewrite only when at least
    ``min_small`` live files are under ``small_bytes`` (the read-amplification
    signal from ``table_stats`` — all from log metadata, no data scan).
    Returns the new version, or None when the layout is already healthy.
    The maintenance loop a scheduler runs after every streaming day.

    Delegates to ``compact_small``: only the small files are rewritten —
    on a 100 TB table the nightly bin-pack touches the day's streamed
    slivers, never the settled bulk (``compact``'s full rewrite is the
    explicit detach/materialize tool, not the maintenance path)."""
    return compact_small(spark, path, stat_cols, small_bytes, min_small)


def compact_small(
    spark: SparkSession,
    path: str,
    stat_cols: list[str] | None = None,
    small_bytes: int = 8 * 1024 * 1024,
    min_small: int = 4,
) -> int | None:
    """PARTIAL compaction (the OPTIMIZE bin-packing semantic): coalesce only
    the live files under ``small_bytes`` into fewer files, leaving
    well-sized files untouched — cost is O(small bytes), not O(table).
    Classification comes from log metadata alone. Commits one atomic
    add+remove version; a pending deletion vector forces the full
    ``compact`` (a partial rewrite would re-stage DV-deleted rows under
    names the DV does not cover)."""
    rv = current_version(path)
    files = snapshot_files(path, rv)
    small = [f for f in files if _file_size(path, f) < small_bytes]
    if len(small) < min_small:
        return None
    if snapshot_dv(path, rv) is not None:
        return compact(spark, path, stat_cols)
    df = spark.read.option("mergeSchema", "true").parquet(
        *[_data_path(path, a) for a in small]
    )
    df = _apply_renames(df, snapshot_renames(path, rv))
    # bin-pack toward ~128 MiB outputs: a day of slivers may total many GB
    target = max(1, sum(_file_size(path, a) for a in small) // (128 * 1024 * 1024))
    adds = _stage_files(df.coalesce(target), path, stat_cols or [])
    return _commit(
        path,
        {
            "operation": "compact_small",
            "add": adds,
            "remove": [a["file"] for a in small],
        },
        read_version=rv,
    )


def scd2_history(
    spark: SparkSession, path: str, key_cols: list[str]
) -> DataFrame:
    """Reconstruct a Slowly-Changing-Dimension Type 2 history from the
    table's own version log: one row per (key, attribute-state) EPISODE with
    ``[valid_from_version, valid_to_version)`` bounds (NULL = still current).

    The CDC→warehouse pattern without a separate CDC feed — the transaction
    log IS the change history. Mechanics: every snapshot is read tagged with
    its dense version index, attribute state is fingerprinted row-locally
    (md5 over the non-key columns), and episode boundaries fall where the
    fingerprint changes OR the key skips a version (delete + re-insert must
    not merge into one episode). Boundary detection is the gaps-and-islands
    lag/cumsum form over a (key)-hash window — no self-joins, no iteration;
    cost is one scan per version (bounded by retention), all unioned into a
    single job.
    """
    versions = _list_versions(path)
    assert versions, f"no versions at {path}"
    frames = []
    for idx, v in enumerate(versions):
        frames.append(read(spark, path, version=v).withColumn("__vidx", F.lit(idx)))
    all_rows = frames[0]
    for fr in frames[1:]:
        all_rows = all_rows.unionByName(fr)

    attr_cols = [c for c in all_rows.columns if c not in set(key_cols) | {"__vidx"}]
    # JSON-struct fingerprint, NOT concat_ws: concat_ws silently skips NULL
    # columns, so (a=NULL, b='x') and (a='x', b=NULL) collided and a real
    # attribute change opened no new episode; embedded separator bytes
    # collided the same way (ADVICE r2). to_json keys every value by column
    # name, keeps explicit nulls, and escapes arbitrary content.
    fp = F.md5(
        F.to_json(
            F.struct(*[F.col(c) for c in sorted(attr_cols)]),
            {"ignoreNullFields": "false"},
        )
    )
    from pyspark.sql import Window as W

    wk = W.partitionBy(*key_cols).orderBy("__vidx")
    tagged = (
        all_rows.withColumn("__fp", fp)
        .withColumn("__pfp", F.lag("__fp").over(wk))
        .withColumn("__pv", F.lag("__vidx").over(wk))
        .withColumn(
            "__chg",
            (
                F.col("__pfp").isNull()
                | (F.col("__pfp") != F.col("__fp"))
                | (F.col("__pv") != F.col("__vidx") - 1)
            ).cast("int"),
        )
        .withColumn("__ep", F.sum("__chg").over(wk))
    )
    last_idx = len(versions) - 1
    episodes = tagged.groupBy(*key_cols, "__ep").agg(
        *[F.first(c).alias(c) for c in attr_cols],
        F.min("__vidx").alias("__from"),
        F.max("__vidx").alias("__to"),
    )
    ver_arr = F.array(*[F.lit(v) for v in versions])
    return (
        episodes.withColumn(
            "valid_from_version", F.element_at(ver_arr, F.col("__from") + 1)
        )
        .withColumn(
            "valid_to_version",
            F.when(
                F.col("__to") < last_idx,
                F.element_at(ver_arr, F.col("__to") + 2),
            ),
        )
        .withColumn("is_current", (F.col("__to") == last_idx).cast("int"))
        .drop("__ep", "__from", "__to")
    )


# --- WAP branches (write-audit-publish) --------------------------------------
#
# The Iceberg/Nessie branch workflow scaled to its essentials: an ETL job
# writes to an isolated BRANCH of the table (data files land in the table
# directory but are referenced only by a branch-local log), quality AUDITS
# run against the branch snapshot, and only a passing branch is PUBLISHED —
# one atomic squash commit on the main log. Readers of main never observe
# unaudited data, a failing audit costs zero main-history churn, and the
# publish is all-or-nothing even when the branch accumulated many writes.


def _branch_dir(path: str, name: str) -> str:
    return os.path.join(_log_dir(path), f"_branch-{name}")


def _branch_meta(path: str, name: str) -> dict:
    with open(os.path.join(_branch_dir(path, name), "_base.json")) as f:
        return json.load(f)


def _branch_versions(path: str, name: str) -> list[int]:
    d = _branch_dir(path, name)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and not f.startswith("_")
    )


def _branch_entries(path: str, name: str) -> list[dict]:
    d = _branch_dir(path, name)
    out = []
    for v in _branch_versions(path, name):
        with open(os.path.join(d, f"{v:020d}.json")) as f:
            out.append(json.load(f))
    return out


def branch_create(path: str, name: str) -> int:
    """Fork a branch at the current main tip. Returns the base version the
    branch reads from; branch writes never touch the main log."""
    base = current_version(path)
    assert base is not None, f"branch_create on a table with no commits: {path}"
    d = _branch_dir(path, name)
    os.makedirs(d, exist_ok=False)
    with open(os.path.join(d, "_base.json"), "w") as f:
        json.dump({"base_version": base, "name": name}, f)
    return base


def list_branches(path: str) -> list[str]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        f[len("_branch-"):] for f in os.listdir(d) if f.startswith("_branch-")
    )


def _branch_commit(path: str, name: str, actions: dict) -> int:
    d = _branch_dir(path, name)
    for _ in range(20):
        versions = _branch_versions(path, name)
        v = (versions[-1] + 1) if versions else 0
        try:
            fd = os.open(
                os.path.join(d, f"{v:020d}.json"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            json.dump(dict(actions, version=v), f, default=str)
        return v
    raise RuntimeError(f"branch commit contention at {d}")


def _branch_snapshot(path: str, name: str) -> tuple[list[dict], int]:
    """(live file list, base main version) for a branch: the base snapshot
    folded with the branch's own add/remove entries."""
    base = _branch_meta(path, name)["base_version"]
    live = {a["file"]: a for a in snapshot_files(path, base)}
    for e in _branch_entries(path, name):
        for rm in e.get("remove", []):
            live.pop(rm, None)
        for add in e.get("add", []):
            live[add["file"]] = add
    return list(live.values()), base


def branch_append(
    df: DataFrame, path: str, name: str, stat_cols: list[str] | None = None
) -> int:
    """Append to the branch only — main readers are unaffected until
    publish. Data files are staged into the table directory (collision-proof
    unique names), so publish later is a pure log operation, no data copy."""
    _check_schema_enforcement(df, path)
    adds = _stage_files(df, path, stat_cols or [])
    return _branch_commit(
        path, name, {"operation": "append", "add": adds, "schema": df.schema.json()}
    )


def branch_overwrite(
    df: DataFrame, path: str, name: str, stat_cols: list[str] | None = None
) -> int:
    """Replace the branch's snapshot (base files + earlier branch writes).
    The publish of an overwriting branch is conflict-checked against the
    base version — see publish_branch."""
    current, _ = _branch_snapshot(path, name)
    adds = _stage_files(df, path, stat_cols or [])
    return _branch_commit(
        path,
        name,
        {
            "operation": "overwrite",
            "add": adds,
            "remove": [a["file"] for a in current],
            "schema": df.schema.json(),
        },
    )


def read_branch(spark: SparkSession, path: str, name: str) -> DataFrame:
    """The branch's current snapshot: base version data (with the base
    deletion vector still honored) plus branch writes."""
    files, base = _branch_snapshot(path, name)
    if not files:
        # only empty writes (they log no files): the newest logged schema
        schema = next(
            (e["schema"] for e in reversed(_branch_entries(path, name)) if e.get("schema")),
            None,
        )
        if schema is None:
            return read(spark, path, version=base)
        empty = spark.createDataFrame([], StructType.fromJson(json.loads(schema)))
        return _apply_renames(empty, snapshot_renames(path, base))
    df = spark.read.option("mergeSchema", "true").parquet(
        *[_data_path(path, a) for a in files]
    )
    dv = snapshot_dv(path, base)
    if dv:
        df = _apply_dv(spark, df, path, dv)
    return _apply_renames(df, snapshot_renames(path, base))


def audit_branch(spark: SparkSession, path: str, name: str) -> dict[str, int]:
    """Run the table's CHECK constraints against the FULL branch snapshot
    (one aggregate pass). Returns per-constraint violation counts — empty
    means the branch is publishable. The WAP 'audit' step: it runs where
    the data is still invisible to main readers."""
    return _violation_counts(read_branch(spark, path, name), get_constraints(path))


def publish_branch(
    spark: SparkSession, path: str, name: str, audit: bool = True
) -> int:
    """Atomically merge the branch into main as ONE squash commit (the 'P'
    of write-audit-publish). Semantics:

    - ``audit=True`` re-runs ``audit_branch`` first; any violation raises
      ConstraintViolation and main is untouched (the branch stays intact
      for fix-up and retry).
    - An APPEND-ONLY branch fast-forwards onto a moved main tip: its adds
      are independent of interleaved main commits (same rule as append's
      transparent retry).
    - A branch that REMOVED base files (overwrite) must publish against an
      unmoved tip; if main advanced since ``branch_create``, the commit
      raises ConcurrentModificationError (re-branch and re-run, as in
      Delta's WriteSerializable conflicts).

    Returns the new main version; the branch log is deleted (its data files
    now belong to main history)."""
    if audit:
        bad = audit_branch(spark, path, name)
        if bad:
            raise ConstraintViolation(
                f"publish_branch({name}): CHECK constraint(s) violated: {bad}"
            )
    files, base = _branch_snapshot(path, name)
    base_files = {a["file"] for a in snapshot_files(path, base)}
    live = {a["file"] for a in files}
    net_add = [a for a in files if a["file"] not in base_files]
    net_remove = sorted(base_files - live)
    schema = None
    for e in reversed(_branch_entries(path, name)):
        schema = e.get("schema")
        if schema:
            break
    actions: dict = {
        "operation": "publish_branch",
        "branch": name,
        "base_version": base,
        "add": net_add,
    }
    if schema:
        actions["schema"] = schema
    if net_remove:
        # an overwriting branch replaces the base snapshot: stale deletion
        # vectors over removed files must not survive the publish
        actions["remove"] = net_remove
        actions["dv"] = None
        v = _commit(path, actions, read_version=base)
    else:
        v = _commit(path, actions)
    shutil.rmtree(_branch_dir(path, name))
    return v


def drop_branch(path: str, name: str) -> list[str]:
    """Abandon a branch: delete its log and the data files only it
    references (base files stay — main history owns them). The failing-audit
    exit of the WAP loop."""
    base_files = {
        a["file"]
        for a in snapshot_files(path, _branch_meta(path, name)["base_version"])
    }
    deleted = []
    for e in _branch_entries(path, name):
        for add in e.get("add", []):
            f = add["file"]
            if f not in base_files and os.path.exists(os.path.join(path, f)):
                os.remove(os.path.join(path, f))
                deleted.append(f)
    shutil.rmtree(_branch_dir(path, name))
    return deleted


def branch_committed_batch_ids(path: str, name: str) -> set:
    """Stream batch ids already recorded in the BRANCH log (the branch half
    of the exactly-once ledger; publish carries no batch ids — the squash
    is a single new commit and the branch ledger dies with the branch)."""
    return {e["batch_id"] for e in _branch_entries(path, name) if "batch_id" in e}


def branch_append_batch(
    df: DataFrame,
    path: str,
    name: str,
    batch_id: int,
    stat_cols: list[str] | None = None,
) -> int | None:
    """Idempotent branch append keyed by stream batch id — ``append_batch``
    for a WAP branch: a replayed epoch (restart between sink write and
    checkpoint commit) is a no-op instead of doubling branch rows."""
    if batch_id in branch_committed_batch_ids(path, name):
        return None
    _check_schema_enforcement(df, path)
    adds = _stage_files(df, path, stat_cols or [])
    return _branch_commit(
        path,
        name,
        {
            "operation": "stream-append",
            "batch_id": batch_id,
            "add": adds,
            "schema": df.schema.json(),
        },
    )


def branch_stream_writer(path: str, name: str, stat_cols: list[str] | None = None):
    """``foreachBatch`` callable streaming into a WAP BRANCH — the blue/green
    deployment loop for streaming pipelines: a new pipeline version streams
    into a branch (main readers never see it), quality audits run against the
    accumulating branch snapshot, and cutover is one atomic
    ``publish_branch`` — or ``drop_branch`` if the new pipeline misbehaves,
    with main history untouched either way."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        branch_append_batch(batch_df, path, name, batch_id, stat_cols)

    return _write


def register_view(
    spark: SparkSession,
    path: str,
    name: str,
    version: int | None = None,
) -> None:
    """Expose a tablog snapshot to ``spark.sql`` as a temp view (latest by
    default, or a pinned time-travel version) — the ad-hoc SQL entry point
    over versioned tables, with deletion vectors and column mapping already
    applied. Re-registering the same name repoints it (e.g. after new
    commits, or to flip a dashboard between versions)."""
    read(spark, path, version=version).createOrReplaceTempView(name)


def clone_table(src: str, dst: str) -> int:
    """SHALLOW CLONE (the Delta ``CLONE`` semantic): create a new table
    whose version-0 snapshot REFERENCES the source's current data files —
    zero bytes copied, so cloning a 100 TB table costs one log entry.
    Each referenced add-entry carries ``dir`` (the source directory);
    footer stats and Blooms ride along, so data skipping works on the
    clone unchanged.

    The clone's log is independent: writes, DML, compaction on either side
    never touch the other (snapshot isolation ACROSS tables). Any rewriting
    operation on the clone (compact/overwrite/merge) re-stages data into
    the clone's own directory, making it self-contained. Caveats, as in
    Delta: a pending deletion vector must be compacted away first (the DV
    sidecar lives in the source directory and names source files), and
    vacuuming the SOURCE after it rewrites history can break clones that
    still reference the dropped files — compact the clone first to detach.
    The source's folded column mapping is pinned into the clone at creation.
    """
    rv = current_version(src)
    assert rv is not None, f"clone_table from a table with no commits: {src}"
    if snapshot_dv(src, rv) is not None:
        raise ValueError(
            "source has a pending deletion vector; compact() it before "
            "cloning (the DV sidecar is not portable across tables)"
        )
    src_abs = os.path.abspath(src)
    adds = [dict(a, dir=src_abs) for a in snapshot_files(src, rv)]
    schema = None
    for v in reversed(_list_versions(src)):
        schema = _read_entry(src, v).get("schema")
        if schema:
            break
    actions = {
        "operation": "clone",
        "source": src_abs,
        "source_version": rv,
        "add": adds,
        "renames_set": snapshot_renames(src, rv),
    }
    if schema:
        actions["schema"] = schema
    os.makedirs(dst, exist_ok=True)
    return _commit(dst, actions)
