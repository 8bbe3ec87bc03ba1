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
from dataclasses import dataclass, field

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


def _log_dir(path: str, branch: str | None = None) -> str:
    """The main log's directory, or a WAP branch's log inside it."""
    d = os.path.join(path, LOG_DIR)
    return d if branch is None else os.path.join(d, f"_branch-{branch}")


def _entry_path(path: str, version: int, branch: str | None = None) -> str:
    return os.path.join(_log_dir(path, branch), f"{version:020d}.json")


def _list_versions(path: str, branch: str | None = None) -> list[int]:
    d = _log_dir(path, branch)
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


def _may_match(a: dict, col: str, lo, hi, eq: bool = False) -> bool:
    """Whether add-entry ``a`` can hold a ``col`` value in [lo, hi] by its
    logged footer stats; an ``eq`` probe (lo == hi) also asks its Bloom
    filter. A file without stats or a filter is kept."""
    stat = a.get("stats", {}).get(col)
    if stat is not None and not _overlaps(stat, lo, hi):
        return False
    bloom = a.get("bloom", {}).get(col) if eq else None
    return bloom is None or _bloom_might_contain(bloom, lo)


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


def _read_entry(path: str, version: int, branch: str | None = None) -> dict:
    with open(_entry_path(path, version, branch)) as f:
        return json.load(f)


def _commit(
    path: str,
    actions: dict,
    max_retries: int = 20,
    read_version: int | None = None,
    conflict_on: tuple = (),
    branch: str | None = None,
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
    and the commit proceeds at the new slot.

    ``branch`` commits to that WAP branch's log by the same rules, with
    versions of its own. Branch logs are never checkpointed: they end at
    publish or drop."""
    where = path if branch is None else f"{path} (branch {branch})"
    os.makedirs(_log_dir(path), exist_ok=True)
    for _ in range(max_retries):
        versions = _list_versions(path, branch)
        # A commit depends on its read snapshot when it removes files OR
        # carries a deletion vector: a DV built against v5 names v5's files
        # and unions v5's prior DV — publishing it over a moved tip silently
        # resurrects concurrent deletes or references rewritten files.
        if "remove" in actions or actions.get("dv") is not None:
            tip = versions[-1] if versions else None
            if tip != read_version:
                raise ConcurrentModificationError(
                    f"{actions.get('operation')} at {where}: snapshot read at "
                    f"version {read_version} but tip is now {tip}; re-read "
                    "the table and retry the operation"
                )
        if conflict_on:
            tip = versions[-1] if versions else None
            if tip != read_version:
                for v in versions:
                    if read_version is not None and v <= read_version:
                        continue
                    e = _read_entry(path, v, branch)
                    hit = [k for k in conflict_on if k in e]
                    if hit:
                        raise ConcurrentModificationError(
                            f"{actions.get('operation')} at {where}: validated "
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
            fd = os.open(
                _entry_path(path, version, branch), os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            continue  # another writer won this version — retry against new tip
        with os.fdopen(fd, "w") as f:
            json.dump(entry, f, default=str)  # datetime/decimal stats -> ISO strings
        if branch is None and version and version % CHECKPOINT_EVERY == 0:
            snap = _snapshot(path, version)
            cp = os.path.join(_log_dir(path), f"_checkpoint-{version:020d}.json")
            cp_body = {
                "version": version,
                "files": snap.files,
                # the schemas the live files were written with, so readers
                # resolve them from the checkpoint plus the tail only
                "schemas": {
                    i: snap.schemas[i]
                    for i in {a.get("schema_id") for a in snap.files}
                    if i in snap.schemas
                },
                # the DV and the column mapping, so readers replay the tail
                # only (same O(CHECKPOINT_EVERY) bound as files)
                "dv": snap.dv,
                "renames": snap.renames,
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
    raise RuntimeError(f"commit contention exceeded {max_retries} retries at {where}")


@dataclass
class _Snap:
    """The state at ``version`` of the main log, or of the WAP ``branch``'s
    log (version None: that log has no entry yet). A branch's snapshot also
    keeps where its replay started: main's version and live files at the
    branch's base."""

    version: int | None = None
    branch: str | None = None
    base_version: int | None = None
    base_files: frozenset[str] = frozenset()
    live: dict[str, dict] = field(default_factory=dict)  # file -> add action
    schemas: dict[str, str] = field(default_factory=dict)  # schema id -> schema
    dv: str | None = None  # deletion-vector sidecar in force
    renames: list[list[str]] = field(default_factory=list)  # [old, new] pairs

    @property
    def files(self) -> list[dict]:
        return list(self.live.values())


def _fold(snap: _Snap, e: dict) -> None:
    """Apply one log entry to ``snap``. The newest entry carrying a ``dv``
    key sets the deletion vector (appends carry none and inherit it,
    rewrites clear it). Full-rewrite operations materialize the column
    mapping into the data and reset it (``renames_set``); restore pins the
    mapping of the restored version."""
    for rm in e.get("remove", []):
        snap.live.pop(rm, None)
    for add in e.get("add", []):
        snap.live[add["file"]] = add
    if e.get("schema"):
        snap.schemas[_schema_id(e["schema"])] = e["schema"]
    if "dv" in e:
        snap.dv = e["dv"]
    if "renames_set" in e:
        snap.renames = [list(p) for p in e["renames_set"]]
    snap.renames += [[old, new] for old, new in e.get("renames", {}).items()]


def _checkpoint(path: str, version: int) -> tuple[_Snap, int]:
    """The newest checkpoint at or below ``version`` and the first version
    after it; without one, an empty snapshot and version 0."""
    d = _log_dir(path)
    checkpoints = [
        int(f[len("_checkpoint-"):-5])
        for f in os.listdir(d)
        if f.startswith("_checkpoint-") and f.endswith(".json")
    ]
    usable = [v for v in checkpoints if v <= version]
    if not usable:
        return _Snap(), 0
    with open(os.path.join(d, f"_checkpoint-{max(usable):020d}.json")) as f:
        body = json.load(f)
    snap = _Snap(
        live={a["file"]: a for a in body["files"]},
        schemas=body.get("schemas", {}),
        dv=body.get("dv"),
        renames=[list(p) for p in body.get("renames", [])],
    )
    return snap, max(usable) + 1


def _snapshot(path: str, version: int | None = None, branch: str | None = None) -> _Snap:
    """Replay the log ONCE into its state at ``version`` (default: the tip):
    live files, the schema-id -> schema map, the deletion vector and the
    column mapping. The replay starts from the newest checkpoint at or
    below ``version`` and folds each tail entry once. A branch is a log
    whose replay starts from main's snapshot at the branch's base version,
    the way a tail starts from a checkpoint. An id missing from the schema
    map (legacy checkpoint, commit logging no schema) makes ``_scan`` fall
    back to a footer merge."""
    versions = _list_versions(path, branch)
    if version is None:
        version = versions[-1] if versions else None
    elif version not in versions:
        raise ValueError(f"unknown version {version} of {path}")
    if branch is not None:
        snap, first = _snapshot(path, _branch_meta(path, branch)["base_version"]), 0
        snap.base_version, snap.base_files = snap.version, frozenset(snap.live)
    elif version is None:
        return _Snap()
    else:
        snap, first = _checkpoint(path, version)
    snap.version, snap.branch = version, branch
    for v in versions:
        if first <= v <= version:
            _fold(snap, _read_entry(path, v, branch))
    return snap


def snapshot_files(path: str, version: int | None = None) -> list[dict]:
    """Fold the log into the live file list at ``version`` (default: latest).
    Replays from the newest checkpoint at or below ``version``, then the tail."""
    return _snapshot(path, version).files


def snapshot_dv(path: str, version: int | None = None) -> str | None:
    """The deletion-vector sidecar in force at ``version`` (None when no
    logical deletes are pending)."""
    return _snapshot(path, version).dv


def snapshot_renames(path: str, version: int | None = None) -> list[list[str]]:
    """The cumulative column-mapping at ``version``: ordered [old, new]
    pairs folded from rename_column entries."""
    return _snapshot(path, version).renames


def _log_desc(path: str, version: int | None = None, branch: str | None = None):
    """Log entries newest first, from ``version`` (default: the tip) down; a
    branch's own entries run on into main's from the branch's base down."""
    if branch is not None:
        for v in reversed(_list_versions(path, branch)):
            if version is None or v <= version:
                yield _read_entry(path, v, branch)
        version = _branch_meta(path, branch)["base_version"]
    for v in reversed(_list_versions(path)):
        if version is None or v <= version:
            yield _read_entry(path, v)


def _newest_schema(entries) -> str | None:
    """The first schema logged among ``entries``, given newest first."""
    return next((e["schema"] for e in entries if e.get("schema")), None)


def _logical_schema(path: str) -> tuple[_Snap, str | None, set[str]]:
    """The main log's snapshot at the tip, its newest logged schema, and
    that schema's column names after the column mapping (empty when no
    schema is logged)."""
    snap = _snapshot(path)
    schema = _newest_schema(_log_desc(path, snap.version))
    names = {f["name"] for f in json.loads(schema)["fields"]} if schema else set()
    for old, new in snap.renames:
        if old in names:
            names.discard(old)
            names.add(new)
    return snap, schema, names


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
    # pending renames applied, so chained renames validate against the
    # CURRENT logical schema, not the physical one the last writer recorded
    snap, schema, names = _logical_schema(path)
    assert snap.version is not None, f"rename_column on a table with no commits: {path}"
    assert schema, f"no schema recorded at {path}"
    sj = json.loads(schema)
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
        read_version=snap.version,
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
    snap = _snapshot(path)
    if not snap.live:
        return None
    base = spark.read.option("mergeSchema", "true").parquet(
        *[_data_path(path, a) for a in snap.files]
    )
    # predicates are written against LOGICAL (post-rename) column names
    base = _apply_renames(base, snap.renames)
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    new_dv = base.filter(pred).select(
        fname.alias("file"), F.col("_metadata.row_index").alias("pos")
    )
    if snap.dv:
        new_dv = new_dv.unionByName(
            spark.read.parquet(os.path.join(path, snap.dv))
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
        read_version=snap.version,
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
    ``append`` (to main or to a branch) rejects batches whose column names
    differ from the table's current LOGICAL schema (post-rename) — silent drift
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
    _, schema, names = _logical_schema(path)
    if not schema:
        return
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
    *,
    branch: str | None = None,
) -> int | None:
    """Commit ``df``'s rows as new files and return the new version.

    ``branch`` appends to that WAP branch only (the version returned is the
    branch's): main readers are unaffected until ``publish_branch``, and
    since the files are staged into the table directory, the publish is a
    pure log operation, no data copy.

    ``batch_id`` makes the append exactly-once, like merge_upsert's ledger:
    a replayed epoch (restart between the sink write and the checkpoint
    commit) finds its id in the log and returns None without staging
    anything, instead of doubling rows — the table-format half of
    Structured Streaming's exactly-once contract. foreachBatch calls are
    serialized per query, so the check-then-commit window has no concurrent
    writer for the same id."""
    if batch_id is not None and batch_id in committed_batch_ids(path, branch=branch):
        return None
    _check_schema_enforcement(df, path)
    actions = {
        "operation": "append" if batch_id is None else "stream-append",
        "add": _stage_files(df, path, stat_cols or [], bloom_cols),
        "schema": df.schema.json(),
    }
    if batch_id is not None:
        actions["batch_id"] = batch_id
    return _commit(path, actions, branch=branch)


def _rewrite(
    path: str,
    snap: _Snap,
    operation: str,
    df: DataFrame,
    stat_cols: list[str] | None,
    batch_id: int | None = None,
) -> int:
    """Commit ``df`` as the whole new state of ``snap``'s log: every live
    file is removed, and since the new rows carry no pending delete and use
    the logical column names, the deletion vector and the column mapping
    reset. Raises ConcurrentModificationError when the log has moved past
    ``snap``."""
    actions = {
        "operation": operation,
        "add": _stage_files(df, path, stat_cols or []),
        "remove": [a["file"] for a in snap.files],
        "schema": df.schema.json(),
        "dv": None,
        "renames_set": [],
    }
    if batch_id is not None:
        actions["batch_id"] = batch_id
    return _commit(path, actions, read_version=snap.version, branch=snap.branch)


def overwrite(
    df: DataFrame,
    path: str,
    stat_cols: list[str] | None = None,
    *,
    branch: str | None = None,
) -> int:
    """Replace the snapshot with ``df``'s rows in one commit. ``branch``
    replaces the branch's snapshot (base files and earlier branch writes);
    publishing an overwriting branch is conflict-checked against its base
    version (see publish_branch). A commit that lands between the snapshot
    and this commit makes it raise ConcurrentModificationError."""
    return _rewrite(path, _snapshot(path, branch=branch), "overwrite", df, stat_cols)


def compact(spark: SparkSession, path: str, stat_cols: list[str] | None = None) -> int:
    """Rewrite the current snapshot as one file per ~128MB (here: coalesced),
    committing adds+removes in a single atomic version — readers of older
    versions are unaffected."""
    snap = _snapshot(path)
    df = _read(spark, path, snap)
    return _rewrite(path, snap, "compact", df.coalesce(max(1, len(snap.live) // 8)), stat_cols)


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
    *,
    branch: str | None = None,
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
    mutually exclusive with ``version``. ``branch`` reads a WAP branch: its
    base version's data (deletion vector and column mapping included) plus
    the branch's writes. Branches have no time travel, so ``branch`` with
    ``version`` or ``as_of`` raises ValueError."""
    if branch is not None and (version is not None or as_of is not None):
        raise ValueError("a branch has no time travel: pass branch without version or as_of")
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        version = version_at(path, as_of)
    return _read(spark, path, _snapshot(path, version, branch), between, eq)


def _read(
    spark: SparkSession,
    path: str,
    snap: _Snap,
    between: tuple[str, object, object] | None = None,
    eq: tuple[str, object] | None = None,
) -> DataFrame:
    """``read`` of a snapshot already replayed."""
    files = snap.files
    if between is not None:
        files = [a for a in files if _may_match(a, *between)]
    if eq is not None:
        col, val = eq
        files = [a for a in files if _may_match(a, col, val, val, eq=True)]
    if not files:
        schema = _newest_schema(_log_desc(path, snap.version, snap.branch))
        empty = spark.createDataFrame([], StructType.fromJson(json.loads(schema)))
        return _apply_renames(empty, snap.renames)
    df = _scan(spark, path, files, snap.schemas)
    if snap.dv:
        df = _apply_dv(spark, df, path, snap.dv)
    # column-mapping replay happens BEFORE predicates so between/eq refer to
    # the logical (post-rename) column names
    df = _apply_renames(df, snap.renames)
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
    return sum(_may_match(a, col, lo, hi) for a in files), len(files)


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
    """Raise ConstraintViolation if any registered CHECK fails on ``df``.
    Called before ``append``, it rejects a violating batch whole: the
    constraint scan runs before any file is staged."""
    bad = _violation_counts(df, get_constraints(path))
    if bad:
        raise ConstraintViolation(f"CHECK constraint(s) violated: {bad}")


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
    snap = _snapshot(path)
    keep = _read(spark, path, snap).filter(~pred)
    return _rewrite(path, snap, "delete", keep, stat_cols)


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

    snap = _snapshot(path)
    df = _read(spark, path, snap)
    bounds = df.agg(
        *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(cols)],
    ).first()
    ranges = [
        (float(bounds[f"lo_{i}"]), float(bounds[f"hi_{i}"]))
        for i in range(len(cols))
    ]
    clustered = cluster_zorder(df, cols, ranges, n_files)
    return _rewrite(path, snap, "optimize", clustered, stat_cols or cols)


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
    snap = _snapshot(path)
    base = _read(spark, path, snap)
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
    return _rewrite(path, snap, "apply_changes", merged, stat_cols, batch_id)


def export_manifest(path: str, out_file: str, version: int | None = None) -> int:
    """Export a snapshot as a plain newline-separated list of absolute data
    file paths — the symlink-manifest interop pattern (Hive/Trino
    SymlinkTextInputFormat, Delta's manifest generation): ANY parquet reader
    can consume the exact snapshot without understanding the log. Refuses
    when a deletion vector is pending (plain readers cannot apply it —
    compact first to materialize). Returns the number of files listed."""
    snap = _snapshot(path, version)
    if snap.dv is not None:
        raise ValueError(
            "snapshot has a pending deletion vector; compact() to materialize "
            "before exporting a plain-reader manifest"
        )
    if snap.renames:
        # physical column names in pre-rename files differ from the logical
        # schema; a plain reader has no column mapping to reconcile them
        raise ValueError(
            "snapshot has pending column renames; compact() to materialize "
            "the mapping before exporting a plain-reader manifest"
        )
    files = sorted(os.path.abspath(_data_path(path, a)) for a in snap.files)
    tmp = out_file + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write("\n".join(files) + ("\n" if files else ""))
    os.replace(tmp, out_file)
    return len(files)


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
    snap = _snapshot(path)
    base = _read(spark, path, snap)
    merged = base.join(updates.select(*key_cols), key_cols, "left_anti").unionByName(
        updates, allowMissingColumns=True
    )
    return _rewrite(path, snap, "merge", merged, stat_cols, batch_id)


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
    snap = _snapshot(path)
    if snap.dv is not None:
        # a pending deletion vector references CURRENT file names; a pruned
        # rewrite re-stages touched files from their RAW bytes, which would
        # resurrect DV-deleted rows under new names the DV does not cover.
        # The full merge reads through read() (DV applied) and clears it.
        return merge_upsert(spark, updates, path, key_cols, stat_cols, batch_id)
    key = key_cols[0]
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
                a for a in snap.files
                if a.get("stats", {}).get(key) is None or hits(a["stats"][key])
            ]
        merged = updates
        if touched:
            base_slice = _scan(spark, path, touched, snap.schemas)
            # pre-rename files carry OLD physical column names; without the
            # replay the key would read as NULL there and matching base rows
            # would survive next to their updates (silent duplicates)
            base_slice = _apply_renames(base_slice, snap.renames)
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
    return _commit(path, actions, read_version=snap.version)


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


def committed_batch_ids(path: str, *, branch: str | None = None) -> set:
    """Stream batch ids already recorded in the log, or in ``branch``'s
    (the exactly-once ledger). A publish carries no batch ids: the squash
    is one new commit, and the branch ledger dies with the branch."""
    ids = set()
    for v in _list_versions(path, branch):
        e = _read_entry(path, v, branch)
        if "batch_id" in e:
            ids.add(e["batch_id"])
    return ids


def stream_writer(
    path: str, stat_cols: list[str] | None = None, *, branch: str | None = None
):
    """``foreachBatch`` callable appending a stream to a tablog table exactly
    once per batch id (see ``append``):
    ``stream.writeStream.foreachBatch(tablog.stream_writer(path)).start()``.

    With ``branch`` the stream lands in a WAP branch — the blue/green
    deployment loop for streaming pipelines: a new pipeline version streams
    into a branch (main readers never see it), quality audits run against
    the accumulating branch snapshot, and cutover is one atomic
    ``publish_branch`` — or ``drop_branch`` if the new pipeline misbehaves,
    with main history untouched either way."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        append(batch_df, path, stat_cols, batch_id=batch_id, branch=branch)

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
    prev = _snapshot(path, since_version).live
    now = _snapshot(path, tip)
    new_files = [a for a in now.files if a["file"] not in prev]
    if not new_files:
        return None, tip
    df = _scan(spark, path, new_files, now.schemas)
    # change-feed consumers key on logical names; new files may still
    # predate a rename (e.g. a publish_branch of an older branch)
    return _apply_renames(df, now.renames), tip


def restore(path: str, to_version: int) -> int:
    """RESTORE the table to a previous snapshot as a NEW commit (the Delta
    RESTORE semantic): the target version's file set becomes the live set,
    current-only files are removed, and history is preserved — time travel
    still reaches every intermediate version, and the restore itself is one
    atomic, conflict-checked log entry (no data is copied or rewritten;
    only membership changes). Requires the restored files to still exist,
    i.e. not vacuumed away."""
    current = _snapshot(path)
    target = _snapshot(path, to_version)
    want, have = target.live, current.live
    # _data_path: clone-referenced entries live in the SOURCE directory
    missing = [f for f, a in want.items() if not os.path.exists(_data_path(path, a))]
    # the target's deletion-vector sidecar is part of the restored state —
    # re-activating a vacuumed DV would make every subsequent read() fail
    # (or, unchecked, silently drop the deletes)
    dv = target.dv
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
               "renames_set": target.renames}
    if schema:
        actions["schema"] = schema
    return _commit(path, actions, read_version=current.version)


def vacuum(path: str, keep_versions: int = 1) -> list[str]:
    """Delete data files unreferenced by the ``keep_versions`` most recent
    snapshots (bounds time travel; frees compacted-away files). Returns the
    deleted names. Open WAP branches pin their snapshots, read like any
    other (base files and deletion vector plus the branch's writes) — a
    branch forked before a compact must survive the vacuum that frees the
    compacted-away base files."""
    snaps = [_snapshot(path, v) for v in _list_versions(path)[-keep_versions:]]
    snaps += [_snapshot(path, branch=b) for b in list_branches(path)]
    referenced = {f for s in snaps for f in s.live}
    ref_dvs = {s.dv for s in snaps} - {None}
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
    snap = _snapshot(path)
    small = [f for f in snap.files if _file_size(path, f) < small_bytes]
    if len(small) < min_small:
        return None
    if snap.dv is not None:
        return compact(spark, path, stat_cols)
    df = spark.read.option("mergeSchema", "true").parquet(
        *[_data_path(path, a) for a in small]
    )
    df = _apply_renames(df, snap.renames)
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
        read_version=snap.version,
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


def _branch_meta(path: str, name: str) -> dict:
    with open(os.path.join(_log_dir(path, name), "_base.json")) as f:
        return json.load(f)


def branch_create(path: str, name: str) -> int:
    """Fork a branch at the current main tip. Returns the base version the
    branch reads from; branch writes (``append``/``overwrite``/
    ``stream_writer`` with ``branch=``) never touch the main log."""
    base = current_version(path)
    assert base is not None, f"branch_create on a table with no commits: {path}"
    d = _log_dir(path, name)
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


def audit_branch(spark: SparkSession, path: str, name: str) -> dict[str, int]:
    """Run the table's CHECK constraints against the FULL branch snapshot
    (one aggregate pass). Returns per-constraint violation counts — empty
    means the branch is publishable. The WAP 'audit' step: it runs where
    the data is still invisible to main readers."""
    return _violation_counts(read(spark, path, branch=name), get_constraints(path))


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
    snap = _snapshot(path, branch=name)
    actions: dict = {
        "operation": "publish_branch",
        "branch": name,
        "base_version": snap.base_version,
        "add": [a for a in snap.files if a["file"] not in snap.base_files],
    }
    if snap.version is not None:
        # every branch write logs its schema: the newest branch entry has it
        actions["schema"] = _newest_schema(_log_desc(path, snap.version, name))
    net_remove = sorted(snap.base_files - set(snap.live))
    if net_remove:
        # an overwriting branch replaces the base snapshot, and with it the
        # deletion vector and column mapping it reset: stale ones must not
        # survive the publish
        actions.update(remove=net_remove, dv=snap.dv, renames_set=snap.renames)
        v = _commit(path, actions, read_version=snap.base_version)
    else:
        v = _commit(path, actions)
    shutil.rmtree(_log_dir(path, name))
    return v


def drop_branch(path: str, name: str) -> list[str]:
    """Abandon a branch: delete its log and the data files only it
    references (base files stay — main history owns them). The failing-audit
    exit of the WAP loop."""
    base_files = _snapshot(path, branch=name).base_files
    deleted = []
    # every file a branch entry added, also those a later branch overwrite
    # removed from the branch's snapshot
    for v in _list_versions(path, name):
        for add in _read_entry(path, v, name).get("add", []):
            f = add["file"]
            if f not in base_files and os.path.exists(os.path.join(path, f)):
                os.remove(os.path.join(path, f))
                deleted.append(f)
    shutil.rmtree(_log_dir(path, name))
    return deleted


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
    snap = _snapshot(src)
    assert snap.version is not None, f"clone_table from a table with no commits: {src}"
    if snap.dv is not None:
        raise ValueError(
            "source has a pending deletion vector; compact() it before "
            "cloning (the DV sidecar is not portable across tables)"
        )
    src_abs = os.path.abspath(src)
    schema = _newest_schema(_log_desc(src, snap.version))
    actions = {
        "operation": "clone",
        "source": src_abs,
        "source_version": snap.version,
        "add": [dict(a, dir=src_abs) for a in snap.files],
        "renames_set": snap.renames,
    }
    if schema:
        actions["schema"] = schema
    os.makedirs(dst, exist_ok=True)
    return _commit(dst, actions)
