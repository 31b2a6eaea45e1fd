"""Snapshot-versioned parquet tables — the repo's ONE table layer, with the
Iceberg COMMIT SEMANTICS the north rule names, implemented over plain
parquet + JSON manifests because the sandbox image carries no
iceberg-spark-runtime jar (re-probed every round; BENCH/BASELINE.md
"Iceberg sink status"). When the jar exists, every call site swaps to
`.format("iceberg")` and this module retires; until then it provides the
semantics users of an Iceberg sink actually rely on, each with the same
contract:

- **atomic commit**: data files land in a staging dir, then ONE manifest
  file appears atomically (full JSON written to a hidden temp, then
  ``os.link`` into the versioned name — link is exclusive AND the
  content is complete at link time). The manifest's existence IS the
  commit; there is deliberately NO separate current-pointer file — a
  second source of truth would let a crash between two writes wedge the
  table (review find: an orphaned manifest + stale pointer made every
  later commit conflict forever while the idempotency gate thought the
  data had landed). ``current_version`` derives from the manifest set.
- **optimistic concurrency**: the manifest's version number is the lock.
  Two writers racing to commit version N+1 both try to link
  ``v000N+1.json``; the loser gets :class:`CommitConflict` (Iceberg's
  CAS on the catalog pointer).
- **time travel**: ``read_snapshot(..., version=)`` / ``as_of_ts=`` read
  the exact file list a past manifest pinned, with that version's own
  schema.
- **rollback**: a NEW version whose file list is an old version's —
  history is append-only, like ``rollback_to_snapshot``.
- **table maintenance as snapshots**: :func:`merge_upsert` (MERGE INTO),
  :func:`delete_ids` (DELETE), :func:`compact` (``rewrite_data_files``)
  and :func:`cluster` (OPTIMIZE ZORDER) each commit a NEW version.
  Merge and delete choose their candidate files through one footer
  pruner (:func:`_split_by_keys`); every file it rules out is carried
  into the new manifest by reference, never read or rewritten. Readers
  see the old version or the new one, and the old one stays readable by
  time travel until expiry.
- **exactly-once streaming**: :func:`commit_stream_batch` — every
  manifest carries ``batch_seqs``, the highest micro-batch id ever
  committed per stream ``app_id``, so the replay gate is one manifest
  read, O(1), scoped to one stream (a fresh checkpoint is a new app and
  starts its own sequence), and survives every maintenance commit and
  :func:`expire_snapshots` dropping old batch-bearing manifests.
- **expiry**: ``expire_snapshots`` drops old manifests, deletes data
  files no surviving manifest references, and sweeps what crashed or
  conflict-losing commits left behind (orphan data files, ``_stage-*``
  dirs, temp manifests) past a grace age.

Scale shape: manifests are O(files) JSON — the listing a 1000-executor
read plans from without a directory scan; data files are written by
executors in parallel (one ``df.write`` per commit), and a read is an
explicit-path parquet scan (partition pruning and column pruning apply
as usual). Single-table, filesystem-atomic (POSIX link/rename) — the
documented stand-in scope.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TARGET_MB = 128


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic-lock loss).
    Retry: re-read the current version and re-commit on top of it."""


@dataclass
class Snapshot:
    version: int
    ts: float
    operation: str
    files: list
    rows: int
    parent: int | None
    batch_id: int | None = None
    app_id: str | None = None
    schema_json: str | None = None
    batch_seqs: dict = field(default_factory=dict)  # {app_id: max batch_id}
    file_stats: dict = field(default_factory=dict)  # {rel_path: {col: [min, max]}}


def _snap_dir(path: str) -> str:
    return os.path.join(path, "_snapshots")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_snap_dir(path), f"v{version:06d}.json")


def _versions(path: str) -> list:
    """Committed version numbers, ascending NUMERIC order (names are
    zero-padded for readability only — sorting parsed integers keeps the
    history correct past v999999, review find)."""
    try:
        names = os.listdir(_snap_dir(path))
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith("v") and n.endswith(".json"):
            out.append(int(n[1:-5]))
    return sorted(out)


def current_version(path: str) -> int | None:
    """The committed version (highest manifest), or None for an
    empty/uninitialized table."""
    vs = _versions(path)
    return vs[-1] if vs else None


def _load_manifest(path: str, version: int) -> Snapshot:
    try:
        with open(_manifest_path(path, version)) as fh:
            d = json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"snapshot v{version} of {path} does not exist (expired or "
            "never committed)"
        ) from None
    return Snapshot(
        version=d["version"], ts=d["ts"], operation=d["operation"],
        files=d["files"], rows=d["rows"], parent=d.get("parent"),
        batch_id=d.get("batch_id"), app_id=d.get("app_id"),
        schema_json=d.get("schema"),
        batch_seqs=d.get("batch_seqs") or {},
        file_stats=d.get("file_stats") or {},
    )


def _current(path: str) -> Snapshot | None:
    cur = current_version(path)
    return _load_manifest(path, cur) if cur is not None else None


def _schema_key(schema_json: str):
    """Name+type structural key for schema comparison: nullability and
    field metadata are stripped recursively (Iceberg-style by-name/type
    check — a non-nullable frame writes fine into a nullable table; exact
    JSON equality would reject it)."""
    def strip(node):
        if isinstance(node, dict):
            return {k: strip(v) for k, v in node.items()
                    if k not in ("nullable", "metadata", "containsNull",
                                 "valueContainsNull")}
        if isinstance(node, list):
            return [strip(v) for v in node]
        return node

    return json.dumps(strip(json.loads(schema_json)), sort_keys=True)


def _commit_manifest(path: str, new_version: int, manifest: dict) -> Snapshot:
    """The commit point, shared by every write path: the manifest's full
    JSON is written to a hidden temp file, then ``os.link``ed into the
    versioned name — exclusive (link fails if the target exists: the
    optimistic lock) AND atomic-with-complete-content (a reader or a
    crash can never observe a half-written manifest; a crash before the
    link leaves nothing committed, only orphaned data files and possibly
    the temp, both for the expiry sweep). The temp is removed on EVERY
    exit, including a serialization failure mid-dump (a raise inside the
    write block would otherwise leak it)."""
    tmp = os.path.join(_snap_dir(path), f".tmp-{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, _manifest_path(path, new_version))
        except FileExistsError:
            raise CommitConflict(
                f"version v{new_version} of {path} was committed "
                "concurrently"
            ) from None
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    return _load_manifest(path, new_version)


def _commit_next(path: str, prev: Snapshot | None, operation: str,
                 files: list, rows: int, file_stats: dict,
                 schema_json: str | None,
                 batch: tuple | None = None) -> Snapshot:
    """Link the manifest of the version after ``prev``. ONE manifest
    shape for every commit: ``batch_seqs`` always rides forward from
    ``prev`` (maintenance commits included — a gate that lost it after a
    merge or rollback would re-admit replays), and a stream
    commit's ``batch = (app_id, batch_id)`` raises its own app's entry."""
    seqs = dict(prev.batch_seqs) if prev is not None else {}
    app_id, batch_id = batch if batch is not None else (None, None)
    if batch is not None:
        seqs[app_id] = max(seqs.get(app_id, -1), batch_id)
    version = (prev.version if prev is not None else 0) + 1
    return _commit_manifest(path, version, {
        "version": version, "ts": time.time(), "operation": operation,
        "files": files, "rows": rows,
        "parent": prev.version if prev is not None else None,
        "app_id": app_id, "batch_id": batch_id, "batch_seqs": seqs,
        "schema": schema_json, "file_stats": file_stats,
    })


def _stats_encode(v):
    """Footer min/max → JSON-storable value. Numbers/strings/bools pass
    through; datetimes/dates become tagged ISO strings (the natural
    pruning column for an ingester is a time range — review find: raw
    datetime crashed json.dump); anything else (bytes, decimals) returns
    None = don't record stats for this value."""
    import datetime as _dt

    if isinstance(v, bool) or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        return {"_t": "dt", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"_t": "d", "v": v.isoformat()}
    return None


def _stats_decode(v):
    import datetime as _dt

    if isinstance(v, dict) and "_t" in v:
        if v["_t"] == "dt":
            return _dt.datetime.fromisoformat(v["v"])
        if v["_t"] == "d":
            return _dt.date.fromisoformat(v["v"])
    return v


def _stats_cols_of(snap: Snapshot) -> tuple:
    """The stats columns a manifest carries (ONE derivation shared by
    append-inheritance and every maintenance rewrite)."""
    return tuple(sorted(
        {c for st in (snap.file_stats or {}).values() for c in st}))


def _top_level_column_index(md) -> dict:
    """{top-level column name -> parquet column position}. Uses the full
    dotted PATH, not the leaf name — for schema {id, s: struct<id>} both
    leaves are NAMED 'id' and a leaf-name dict silently picks the
    struct-inner column (wrong stats, wrong pruning, and a merge that
    leaves duplicate keys). Nested leaves are excluded — only
    top-level columns are prunable here."""
    out = {}
    for i in range(md.num_columns):
        p = md.schema.column(i).path
        if "." not in p:
            out[p] = i
    return out


def footer_range(md, col_pos: int):
    """Whole-file [min, max] from parquet row-group statistics for the
    column at ``col_pos``, or None when ANY row group lacks usable stats
    (the caller must then treat the file as a candidate). ONE copy of the
    statistics subtleties (missing stats, NULL-only groups), shared by
    commit-time manifest stats, the merge/delete pruner and
    :func:`clustering_stats`."""
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(col_pos).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def _footer_ranges(path: str, files: list, col: str):
    """(rel_path, rows, footer [min, max] of top-level ``col`` or None) per
    data file — driver-side footer metadata only, no data pages."""
    import pyarrow.parquet as pq

    for rel in files:
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        idx = _top_level_column_index(md)
        rng = footer_range(md, idx[col]) if col in idx else None
        yield rel, md.num_rows, rng


def _split_by_keys(path: str, snap: Snapshot, col: str, keys: list):
    """The ONE file pruner for merge and delete: (untouched, untouched
    rows, candidates). A file is untouched when its footer [min, max] for
    ``col`` holds none of the sorted ``keys`` (binary search); a file
    without usable stats is a candidate whenever there are keys."""
    import bisect

    untouched, rows, candidates = [], 0, []
    for rel, n, rng in _footer_ranges(path, snap.files, col):
        if rng is None:
            hit = bool(keys)
        else:
            i = bisect.bisect_left(keys, rng[0])
            hit = i < len(keys) and keys[i] <= rng[1]
        if hit:
            candidates.append(rel)
        else:
            untouched.append(rel)
            rows += n
    return untouched, rows, candidates


def _stage_files(df: DataFrame, path: str, new_version: int,
                 stats_cols: tuple = ()):
    """Write ``df``'s parquet files under data/ with a commit-local prefix;
    returns (relative paths, total rows, per-file column stats). Zero-row
    files are not kept (an emptied rewrite leaves no husk; the manifest's
    pinned schema types an empty read). A failed/conflicted commit leaves
    only unreferenced data files and its ``_stage-*`` dir, which
    :func:`expire_snapshots`' orphan sweep garbage-collects.

    ``stats_cols``: record each file's footer [min, max] for these
    columns INTO THE MANIFEST (Iceberg's manifest-level file statistics)
    — :func:`scan_snapshot` then prunes files at plan time from one JSON
    read, no footer access. The footers are already open here for the
    row counts, so the stats are free at commit time. Note: timestamp
    columns only carry footer stats under the modern physical type (set
    ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS``; Spark's
    legacy INT96 default writes no min/max, so those columns are simply
    not recorded)."""
    import pyarrow.parquet as pq

    stage = os.path.join(path, f"_stage-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(stage)
    prefix = f"c{new_version:06d}-{uuid.uuid4().hex[:8]}"
    new_files, rows, file_stats = [], 0, {}
    for i, name in enumerate(sorted(os.listdir(stage))):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(stage, name)).metadata
        if md.num_rows == 0:
            continue
        rel = os.path.join("data", f"{prefix}-{i:05d}.parquet")
        os.rename(os.path.join(stage, name), os.path.join(path, rel))
        rows += md.num_rows
        new_files.append(rel)
        idx = _top_level_column_index(md)
        st = {}
        for col in stats_cols:
            rng = footer_range(md, idx[col]) if col in idx else None
            if rng is not None:
                lo, hi = _stats_encode(rng[0]), _stats_encode(rng[1])
                if lo is not None and hi is not None:
                    st[col] = [lo, hi]
        if st:
            file_stats[rel] = st
    shutil.rmtree(stage, ignore_errors=True)
    return new_files, rows, file_stats


def commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    expected_version: int | None = ...,
    batch: tuple | None = None,
    stats_cols: tuple = (),
) -> Snapshot:
    """Write ``df`` as the next snapshot of the table at ``path``.

    ``stats_cols`` records per-file [min, max] manifest statistics for
    those columns (free at commit time — the footers are already open);
    :func:`scan_snapshot` prunes from them at plan time. Appends inherit
    the table's existing stats columns automatically, so one initial
    commit with ``stats_cols`` keeps the whole table pruned.

    ``mode="append"`` adds the new files to the current file list;
    ``"overwrite"`` replaces it. ``expected_version`` (optional) asserts
    the version this commit builds on — pass the version you read to get
    compare-and-swap semantics across a read-modify-write; by default the
    commit builds on whatever is current (blind append, Iceberg's
    fast-append). ``batch`` is the ``(app_id, batch_id)`` a stream commit
    records (see :func:`commit_stream_batch`). Raises
    :class:`CommitConflict` when the next version's manifest already
    exists (a racing writer won).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(_snap_dir(path), exist_ok=True)
    os.makedirs(os.path.join(path, "data"), exist_ok=True)

    prev = _current(path)
    cur = prev.version if prev is not None else None
    if expected_version is not ... and expected_version != cur:
        raise CommitConflict(
            f"table moved: expected v{expected_version}, current is v{cur}")
    # schema enforcement (Iceberg writes are schema-checked): an append
    # must match the table's current schema exactly — silently unioning
    # mismatched parquet files would surface as nulls/corruption at read
    # time. Overwrite SETS a new schema (the evolution path: rewrite with
    # the new shape; per-version schemas make old snapshots read with
    # their own schema).
    if mode == "append" and prev is not None:
        if prev.schema_json is not None and \
                _schema_key(prev.schema_json) != _schema_key(df.schema.json()):
            raise ValueError(
                f"append schema mismatch vs v{cur} of {path}: table has "
                f"{prev.schema_json} but frame has {df.schema.json()} — "
                "overwrite to change the schema"
            )

    # appends AND overwrites inherit the table's existing stats columns
    # (restricted to columns the new frame still has), so pruning stays
    # uniform without re-passing stats_cols per batch and an overwrite
    # doesn't silently lose it (review find)
    eff_stats_cols = tuple(stats_cols)
    if not eff_stats_cols and prev is not None and prev.file_stats:
        eff_stats_cols = tuple(
            c for c in _stats_cols_of(prev) if c in df.columns)

    new_files, rows, new_stats = _stage_files(
        df, path, (cur or 0) + 1, stats_cols=eff_stats_cols)
    if mode == "append" and prev is not None:
        files, rows = prev.files + new_files, prev.rows + rows
        new_stats = {**prev.file_stats, **new_stats}
    else:
        files = new_files
    return _commit_next(path, prev, mode, files, rows, new_stats,
                        df.schema.json(), batch=batch)


def _rewrite(path: str, snap: Snapshot, operation: str, keep: list,
             keep_rows: int, df: DataFrame,
             schema_json: str | None = None) -> Snapshot:
    """A maintenance commit on top of ``snap``: the files in ``keep`` are
    carried by reference (with their rows and manifest stats) and ``df``
    is staged as the new files. Shared by merge, delete, compact and
    cluster, so each keeps the stats columns and ``batch_seqs`` alike."""
    new_files, rows, new_stats = _stage_files(
        df, path, snap.version + 1, stats_cols=_stats_cols_of(snap))
    kept = set(keep)
    stats = {f: st for f, st in snap.file_stats.items() if f in kept}
    stats.update(new_stats)
    return _commit_next(path, snap, operation, keep + new_files,
                        keep_rows + rows, stats,
                        schema_json or snap.schema_json)


def commit_stream_batch(
    df: DataFrame,
    path: str,
    app_id: str,
    batch_id: int,
    mode: str = "append",
) -> Snapshot | None:
    """Idempotent micro-batch commit — the Iceberg exactly-once
    ``foreachBatch`` recipe: micro-batch ids are monotone WITHIN one
    stream, so a batch whose id is ≤ the running sequence of its
    ``app_id`` is a RETRY REPLAY of work that already landed, and the
    commit no-ops (returns None). Structured Streaming re-runs a failed
    batch with the same id after restart; with a plain parquet append
    that double-appends (at-least-once) — with this gate the routed sink
    is exactly-once.

    The key is ``(app_id, batch_id)`` — Delta's txnAppId/txnVersion.
    ``app_id`` must name one checkpoint lineage (the streaming pipeline
    passes the query id the checkpoint persists): batch ids restart at 0
    with a fresh checkpoint, and an unscoped gate would silently drop
    every batch until the new ids passed the old sequence.

    The gate reads ONE manifest (the current one) — O(1) per batch — and
    because every commit, maintenance included, carries ``batch_seqs``
    forward, expiring old batch-bearing manifests cannot void it."""
    prev = _current(path)
    if prev is not None and prev.batch_seqs.get(app_id, -1) >= batch_id:
        return None
    return commit(df, path, mode=mode, batch=(app_id, batch_id))


def snapshots(path: str) -> list:
    """Committed history, oldest first by NUMERIC version (expired
    versions absent)."""
    return [_load_manifest(path, v) for v in _versions(path)]


def _read_files(spark: SparkSession, path: str, snap: Snapshot,
                files: list) -> DataFrame:
    """Explicit-path read of ``files``; with none, a typed-empty frame
    from the schema ``snap`` pins."""
    if files:
        return spark.read.parquet(*[os.path.join(path, f) for f in files])
    if snap.schema_json is None:
        raise ValueError(
            f"snapshot v{snap.version} of {path} has no files to read and "
            "pins no schema")
    from pyspark.sql.types import StructType

    return spark.createDataFrame(
        [], StructType.fromJson(json.loads(snap.schema_json)))


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read the table as of a version (time travel). Default: current.
    ``as_of_ts`` resolves to the latest snapshot committed at or before
    that timestamp."""
    if version is not None and as_of_ts is not None:
        raise ValueError("pass version OR as_of_ts, not both")
    if as_of_ts is not None:
        eligible = [s for s in snapshots(path) if s.ts <= as_of_ts]
        if not eligible:
            raise ValueError(f"no snapshot of {path} at or before {as_of_ts}")
        version = eligible[-1].version
    if version is None:
        version = current_version(path)
        if version is None:
            raise ValueError(f"{path} has no committed snapshots")
    snap = _load_manifest(path, version)
    return _read_files(spark, path, snap, snap.files)


def scan_snapshot(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Manifest-pruned read: keep only files whose recorded [min, max]
    for ``col`` intersects [lo, hi] (either bound None = unbounded) —
    Iceberg's plan-time file pruning from manifest statistics, ONE JSON
    read, no footer access. Files without recorded stats are kept (can't
    prune what wasn't measured). The caller still applies the real
    predicate — pruning only shrinks the scan set, never changes results
    (tests assert both). Requires a commit made with ``stats_cols``."""
    if version is None:
        version = current_version(path)
        if version is None:
            raise ValueError(f"{path} has no committed snapshots")
    snap = _load_manifest(path, version)
    stats = snap.file_stats or {}

    import datetime as _dt

    def cmp_pair(a, b):
        # footer timestamps decode tz-aware (parquet isAdjustedToUTC);
        # a naive bound means UTC by repo convention (session tz = UTC)
        if isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime) \
                and (a.tzinfo is None) != (b.tzinfo is None):
            if a.tzinfo is None:
                a = a.replace(tzinfo=_dt.timezone.utc)
            else:
                b = b.replace(tzinfo=_dt.timezone.utc)
        return a, b

    def keep(rel):
        st = stats.get(rel, {}).get(col)
        if st is None:
            return True
        fmin, fmax = _stats_decode(st[0]), _stats_decode(st[1])
        try:
            if lo is not None:
                a, b = cmp_pair(fmax, lo)
                if a < b:
                    return False
            if hi is not None:
                a, b = cmp_pair(fmin, hi)
                if a > b:
                    return False
        except TypeError:
            raise TypeError(
                f"scan_snapshot: bound type "
                f"{type(lo if lo is not None else hi).__name__} is not "
                f"comparable with column {col!r}'s recorded stats type "
                f"{type(fmin).__name__} (file {rel})"
            ) from None
        return True

    return _read_files(spark, path, snap, [f for f in snap.files if keep(f)])


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_col: str,
    max_keys: int = 1_000_000,
) -> Snapshot:
    """Copy-on-write MERGE INTO (upsert by key) as a NEW snapshot: rows of
    the current snapshot whose ``key_col`` matches an update row are
    replaced, all other update rows are inserted, and every untouched
    data file is carried into the new manifest BY REFERENCE — never read,
    never rewritten (the tests assert byte-identity; time travel still
    sees the pre-merge rows through the old manifest).

    Candidate files come from :func:`_split_by_keys`, the pruner
    :func:`delete_ids` shares: only files whose footer [min, max] for the
    top-level ``key_col`` intersects an update key are re-read,
    anti-joined against the (broadcast) update keys — a JOIN, not a
    million-literal ``isin`` expression — and rewritten together with
    the updates as new data files. NULL-keyed table rows always survive
    (a merge must never drop un-addressed rows); NULL-keyed update rows
    match nothing and insert as plain rows. Duplicate keys WITHIN the
    updates raise — real MERGE INTO rejects multiple source matches
    rather than silently writing duplicate keys.

    Update keys are collected driver-side under ``max_keys`` (the
    bounded-collect guard pattern) for the footer pruning; beyond that,
    batch the merge. On a by-key-clustered table a narrow upsert touches
    one file.

    Raises :class:`CommitConflict` under the same optimistic lock as
    every other commit; append-shape schema enforcement applies."""
    from pyspark.sql import functions as F

    snap = _current(path)
    if snap is None:
        return commit(updates, path, mode="append")
    if snap.schema_json is not None and \
            _schema_key(snap.schema_json) != \
            _schema_key(updates.schema.json()):
        raise ValueError(
            f"merge schema mismatch vs v{snap.version} of {path} — updates "
            "must match the table schema exactly")
    key_frame = updates.select(key_col).where(
        F.col(key_col).isNotNull())
    dup = key_frame.groupBy(key_col).count().where("count > 1") \
        .limit(1).collect()
    if dup:
        raise ValueError(
            f"merge_upsert: duplicate update key {dup[0][key_col]!r} — "
            "MERGE INTO requires at most one source row per key")
    key_rows = key_frame.limit(max_keys + 1).collect()
    if len(key_rows) > max_keys:
        raise ValueError(
            f"merge_upsert requires a bounded update-key set (> {max_keys} "
            "distinct keys) — batch the merge")
    keys = sorted(r[key_col] for r in key_rows)

    untouched, untouched_rows, touched = _split_by_keys(
        path, snap, key_col, keys)
    to_write = updates
    if touched:
        survivors = _read_files(spark, path, snap, touched).join(
            F.broadcast(key_frame.distinct()), on=key_col, how="left_anti")
        to_write = survivors.unionByName(updates)
    return _rewrite(path, snap, "merge", untouched, untouched_rows,
                    to_write, updates.schema.json())


def delete_ids(
    spark: SparkSession,
    path: str,
    id_col: str,
    ids,
) -> dict:
    """DELETE (right-to-be-forgotten) as a NEW copy-on-write snapshot:
    every row whose top-level ``id_col`` is in ``ids`` is gone from the
    new version.

    Candidate files come from the pruner :func:`merge_upsert` shares:
    files whose footer [min, max] cannot hold a target are carried into
    the new manifest by reference — never read, their bytes untouched,
    which the tests assert. Candidates are re-read together with the
    anti-filter and staged as new files; a file emptied by the delete
    leaves no 0-row husk. Row counts come from footers, so the result
    reports exact ``rows_deleted`` without a counting job. When no file
    can hold a target nothing is committed. NULL ids are never deleted:
    ``NOT IN`` is three-valued, so they are kept explicitly.

    Deletion requests are bounded (takedowns, opt-outs, eval-set purges),
    so ``ids`` is a driver-held list compiled into one ``NOT IN``. Pair
    with :func:`cluster`: on a clustered table a contiguous id range
    lands in one file (write amplification 1); on a scattered table the
    same delete rewrites every file — ``files_rewritten`` makes the
    difference visible. Raises ValueError when the table has no
    ``id_col`` column: a compliance delete must never silently no-op."""
    from pyspark.sql import functions as F

    snap = _current(path)
    if snap is None:
        raise ValueError(f"{path} has no committed snapshots")
    columns = [f["name"] for f in json.loads(snap.schema_json)["fields"]]
    if id_col not in columns:
        raise ValueError(
            f"delete_ids: no data file of {path} carries column {id_col!r} "
            f"(columns {columns}) — nothing was checked, nothing was deleted")
    keys = sorted(set(ids))
    untouched, untouched_rows, touched = _split_by_keys(
        path, snap, id_col, keys)
    out = {"path": path, "version": snap.version,
           "files_scanned": len(snap.files),
           "files_rewritten": len(touched),
           "files_pruned": len(untouched), "rows_deleted": 0}
    if touched:
        kept = _read_files(spark, path, snap, touched).filter(
            F.col(id_col).isNull() | ~F.col(id_col).isin(keys))
        new = _rewrite(path, snap, "delete", untouched, untouched_rows, kept)
        out.update(version=new.version, rows_deleted=snap.rows - new.rows)
    return out


def _n_files_for(path: str, snap: Snapshot, target_mb: int) -> int:
    total = sum(os.path.getsize(os.path.join(path, f)) for f in snap.files)
    return max(1, -(-total // (target_mb * 1024 * 1024)))


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = DEFAULT_TARGET_MB,
) -> Snapshot | None:
    """``rewrite_data_files`` analog: rewrite the CURRENT file list into
    ≈``target_file_mb`` files as a NEW snapshot with identical rows (the
    streaming sink's many small per-batch files fold into a few
    scan-friendly ones; history keeps the old layout until
    :func:`expire_snapshots` reclaims it). ``coalesce``, not repartition,
    so compaction itself never shuffles. No-op (returns None) when the
    table is already at or under the target file count — an idempotent
    nightly run costs a metadata probe."""
    snap = _current(path)
    if snap is None or len(snap.files) <= 1:
        return None
    n = _n_files_for(path, snap, target_file_mb)
    if n >= len(snap.files):
        return None
    df = _read_files(spark, path, snap, snap.files).coalesce(int(n))
    return _rewrite(path, snap, "compact", [], 0, df)


def cluster(
    spark: SparkSession,
    path: str,
    cluster_by,
    n_files: int | None = None,
) -> Snapshot | None:
    """OPTIMIZE ... ZORDER BY analog: rewrite the CURRENT snapshot in
    cluster-key order as a NEW snapshot — ``repartitionByRange(n, keys)``
    (the distributed range sort: one sampled shuffle, the price OPTIMIZE
    ZORDER pays too) → ``sortWithinPartitions``. Compaction fixes file
    COUNT; clustering fixes file CONTENT: per-file (and per-row-group)
    parquet min/max footers go tight and disjoint, so any stats-aware
    reader — Spark's pushed filters, DuckDB, Trino, and this module's
    merge/delete pruner — skips everything outside a key's range.

    ``cluster_by`` is a list of column names or Column expressions (pass
    ``[z_value([...])]`` for multi-dimensional clustering). ``n_files``
    defaults to the compaction target size. Returns None for an empty
    table; audit the result with :func:`clustering_stats`."""
    from pyspark.sql import functions as F

    snap = _current(path)
    if snap is None or not snap.files:
        return None
    keys = [F.col(c) if isinstance(c, str) else c for c in cluster_by]
    n = n_files or _n_files_for(path, snap, DEFAULT_TARGET_MB)
    df = (_read_files(spark, path, snap, snap.files)
          .repartitionByRange(int(n), *keys).sortWithinPartitions(*keys))
    return _rewrite(path, snap, "cluster", [], 0, df)


def z_value(cols, bits: int = 16):
    """Morton/Z-order value: interleave the low ``bits`` bits of each
    non-negative integer column — the multi-dimensional cluster key
    (Z-ORDER proper; a lexicographic sort clusters only its leading
    column). Pure shift/mask column math, whole-stage codegen'd; callers
    quantize real-valued or unbounded columns into [0, 2^bits) first
    (e.g. ``quantize``). Out-of-range inputs CLAMP to the boundary bucket
    (monotone, locality-preserving) rather than silently interleaving
    their high/sign bits into collisions with in-range keys; NULL inputs
    yield a NULL z (they range-partition first, as a plain sort key
    would). bits × n_cols must fit a long (≤ 63)."""
    from pyspark.sql import functions as F

    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"z_value needs bits*cols <= 63, got {bits}*{n}")
    top = (1 << bits) - 1
    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            c = F.col(c) if isinstance(c, str) else c
            clamped = F.greatest(
                F.lit(0).cast("long"),
                F.least(F.lit(top).cast("long"), c.cast("long")),
            )
            # greatest/least SKIP nulls; restore null propagation so a
            # null coordinate gives a null z, never a fake max position
            clamped = F.when(c.isNull(), F.lit(None)).otherwise(clamped)
            bit = F.shiftright(clamped, b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * n + i))
    return out


def quantize(col, lo: float, hi: float, bits: int = 16):
    """Map [lo, hi] linearly onto [0, 2^bits) for ``z_value`` (clamped).
    NULL stays NULL — Spark's greatest/least skip nulls, which would
    otherwise silently quantize null rows to the TOP bucket."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    top = (1 << bits) - 1
    scaled = F.floor(
        (c.cast("double") - F.lit(float(lo)))
        / F.lit((hi - lo) or 1.0) * F.lit(float(top + 1))
    ).cast("long")
    clamped = F.greatest(F.lit(0), F.least(F.lit(top), scaled))
    return F.when(c.isNull(), F.lit(None)).otherwise(clamped)


def clustering_stats(path: str, column: str) -> dict:
    """Per-file footer [min, max] ranges of top-level ``column`` over the
    CURRENT snapshot's files, and how clustered they are:
    ``overlapping_pairs`` counts file pairs whose ranges intersect (0 =
    perfectly clustered — any stats-aware scan touches at most one file
    per point predicate), and ``max_files_for_point`` is the worst-case
    number of files a point lookup must read. Files without usable
    statistics are not counted. Driver-side footer metadata only — the
    same cost as a planner listing; no data pages are read."""
    snap = _current(path)
    if snap is None:
        raise ValueError(f"{path} has no committed snapshots")
    ranges = sorted(rng for _, _, rng in
                    _footer_ranges(path, snap.files, column)
                    if rng is not None)
    overlaps = 0
    for i in range(len(ranges)):
        for j in range(i + 1, len(ranges)):
            if ranges[j][0] > ranges[i][1]:
                break  # sorted by min: no later file can overlap i either
            overlaps += 1
    # worst-case point fan-out: how many ranges contain some single value —
    # bounded by scanning range endpoints
    max_point = 0
    for lo, _ in ranges:
        covering = sum(1 for l2, h2 in ranges if l2 <= lo <= h2)
        max_point = max(max_point, covering)
    return {
        "n_files": len(ranges),
        "overlapping_pairs": overlaps,
        "max_files_for_point": max_point,
        "ranges": ranges,
    }


def rollback(path: str, version: int) -> Snapshot:
    """Commit a NEW version whose content is ``version``'s file list —
    history stays append-only (Iceberg rollback_to_snapshot). The running
    ``batch_seqs`` are carried from CURRENT, not the rollback target: a
    replay of a rolled-back batch stays a no-op (re-ingest deliberately,
    with fresh batch ids). The file list is exactly the old one, so the
    old manifest stats stay valid and are kept — dropping them would
    silently kill pruning AND the append-inheritance chain for the whole
    table."""
    old = _load_manifest(path, version)
    return _commit_next(path, _current(path), f"rollback-to-v{version}",
                        old.files, old.rows, old.file_stats,
                        old.schema_json)


def expire_snapshots(
    path: str,
    keep_last: int = 2,
    orphan_grace_sec: float = 86_400.0,
) -> dict:
    """Drop all but the last ``keep_last`` snapshots, delete data files no
    surviving manifest references, and sweep what crashed or
    conflict-losing commits left behind: ORPHANED data files no manifest
    ever referenced, ``_stage-*`` dirs, and ``_snapshots/.tmp-*`` manifest
    temps (they otherwise leak forever). Leftovers are only
    removed once older than ``orphan_grace_sec`` (by mtime) so the sweep
    can never race an in-flight commit that has staged its files but not
    yet linked its manifest. The current version always survives.
    Returns {expired_versions, deleted_files, orphans_deleted}."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    hist = snapshots(path)
    out = {"expired_versions": [], "deleted_files": 0, "orphans_deleted": 0}
    if len(hist) > keep_last:
        keep = hist[-keep_last:]
        keep_versions = {s.version for s in keep}
        expired = [s for s in hist if s.version not in keep_versions]
        referenced = {f for s in keep for f in s.files}
        for s in expired:
            for f in s.files:
                if f not in referenced:
                    try:
                        os.remove(os.path.join(path, f))
                        out["deleted_files"] += 1
                    except FileNotFoundError:
                        pass
            os.remove(_manifest_path(path, s.version))
        out["expired_versions"] = [s.version for s in expired]
        hist = keep
    # orphan sweep: leftovers referenced by NO surviving manifest
    referenced = {f for s in hist for f in s.files}

    def listed(sub, is_leftover):
        d = os.path.join(path, sub)
        if not os.path.isdir(d):
            return []
        return [os.path.join(d, n) for n in os.listdir(d) if is_leftover(n)]

    leftovers = (
        listed("", lambda n: n.startswith("_stage-"))
        + listed("data", lambda n: n.endswith(".parquet")
                 and os.path.join("data", n) not in referenced)
        + listed("_snapshots", lambda n: n.startswith(".tmp-")))
    now = time.time()
    for p in leftovers:
        try:
            if now - os.path.getmtime(p) < orphan_grace_sec:
                continue
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
            out["orphans_deleted"] += 1
        except FileNotFoundError:
            pass
    return out
