"""Snapshot-manifest table layer — the Iceberg-shaped commit log the
north rule's "resumable from Iceberg snapshot checkpoints" maps to,
implemented over plain parquet so it runs in this sandbox and swaps
1:1 for a real Iceberg catalog on a cluster.

An Iceberg table is data files + an immutable metadata log: each
commit writes a new manifest listing the table's files and stats,
and readers pin a snapshot id. This module reproduces exactly that
dataflow:

  <table>/
    data/<uuid>/part-*.parquet     one directory per committed batch
                                   (hive-style <col>=<v>/ subdirs
                                   under a partition spec)
    _snapshots/v<N>.json           manifest: batch dirs, row counts,
                                   parent snapshot, operation, summary

  commit(spark, df, table, op)  -> snapshot dict (atomic: data lands
                                   first, the manifest rename IS the
                                   commit — readers never see a
                                   half-written batch)
  read(spark, table, snapshot_id=None)
                                -> DataFrame AT a snapshot (time
                                   travel; default = current)
  snapshots(table)              -> the log, oldest→newest
  read_or_none(spark, table)    -> current DataFrame, or None for a
                                   table with no commits yet
  committed_batch_ids(table)    -> batch ids the current snapshot holds
                                   (the jobs' per-batch idempotence key)
  rollback(table, snapshot_id)  -> new snapshot whose file set is the
                                   old one (history is never erased —
                                   the Iceberg rollback contract)

Scale notes: a manifest holds batch-directory paths + counts, never
row data — O(commits), driver-side JSON. Readers plan one parquet
scan over the snapshot's directories (partition pruning and column
pruning work unchanged). Writers append new directories only: no
read-modify-write of data, so commits from a resumed job are
idempotent at the batch level. Reference anchor: this replaces the
reference's overwrite-in-place outputs (orchestrate.py) with an
audit-able append log. Every table the jobs/ scripts write is a
snapshot table, so this is their one commit and crash protocol:
resume anti-joins the CURRENT snapshot's url set, and a crash
between two tables' commits is repaired from the batch ids each
table's head manifest holds.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class CommitConflictError(RuntimeError):
    """Another writer committed the same snapshot version first.

    Real Iceberg fails the losing compare-and-swap against the catalog;
    here the exclusive hard-link of the manifest is the CAS. Retrying
    commit() re-reads the new current snapshot and chains onto it (the
    data batch is already on disk and stays referenced)."""


def _check_local(table: str) -> None:
    # the manifest log uses Path / os.link / os.replace — local FS
    # semantics; on a cluster the layer swaps for a real Iceberg
    # catalog (docs/RUNBOOK.md)
    from ..fsutil import ensure_local_path

    ensure_local_path(table, "sinks/snapshots.py")


def _snap_dir(table: str) -> Path:
    return Path(table) / "_snapshots"


def _load(p: Path) -> dict:
    return json.loads(p.read_text())


def _publish(snap: dict, table: str) -> None:
    """Atomically publish a manifest with conflict detection: write to
    a tmp file, then hard-link it to the final name. os.link fails with
    FileExistsError if the version already exists — the losing writer
    gets CommitConflictError instead of silently clobbering the other
    writer's committed batch (which os.replace would)."""
    d = _snap_dir(table)
    d.mkdir(parents=True, exist_ok=True)
    final = d / f"v{snap['snapshot_id']}.json"
    tmp = d / f".v{snap['snapshot_id']}.{os.getpid()}.json.tmp"
    tmp.write_text(json.dumps(snap, indent=1))
    try:
        os.link(tmp, final)  # the commit point (exclusive CAS)
    except FileExistsError:
        raise CommitConflictError(
            f"snapshot v{snap['snapshot_id']} at {table} was committed by a "
            "concurrent writer; re-read the current snapshot and retry"
        ) from None
    finally:
        tmp.unlink(missing_ok=True)


def snapshots(table: str) -> list[dict]:
    """Commit log, oldest → newest (empty for a fresh table)."""
    _check_local(table)
    d = _snap_dir(table)
    if not d.exists():
        return []
    versions = sorted(
        (int(p.stem[1:]), p) for p in d.glob("v*.json") if p.stem[1:].isdigit()
    )
    return [_load(p) for _, p in versions]


def current_snapshot(table: str) -> dict | None:
    log = snapshots(table)
    return log[-1] if log else None


def _refuse_plain_parquet(table: str) -> None:
    """A directory with parquet files but no `_snapshots/` log is a
    plain-parquet table from an older layout: treating it as empty
    would re-derive everything and mix new batches into its files."""
    root = Path(table)
    if not root.is_dir():
        return
    for p in root.iterdir():
        if p.name in ("data", "_snapshots"):
            continue
        if p.suffix == ".parquet" or (p.is_dir() and any(p.rglob("*.parquet"))):
            raise ValueError(
                f"{table} holds plain parquet files but no snapshot log; "
                "migrate it with sinks.snapshots.commit or use a fresh outdir"
            )


def _held_batch_ids(log: list[dict]) -> list[str]:
    """Batch ids whose rows the head of `log` holds. Each manifest
    carries them forward (`batch_ids`), so compaction and expiry never
    lose them; manifests written before that field existed fall back
    to every summary `batch_id` in the log."""
    if not log:
        return []
    if "batch_ids" in log[-1]:
        return list(log[-1]["batch_ids"])
    ids = [s.get("summary", {}).get("batch_id") for s in log]
    return list(dict.fromkeys(i for i in ids if i))


def commit(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    operation: str = "append",
    summary: dict | None = None,
    partition_by: list[str] | None = None,
    expected_rows: int | None = None,
    parent_id: int | None = None,
) -> dict:
    """Write df as a new immutable batch + manifest. Atomicity: the
    batch directory is fully written before the manifest file is
    moved into place with an atomic rename; a crash before the rename
    leaves an orphan data directory (invisible to every reader) and
    no new snapshot. Concurrent commits race on the manifest version;
    the loser gets CommitConflictError (see _publish), never a silent
    clobber.

    `partition_by` is the table's partition spec (Iceberg's identity
    partitions): the batch is written hive-style under those columns
    and `read` prunes on them. Every commit of a table must use the
    same spec — mixed layouts would make the table unreadable.
    `expected_rows` aborts the commit (nothing published, the batch
    deleted) when the written batch holds a different row count;
    `parent_id` aborts it with CommitConflictError when the table has
    moved past the snapshot the caller read — together they make a
    rewrite of the current snapshot (jobs/compact.py) safe.

    The manifest's `batch_ids` is the parent's plus this commit's
    summary `batch_id`, if any: an append or a merging overwrite adds
    the batch, a compaction (no batch id) keeps the parent's set."""
    import shutil

    _check_local(table)
    spec = list(partition_by or [])
    head = current_snapshot(table)
    if head is None:
        _refuse_plain_parquet(table)
    if head is not None and operation == "append" and head.get("partition_by", []) != spec:
        raise ValueError(
            f"{table} is partitioned by {head.get('partition_by', [])}; "
            f"cannot append a batch partitioned by {spec}"
        )
    batch = f"data/{uuid.uuid4().hex}"
    batch_path = Path(table) / batch
    writer = df.write.mode("error")
    if spec:
        writer = writer.partitionBy(*spec)
    writer.parquet(str(batch_path))
    # footer-count, cheap; an empty partitioned write leaves no files
    has_files = any(batch_path.rglob("*.parquet"))
    n_rows = spark.read.parquet(str(batch_path)).count() if has_files else 0
    log = snapshots(table)
    parent = log[-1] if log else None
    # both aborts remove the batch just written: nothing references it
    if expected_rows is not None and n_rows != expected_rows:
        shutil.rmtree(batch_path, ignore_errors=True)
        raise RuntimeError(
            f"{table}: batch holds {n_rows} rows, expected {expected_rows}; not committed"
        )
    if parent_id is not None and (parent or {}).get("snapshot_id") != parent_id:
        shutil.rmtree(batch_path, ignore_errors=True)
        raise CommitConflictError(
            f"{table} moved past snapshot {parent_id}; re-read and retry"
        )
    batch_ids = _held_batch_ids(log)
    new_id = (summary or {}).get("batch_id")
    if new_id and new_id not in batch_ids:
        batch_ids.append(new_id)
    if operation == "append" and parent is not None:
        files = list(parent["batches"]) + [batch]
        total = parent["total_rows"] + n_rows
    else:  # overwrite (or first commit): new file set
        files = [batch]
        total = n_rows
    snap = {
        "snapshot_id": (parent["snapshot_id"] + 1) if parent else 1,
        "parent_id": parent["snapshot_id"] if parent else None,
        "operation": operation,
        "batches": files,
        # the batch THIS commit added — Iceberg's incremental-scan
        # handle: jobs derive per-batch side tables from it without
        # re-reading the whole table (read_incremental)
        "new_batches": [batch],
        "timestamp_ms": int(time.time() * 1000),
        "batch_rows": n_rows,
        "total_rows": total,
        "partition_by": spec,
        "batch_ids": batch_ids,
        "summary": summary or {},
    }
    _publish(snap, table)
    return snap


def committed_batch_ids(table: str) -> set[str]:
    """The batch ids the current snapshot holds — the idempotence key
    every job uses: a batch whose id is here was applied, so a re-run
    after a crash skips it. Read from the head manifest only, so it
    survives compaction and expire_snapshots."""
    return set(_held_batch_ids(snapshots(table)))


def read_or_none(spark: SparkSession, table: str) -> DataFrame | None:
    """Current table state, or None if nothing is committed yet. A
    corrupt manifest raises, and so does a plain-parquet directory with
    no log: a resume must abort there, not silently start over."""
    if current_snapshot(table) is None:
        _refuse_plain_parquet(table)
        return None
    return read(spark, table)


def read(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """DataFrame at a snapshot (time travel); default = current.
    Raises for an unknown snapshot or an empty table."""
    log = snapshots(table)
    if not log:
        raise FileNotFoundError(f"no snapshots at {table}")
    if snapshot_id is None:
        snap = log[-1]
    else:
        by_id = {s["snapshot_id"]: s for s in log}
        if snapshot_id not in by_id:
            raise KeyError(f"snapshot {snapshot_id} not in {sorted(by_id)}")
        snap = by_id[snapshot_id]
    paths = [str(Path(table) / b) for b in snap["batches"]]
    return spark.read.parquet(*paths)


def read_incremental(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame | None:
    """DataFrame over ONLY the batch a snapshot added (Iceberg
    incremental scan between a snapshot and its parent). Returns None
    for snapshots that added no data (e.g. rollback). Pre-round-4
    manifests without `new_batches` fall back to the full file set of
    a first commit, else None."""
    log = snapshots(table)
    if not log:
        raise FileNotFoundError(f"no snapshots at {table}")
    snap = log[-1] if snapshot_id is None else next(
        (s for s in log if s["snapshot_id"] == snapshot_id), None
    )
    if snap is None:
        raise KeyError(f"snapshot {snapshot_id} not in {[s['snapshot_id'] for s in log]}")
    new = snap.get("new_batches")
    if new is None:
        new = snap["batches"] if snap.get("parent_id") is None else []
    if not new:
        return None
    return spark.read.parquet(*(str(Path(table) / b) for b in new))


def rollback(table: str, snapshot_id: int) -> dict:
    """Make the table's CURRENT state an older snapshot's file set by
    committing a new 'rollback' snapshot pointing at it — history
    stays intact (Iceberg semantics: rollback is itself a commit)."""
    log = snapshots(table)
    by_id = {s["snapshot_id"]: s for s in log}
    if snapshot_id not in by_id:
        raise KeyError(f"snapshot {snapshot_id} not in {sorted(by_id)}")
    target, head = by_id[snapshot_id], log[-1]
    upto = [s for s in log if s["snapshot_id"] <= snapshot_id]
    snap = {
        "snapshot_id": head["snapshot_id"] + 1,
        "parent_id": head["snapshot_id"],
        "operation": "rollback",
        "batches": list(target["batches"]),
        "new_batches": [],
        "timestamp_ms": int(time.time() * 1000),
        "batch_rows": 0,
        "total_rows": target["total_rows"],
        "partition_by": target.get("partition_by", []),
        "batch_ids": _held_batch_ids(upto),
        "summary": {"rolled_back_to": snapshot_id},
    }
    _publish(snap, table)
    return snap


def remove_orphans(table: str, min_age_sec: float = 86400.0) -> dict:
    """Iceberg's remove_orphan_files: delete data directories no
    manifest references — crash-before-commit leftovers and losing
    concurrent writers' batches (their CommitConflictError aborts
    AFTER the data write). Unreferenced directories are invisible to
    every READER, but a directory younger than `min_age_sec` may
    belong to a commit in flight (batch written, manifest not yet
    published) — deleting it would corrupt the manifest published a
    moment later, which is exactly why real Iceberg defaults
    older_than to 3 days. Keep the cutoff comfortably above the
    longest batch-write-to-publish gap. Returns {removed_batches,
    skipped_young}."""
    import shutil

    live = {b for s in snapshots(table) for b in s["batches"]}
    data = Path(table) / "data"
    removed = 0
    skipped = 0
    cutoff = time.time() - min_age_sec
    if data.exists():
        for d in data.iterdir():
            if not d.is_dir() or f"data/{d.name}" in live:
                continue
            try:
                if d.stat().st_mtime > cutoff:
                    skipped += 1
                    continue
            except OSError:
                continue
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
    return {"removed_batches": removed, "skipped_young": skipped}


def expire_snapshots(table: str, keep_last: int = 2) -> dict:
    """Iceberg's expire_snapshots: drop manifests older than the last
    `keep_last` and DELETE data directories no surviving snapshot
    references. Returns {removed_snapshots, removed_batches}."""
    import shutil

    log = snapshots(table)
    if len(log) <= keep_last:
        return {"removed_snapshots": 0, "removed_batches": 0}
    keep, drop = log[-keep_last:], log[:-keep_last]
    live = {b for s in keep for b in s["batches"]}
    dead = {b for s in drop for b in s["batches"]} - live
    for b in dead:
        shutil.rmtree(Path(table) / b, ignore_errors=True)
    for s in drop:
        (_snap_dir(table) / f"v{s['snapshot_id']}.json").unlink(missing_ok=True)
    return {"removed_snapshots": len(drop), "removed_batches": len(dead)}
