"""Snapshot expiry: drop old snapshots, delete newly-orphaned files.

The principled version of the reference's drop/clear destination
(destination/iceberg/iceberg.go:511-557, parquet.go:467-553): history
is trimmed by retention policy, and a file is physically deleted only
when *no retained snapshot* references it — so readers pinned to any
retained snapshot are never broken (snapshot isolation holds across
expiry).
"""

from __future__ import annotations

import os
import time

from olake_spark.table import format as fmt
from olake_spark.table import fsio
from olake_spark.table.table import Table


def _plan(table: Table, keep_last: int, cutoff: int) -> dict:
    """Which snapshots of ``table.meta`` expire, and which files and
    manifests only they reference."""
    meta = table.meta
    ordered = sorted(meta.snapshots, key=lambda s: s.sequence_number, reverse=True)
    retained, expired = [], []
    for i, s in enumerate(ordered):
        if (
            s.snapshot_id == meta.current_snapshot_id
            or i < keep_last
            or s.timestamp_ms >= cutoff
        ):
            retained.append(s)
        else:
            expired.append(s)

    if not expired:
        return {"version": meta.version, "expired": []}

    live_ms = {m for s in retained for m in s.manifests}
    dead_ms = {m for s in expired for m in s.manifests} - live_ms
    live = {e.path for e in fmt.read_manifests(table.location, sorted(live_ms))}
    dead = fmt.read_manifests(table.location, sorted(dead_ms))
    return {
        "version": meta.version,
        "retained": sorted(retained, key=lambda s: s.sequence_number),
        "expired": expired,
        "dead": {e.path: e.file_size_bytes for e in dead if e.path not in live},
        "dead_manifests": dead_ms,
    }


def expire_snapshots(
    table: Table,
    keep_last: int = 1,
    older_than_ms: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Expire snapshots beyond the newest ``keep_last`` that are older
    than ``older_than_ms`` (default: now). The current snapshot is
    always retained. A commit that loses a race plans again against
    the refreshed snapshots (the plan is reused while the metadata
    version is unchanged); files are deleted only after the commit,
    and only those dead in the metadata it committed."""
    cutoff = older_than_ms if older_than_ms is not None else int(time.time() * 1000) + 1
    plan: dict = {}

    def change(t: Table) -> dict | None:
        if plan.get("version") != t.meta.version:
            plan.update(_plan(t, keep_last, cutoff))
        return {"snapshots": plan["retained"]} if plan["expired"] else None

    if dry_run:
        change(table)
    elif table._commit_meta(change, "snapshot expiry") is not None:
        # metadata first (atomic version bump), then physical deletes,
        # each data file with its key-bloom sidecar — a crash between
        # the two leaves only harmless orphans
        for rel in list(plan["dead"]) + sorted(plan["dead_manifests"]):
            fsio.remove_file(os.path.join(table.location, rel))
    if not plan["expired"]:
        return {"expired": 0, "deleted_files": 0, "freed_bytes": 0}
    return {
        "expired": len(plan["expired"]),
        "retained": len(plan["retained"]),
        "deleted_files": len(plan["dead"]),
        "deleted_manifests": len(plan["dead_manifests"]),
        "freed_bytes": sum(plan["dead"].values()),
    }
