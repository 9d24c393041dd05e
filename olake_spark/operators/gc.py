"""Orphan-file garbage collection: delete physical files no snapshot owns.

Crash-shaped debris is inevitable in a resumable engine: a compaction
wave killed between ``write_datafiles`` and ``commit_replace`` leaves
fully-written parquet under ``data/<uuid>/`` that no manifest will
ever reference (the wave re-runs into a FRESH uuid dir on resume, by
design — see operators/compaction.py wave protocol), and a conflicted
``write_manifest`` can strand a manifest parquet no snapshot points
to. Snapshot expiry (operators/expire.py) cannot see these — it only
deletes files that WERE referenced; this operator sweeps the ones
that never were. Reference analog: the destination clear/cleanup
surface (destination/iceberg/iceberg.go:511-557) plus Iceberg's
``remove_orphan_files`` action semantics, re-expressed Spark-first.

Scale discipline (10^12-clip table = millions of files):

- the physical listing is DISTRIBUTED: the driver lists only the
  immediate children of ``data/`` (one per commit — metadata-scale),
  then executors recursively list each subtree via pyarrow.fs
  (table/fsio.py), emitting ``(rel_path, size, mtime_ms)`` rows
  through Arrow batches — the driver never holds the full file list;
- the live set is read WHERE IT LIVES: manifests are parquet, so
  ``spark.read.parquet(<all live manifests>)`` loads every referenced
  path (data AND equality-delete files, any snapshot) as a DataFrame
  with no driver materialization;
- orphans = listing LEFT ANTI JOIN live set — one hash shuffle on the
  path, cost proportional to the listing, never a collect;
- deletes run on executors (``foreachPartition``-shaped via
  mapInPandas), each task resolving its own FileSystem handle.

Safety: a file is deleted only if (a) unreferenced by EVERY snapshot
in current metadata — refreshed immediately before the sweep — and
(b) older than ``older_than_ms`` (default now − 3 days, Iceberg's
default grace). (b) is what protects in-flight writers: data files
are written BEFORE the commit that references them, so a young
unreferenced file may be a pending commit; an old one cannot be,
because every committed path is referenced forever after (commits
only ever add freshly-uuid'd paths — an unreferenced old file can
never become referenced later). Concurrent-commit race is therefore
structurally impossible, not merely unlikely.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olake_spark.session import local_df
from olake_spark.table.fsio import fs_for, hadoop_literal
from olake_spark.table.table import Table

#: Iceberg's remove_orphan_files default: 3 days. Must exceed the
#: longest plausible write-to-commit window of any in-flight job.
DEFAULT_GRACE_MS = 3 * 24 * 3600 * 1000

_LISTING_SCHEMA = T.StructType(
    [
        T.StructField("rel_path", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("mtime_ms", T.LongType()),
    ]
)


def _list_prefixes(location: str, root: str):
    """Executor-side recursive listing of one or more prefixes.

    Returns a generator of pandas DataFrames (mapInPandas contract).
    ``root`` is the filesystem-native table root; emitted paths are
    location-relative so they join directly against manifest ``path``.
    """
    from pyarrow import fs as pafs

    def gen(batches):
        fs, _ = fs_for(location)
        base = root.rstrip("/") + "/"
        for pdf in batches:
            rows = []
            for prefix in pdf["prefix"]:
                sel = pafs.FileSelector(prefix, recursive=True, allow_not_found=True)
                for info in fs.get_file_info(sel):
                    if info.type != pafs.FileType.File:
                        continue
                    mtime = info.mtime
                    rows.append(
                        {
                            "rel_path": info.path[len(base):]
                            if info.path.startswith(base)
                            else info.path,
                            "size": int(info.size or 0),
                            "mtime_ms": int(mtime.timestamp() * 1000) if mtime else 0,
                        }
                    )
            yield pd.DataFrame(rows, columns=["rel_path", "size", "mtime_ms"])

    return gen


def _delete_files(location: str, root: str):
    """Executor-side batched delete; yields per-batch (count, bytes)."""

    def gen(batches):
        fs, _ = fs_for(location)
        base = root.rstrip("/") + "/"
        for pdf in batches:
            n, b = 0, 0
            for rel, size in zip(pdf["rel_path"], pdf["size"]):
                try:
                    fs.delete_file(base + rel)
                    n += 1
                    b += int(size)
                except FileNotFoundError:
                    pass
            yield pd.DataFrame({"deleted": [n], "bytes": [b]})

    return gen


def companion_join_key() -> "F.Column":
    """Listing row → liveness-lookup key.

    Hadoop write-protocol companions are live by derivation, not by
    manifest entry: a ``.X.crc`` checksum sidecar is live iff ``X`` is
    live (same dir, by construction), a ``X.bloom`` key-bloom sidecar
    (table/bloom.py — advisory, never in the manifest) is live iff its
    data file ``X`` is live, and a ``_SUCCESS``-style marker is live
    iff its COMMIT DIR (``data/<uuid>`` — the Spark job's output root;
    fanout writes put the data files one ``col=val`` level deeper, so
    dirname equality would miss) still holds any live file. One derived
    key covers all four shapes, so the sweep stays a single anti-join.
    The strips COMPOSE: ``.X.bloom.crc`` → ``X.bloom`` → ``X``.
    """
    base_c = F.substring_index("rel_path", "/", -1)
    dirp = F.expr(
        "substring(rel_path, 1, length(rel_path)"
        " - length(substring_index(rel_path, '/', -1)) - 1)"
    )
    commit_dir = F.substring_index("rel_path", "/", 2)
    is_crc = base_c.rlike(r"^\..*\.crc$")
    stripped = F.when(is_crc, F.expr(
        "substring(substring_index(rel_path, '/', -1), 2,"
        " length(substring_index(rel_path, '/', -1)) - 5)"
    )).otherwise(base_c)
    is_bloom = stripped.rlike(r"\.bloom$")
    stripped = F.regexp_replace(stripped, r"\.bloom$", "")
    return (
        F.when(stripped.startswith("_"), F.concat(F.lit("DIR:"), commit_dir))
        .when(is_crc | is_bloom, F.concat(dirp, F.lit("/"), stripped))
        .otherwise(F.col("rel_path"))
    )


def live_join_keys(live_df: "DataFrame") -> "DataFrame":
    """Live-path DataFrame (col ``rel_path``) → distinct ``join_key``
    set: the paths themselves plus a ``DIR:<commit-dir>`` key per
    path so markers in a commit dir with any live file map live."""
    return (
        live_df.unionByName(
            live_df.select(
                F.concat(
                    F.lit("DIR:"), F.substring_index("rel_path", "/", 2)
                ).alias("rel_path")
            )
        )
        .distinct()
        .withColumnRenamed("rel_path", "join_key")
    )


def orphan_candidates(listing: "DataFrame", live_df: "DataFrame") -> "DataFrame":
    """Physical listing ANTI JOIN derived live keys (no age filter)."""
    keyed = listing.withColumn("join_key", companion_join_key())
    return keyed.join(live_join_keys(live_df), on="join_key", how="left_anti")


def remove_orphan_files(
    table: Table,
    older_than_ms: int | None = None,
    dry_run: bool = False,
    sample_limit: int = 100,
) -> dict:
    """Delete files under ``data/`` and ``metadata/manifests/`` that no
    snapshot references and that predate ``older_than_ms``.

    Returns ``{"orphans": n, "deleted_files": n, "freed_bytes": b,
    "deleted_manifests": n, "sample": [...]}``; with ``dry_run`` the
    deletes are skipped but the counts/sample are real.
    """
    spark = table.spark
    location = table.location
    fs, root = fs_for(location)
    cutoff = (
        older_than_ms
        if older_than_ms is not None
        else int(time.time() * 1000) - DEFAULT_GRACE_MS
    )

    # freshest metadata: a commit that landed after the caller loaded
    # the table must still protect its files
    table.refresh()
    meta = table.meta
    live_manifest_rels = sorted({m for s in meta.snapshots for m in s.manifests})

    # ---- live data-file paths, read distributed from the manifests
    if live_manifest_rels:
        live_df = (
            spark.read.parquet(
                *[hadoop_literal(os.path.join(location, m)) for m in live_manifest_rels]
            )
            .select(F.col("path").alias("rel_path"))
            .distinct()
        )
    else:
        live_df = local_df(spark, [], "rel_path string")

    # ---- physical listing of data/: driver sees only the first level
    from pyarrow import fs as pafs

    data_root = root.rstrip("/") + "/data"
    top = fs.get_file_info(pafs.FileSelector(data_root, recursive=False, allow_not_found=True))
    prefixes = [i.path for i in top if i.type == pafs.FileType.Directory]
    base = root.rstrip("/") + "/"
    # files sitting directly under data/ (not in a commit dir) are
    # foreign debris; include them via a zero-depth listing entry each
    loose = [
        (i.path[len(base):], int(i.size or 0),
         int(i.mtime.timestamp() * 1000) if i.mtime else 0)
        for i in top
        if i.type == pafs.FileType.File
    ]
    if prefixes:
        listing = (
            local_df(spark, [(p,) for p in prefixes], "prefix string")
            .repartition(min(len(prefixes), 64))
            .mapInPandas(_list_prefixes(location, root), _LISTING_SCHEMA)
        )
    else:
        listing = local_df(spark, [], _LISTING_SCHEMA)
    if loose:
        listing = listing.unionByName(local_df(spark, loose, _LISTING_SCHEMA))

    orphans = (
        orphan_candidates(listing, live_df)
        .where(F.col("mtime_ms") < F.lit(cutoff))
        .persist()
    )
    try:
        agg = orphans.agg(
            F.count("*").alias("n"), F.coalesce(F.sum("size"), F.lit(0)).alias("b")
        ).collect()[0]
        n_orphans, orphan_bytes = int(agg["n"]), int(agg["b"])
        sample = [
            r["rel_path"]
            for r in orphans.select("rel_path").orderBy("rel_path").limit(sample_limit).collect()
        ]

        deleted_files = freed = 0
        if not dry_run and n_orphans:
            stats = (
                orphans.select("rel_path", "size")
                .mapInPandas(
                    _delete_files(location, root),
                    "deleted long, bytes long",
                )
                .agg(F.sum("deleted").alias("d"), F.sum("bytes").alias("b"))
                .collect()[0]
            )
            deleted_files, freed = int(stats["d"] or 0), int(stats["b"] or 0)
    finally:
        orphans.unpersist()

    # ---- orphan manifests: metadata-scale (O(commits)), driver-side
    live_set = set(live_manifest_rels)
    mdir = root.rstrip("/") + "/metadata/manifests"
    deleted_manifests = 0
    for info in fs.get_file_info(pafs.FileSelector(mdir, recursive=False, allow_not_found=True)):
        if info.type != pafs.FileType.File:
            continue
        rel = info.path[len(base):]
        mtime_ms = int(info.mtime.timestamp() * 1000) if info.mtime else 0
        if rel not in live_set and mtime_ms < cutoff:
            deleted_manifests += 1
            if not dry_run:
                fs.delete_file(info.path)

    # ---- now-empty commit dirs (metadata-scale: one per commit).
    # Age-guarded like the files: an in-flight writer's fresh dir has
    # a young mtime (file creation bumps it), so it is never swept.
    if not dry_run:
        for p in prefixes:
            info = fs.get_file_info(p)
            dir_mtime = int(info.mtime.timestamp() * 1000) if info.mtime else 0
            if dir_mtime >= cutoff:
                continue
            kids = fs.get_file_info(
                pafs.FileSelector(p, recursive=True, allow_not_found=True)
            )
            if not any(k.type == pafs.FileType.File for k in kids):
                try:
                    fs.delete_dir(p)
                except OSError:
                    pass

    return {
        "orphans": n_orphans,
        "deleted_files": deleted_files if not dry_run else 0,
        "freed_bytes": freed if not dry_run else 0,
        "orphan_bytes": orphan_bytes,
        "deleted_manifests": deleted_manifests if not dry_run else 0,
        "orphan_manifests": deleted_manifests,
        "dry_run": dry_run,
        "sample": sample,
    }
