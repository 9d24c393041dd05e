"""Batch ingest (append) with the reference's stream-config surface.

The reference's sync backfill reads source rows, applies the per-stream
user filter (``pkg/jdbc/jdbc.go:564-637``), renders the stream's
``partition_regex`` into a destination sub-path per row
(``types/catalog.go:40-47`` → ``destination/parquet/parquet.go:397-466``)
and appends size-rolled parquet under those directories. ``append_batch``
is that verb over an engine table: filter → schema-align → partitioned
fanout write → manifest entries whose ``partition`` field records the
RAW rendered template sub-path (``a/b``) while the physical layout is
Spark's native Hive-style (``__p0=a/__p1=b``) so any Spark/Hive reader
keeps directory-level partition pruning.
"""

from __future__ import annotations

import re
from urllib.parse import unquote

from pyspark.sql import DataFrame

from olake_spark.functions.transforms import partition_template_segment_cols
from olake_spark.plans.lineage import LineageManifest
from olake_spark.table.table import Table

PART_COL = "__p"


def decode_hive_partition(dir_path: str) -> str:
    """``__p0=2024/__p1=flac`` → ``2024/flac`` (Spark URL-escapes
    special characters in partition values; unquote restores them).
    A segment that rendered '' (empty fallback) is written by Spark as
    the ``__HIVE_DEFAULT_PARTITION__`` sentinel — map it back to ''.
    The joined path is then normalized exactly like
    ``partition_path_template``'s full render (duplicate slashes from
    empty segments collapsed, leading/trailing stripped — the
    filepath.Clean form the reference leaves on disk), so the manifest
    records the SAME raw sub-path the template renders for the row —
    property-tested round-trip in test_properties.py."""
    vals = []
    for seg in dir_path.split("/"):
        if not seg:
            continue
        _, _, v = seg.partition("=")
        v = unquote(v)
        vals.append("" if v == "__HIVE_DEFAULT_PARTITION__" else v)
    return re.sub("/{2,}", "/", "/".join(vals)).strip("/")


def append_batch(
    table: Table,
    df: DataFrame,
    partition_regex: str | None = None,
    lineage: LineageManifest | None = None,
    stage: str = "append",
) -> dict:
    """Append a batch, optionally fanned out by a partition template.

    The caller aligns/filters ``df`` first (cli.cmd_sync does both).
    With ``partition_regex``, each template path segment becomes one
    Hive directory level and the manifest records the rendered raw
    sub-path; without it, rows are split into ranges of ``table.key``
    (``write_datafiles(ranged=True)``) so file bounds stay selective
    for MERGE pruning.
    """
    if lineage is not None and lineage.stage_complete(stage):
        return {"skipped": True, "snapshot_id": lineage.stage_snapshot(stage)}

    if partition_regex:
        seg_cols = partition_template_segment_cols(partition_regex, df)
        part_names = [f"{PART_COL}{i}" for i in range(len(seg_cols))]
        for name, col in zip(part_names, seg_cols):
            df = df.withColumn(name, col)
        entries = table.write_datafiles(
            df,
            partition_by=part_names,
            sort_within=[table.key],
        )
        for e in entries:
            e.partition = decode_hive_partition(e.partition)
    else:
        entries = table.write_datafiles(df, ranged=True)
    snap = table.commit_append(
        entries,
        summary={"op": "append", "partition_regex": partition_regex or ""},
    )
    metrics = {
        "mode": "append",
        "snapshot_id": snap.snapshot_id,
        "files": len(entries),
        "rows": sum(e.record_count for e in entries),
        "partitions": sorted({e.partition for e in entries}),
    }
    if lineage is not None:
        lineage.complete(stage, "append", snap.snapshot_id, entries)
    return metrics
