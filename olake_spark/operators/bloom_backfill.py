"""Backfill key-bloom sidecars for data files that predate the table's
``write.bloom.column`` opt-in — the from-scratch analog of Iceberg's
"rewrite statistics" (puffin generation) maintenance action.

Sidecars are advisory and never manifest entries (table/bloom.py), so
backfill needs NO snapshot commit: each sidecar write is independently
idempotent, concurrent writers of the same sidecar converge (same
deterministic bytes for the same file), and a crash mid-sweep just
leaves some files still conservatively un-bloomed. That makes the op
trivially resumable — re-running skips files that already have a whole
sidecar for the target column — and safe to run concurrently with
ingest/merge (a new data file gets its sidecar from its own harvest;
this op only ever touches files that are ALREADY live).

The work unit is one file (read its key column, build, write sidecar —
cost ∝ that file's key bytes), fanned out through ``fsio.map_files``
like the footer harvest and the MERGE probe. No shuffle anywhere; the
driver only ever holds the path list and per-file status strings.
"""

from __future__ import annotations

import pyarrow.parquet as papq

from olake_spark.table import bloom as bloom_mod
from olake_spark.table.fsio import fs_for, map_files
from olake_spark.table.table import Table


def _build_one(abs_path: str, shared: tuple[str, float]) -> str:
    """Build+write one file's sidecar; returns a status tag.

    An existing sidecar counts as done only if it parses and covers
    ``col``: a torn write or a sidecar for a previous
    ``write.bloom.column`` is rebuilt.
    """
    col, fpp = shared
    fs, fs_path = fs_for(abs_path)
    existing = bloom_mod.read_sidecar(fs_path, fs=fs)
    if existing is not None:
        parsed = bloom_mod.deserialize(existing)
        if parsed is not None and parsed[0].get("col") == col:
            return "skipped"
    try:
        pf = papq.ParquetFile(fs_path, filesystem=fs)
    except (FileNotFoundError, OSError):
        return "missing"
    try:
        if col not in pf.schema_arrow.names or not bloom_mod.buildable(
            pf.schema_arrow.field(col).type
        ):
            return "unsupported"
        values = pf.read(columns=[col]).column(0)
    finally:
        pf.close()
    payload = bloom_mod.build(col, values, fpp)
    if payload is None:  # file too large to bloom economically
        return "unsupported"
    bloom_mod.write_sidecar(fs_path, payload, fs=fs)
    return "built"


def build_blooms(table: Table, fpp: float | None = None) -> dict:
    """Backfill sidecars for every live data file missing a valid one.

    Requires ``write.bloom.column`` to be set on the table — backfill
    for a column the write path will not maintain would silently decay
    as new files land bloom-less.
    """
    col = table.bloom_col
    if col is None:
        raise ValueError(
            "build_blooms: set the write.bloom.column table property first "
            "(backfill must target the same column the write path maintains)"
        )
    use_fpp = table.bloom_fpp if fpp is None else float(fpp)
    paths = [table.abs_entry_path(e) for e in table.data_entries()]
    statuses = map_files(table.spark, paths, _build_one, (col, use_fpp))
    out = {"files": len(paths), "built": 0, "skipped": 0, "unsupported": 0, "missing": 0}
    for s in statuses:
        out[s] += 1
    return out
