"""Payload-rewriting maintenance: codec / sample-rate / gain migration.

Training pipelines routinely need every clip on a common footing
(one sample rate, one codec, normalized loudness) — at 10^12 clips
that is a TABLE MAINTENANCE problem, not a query: rewrite the payload
bytes in place, commit atomically, skip everything already conformant.
The reference has no equivalent (its writers pass payloads through
untouched); Iceberg's rewriteDataFiles only re-bins, never transforms.

Scale design:

- **manifest-first selection**: ``entry_filter`` decides per FILE from
  manifest stats whether it can contain non-conformant rows (e.g.
  sr_hz bounds ≠ target rate); conformant files are never read. An
  idempotent re-run selects nothing and commits nothing.
- **row split inside selected files**: ``predicate`` rows go through
  the Arrow-batched transform; the rest pass through byte-identical.
  Both halves ride one union plan into the fanout write.
- **one payload pass**: scan → (transform | passthrough) → key-range
  write (``write_datafiles(ranged=True)``, the layout merge writes) →
  replace commit. Bounds stay tight for future pruning.
- payload work is numpy inside ``mapInPandas`` (no per-row Python).

``fold_deletes`` runs first when equality deletes are live — a rewrite
bumps row sequence numbers past them (same contract as compact/cluster).
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olake_spark.plans.lineage import LineageManifest
from olake_spark.table.table import Table


def rewrite_payload(
    table: Table,
    batch_fn: Callable[[pd.DataFrame], pd.DataFrame],
    predicate: str | None = None,
    entry_filter: Callable | None = None,
    target_file_size: int | None = None,
    lineage: LineageManifest | None = None,
    stage: str = "rewrite-payload",
) -> dict:
    """Rewrite selected files through a schema-preserving pandas
    transform; untouched files carry over at zero IO.

    batch_fn: pandas DataFrame -> pandas DataFrame over the FULL row
    schema (same columns/dtypes out). predicate: SQL filter choosing
    the rows to transform within selected files (others pass through
    unchanged). entry_filter(entry) -> bool: manifest-stats test for
    "this file may contain rows to transform" (None = all files).
    """
    if lineage is not None and lineage.stage_complete(stage):
        return {"skipped": True, "snapshot_id": lineage.stage_snapshot(stage)}
    target_file_size = target_file_size or table.target_file_size

    plan: dict = {}

    def attempt(t: Table):
        # rewritten rows get a newer sequence than any live delete —
        # fold first (same contract as compact/cluster)
        from olake_spark.operators.merge import fold_deletes

        fold_deletes(t, target_file_size=target_file_size)
        entries = t.entries()
        selected = plan["selected"] = [
            e for e in entries if entry_filter is None or entry_filter(e)
        ]
        plan["carried_over"] = len(entries) - len(selected)
        if not selected:
            return None

        df = t.scan(entries=selected)
        schema = df.schema
        if predicate:
            # null-safe split: a NULL predicate row passes through rather
            # than silently vanishing from both branches
            p = F.expr(predicate)
            to_fix = df.filter(p.eqNullSafe(F.lit(True)))
            keep = df.filter(~p.eqNullSafe(F.lit(True)))
        else:
            to_fix, keep = df, None

        fixed = to_fix.mapInPandas(
            lambda batches: (batch_fn(p) for p in batches), schema
        )
        out = fixed.unionByName(keep) if keep is not None else fixed

        total_bytes = sum(e.file_size_bytes for e in selected)
        total_rows = sum(e.record_count for e in selected) or 1
        bytes_per_row = total_bytes / total_rows
        n_files = max(1, math.ceil(total_bytes / target_file_size))
        roll_rows = max(1, int(target_file_size / bytes_per_row))

        new_entries = t.write_datafiles(
            out, ranged=True, num_groups=n_files, max_records_per_file=roll_rows
        )
        return {e.path for e in selected}, new_entries, {
            "operation": stage,
            "summary": {"rewritten-files": len(selected), "carried-over": plan["carried_over"]},
        }

    done = table.rewrite(attempt)
    if done is None:
        return {"mode": "noop", "files": 0, "carried_over": plan["carried_over"]}
    snap, new_entries = done
    metrics = {
        "mode": "rewrite",
        "snapshot_id": snap.snapshot_id,
        "files_in": len(plan["selected"]),
        "files_out": len(new_entries),
        "carried_over": plan["carried_over"],
        "bytes_in": sum(e.file_size_bytes for e in plan["selected"]),
        "rows": sum(e.record_count for e in new_entries),
    }
    if lineage is not None:
        lineage.complete(stage, "rewrite_payload", snap.snapshot_id, new_entries)
    return metrics


def resample_table(
    table: Table,
    sr_out: int = 16000,
    stage: str | None = None,
    **kwargs,
) -> dict:
    """Bring every clip to one sample rate (training-data conformance).

    Linear resample (functions/dsp.resample_linear) of pcm_s16le
    payloads; ``sr_hz`` updated, ``dur_ms``/transcript/metadata
    preserved (duration is rate-invariant). Files whose manifest
    sr_hz bounds equal ``sr_out`` are never read; a second run is a
    metadata-only no-op.
    """
    from olake_spark.functions.audio import decode_pcm_s16le, encode_pcm_s16le
    from olake_spark.functions.dsp import resample_linear

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for b, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
            if codec != "pcm_s16le":
                raise NotImplementedError(f"resample of codec {codec!r}")
            w = decode_pcm_s16le(bytes(b))
            rows.append(encode_pcm_s16le(resample_linear(w, int(sr), sr_out)))
        out = pdf.copy()
        out["bytes"] = rows
        out["sr_hz"] = np.full(len(out), sr_out, dtype=np.int32)
        return out

    def needs_rewrite(e) -> bool:
        lo, hi = e.lower_bounds.get("sr_hz"), e.upper_bounds.get("sr_hz")
        if lo is None or hi is None:
            return True  # no stats -> cannot prove conformance
        return not (int(lo) == int(hi) == sr_out)

    return rewrite_payload(
        table,
        batch,
        predicate=f"sr_hz != {sr_out}",
        entry_filter=needs_rewrite,
        # An explicit stage id (the CLI's "NN-op") keeps two resample
        # stages at the same rate in one job from sharing a lineage
        # entry (the second would be skipped as already complete).
        stage=stage or f"resample-{sr_out}",
        **kwargs,
    )
