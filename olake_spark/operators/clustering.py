"""Z-order / Hilbert clustering with byte-weighted ranges + salting.

Rewrites the table clustered along a space-filling curve over
(clip_id hash, dur_ms, sr_hz) — morton interleave — or (dur_ms, sr_hz)
— Hilbert d2xy — per the north rule. The curve keys come from
vectorized Arrow UDFs (functions/zcurve.py).

Skew handling is explicit, not best-effort:

1. sample (curve_key, payload_bytes) — one pass, fraction tuned to
   ~100k rows;
2. choose range boundaries at equal *cumulative bytes* (not row
   counts) so every range carries ≈ total/n bytes even when payload
   sizes vary wildly;
3. any range still estimated above ``skew_cap`` × median bytes — a
   single hot key value can't be split by boundaries — gets salted:
   its rows spread over ceil(est/median) subranges by murmur3 of the
   identifier (deterministic, no RNG);
4. fanout-write one file per (range, salt), sorted by the curve key
   within each file.

The per-file byte metrics of the result are returned so callers (and
tests) can assert the cap: max file bytes ≤ skew_cap × median.
(Reference has only implicit skew handling via equal-byte chunks,
constants/constants.go:33-34 — this is the principled version.)
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from olake_spark.functions.hashing import mmh3_32_bytes
from olake_spark.functions.zcurve import (
    KEY_VERSIONS,
    hilbert_key_udf,
    zorder_key_cols,
    zorder_key_udf,
)
from olake_spark.plans.lineage import LineageManifest
from olake_spark.table.table import Table

KEY_COL = "__curve_key"
RANGE_COL = "__olake_range"
#: table properties recording clustering state for incremental upkeep
#: (operators/incremental_cluster.py): the curve and the min-max
#: normalization window its keys were computed under
CURVE_PROP = "cluster.curve"
BOUNDS_PROP = "cluster.bounds"
#: which KEY_VERSIONS[curve] the persisted __curve_key stats were computed
#: with — a mismatch means old manifests carry keys from a different
#: hash and incremental upkeep must re-bootstrap with a full pass
VERSION_PROP = "cluster.key_version"


def _bounds(df, cols: list[str], entries=None) -> dict[str, tuple]:
    """Global [min,max] per column — from manifest file stats when every
    file tracks the column (zero data IO), else one narrow agg scan."""
    if entries:
        out = {}
        for c in cols:
            los = [e.lower_bounds.get(c) for e in entries]
            his = [e.upper_bounds.get(c) for e in entries]
            if any(v is None for v in los + his):
                out = None
                break
            out[c] = (min(los), max(his))
        if out is not None:
            return out
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    r = df.agg(*aggs).first()
    return {c: (r[f"lo_{c}"], r[f"hi_{c}"]) for c in cols}


def _plan_ranges(
    keyed,
    total_bytes: int,
    total_rows: int,
    n_ranges: int,
    sample_rows: int,
    row_weight: str,
    skew_cap: float,
):
    """Sample (curve key, est bytes) → byte-weighted range boundaries
    plus salt lane counts for ranges estimated above skew_cap × median.
    One narrow pass over ``keyed``; numpy planning on ≤ sample_rows
    rows driver-side."""
    frac = min(1.0, sample_rows / total_rows)
    sample = (
        keyed.select(KEY_COL, F.expr(row_weight).cast("double").alias("__b"))
        .sample(fraction=frac, seed=42)
        .toPandas()
    )
    if len(sample) == 0:
        sample = keyed.select(
            KEY_COL, F.expr(row_weight).cast("double").alias("__b")
        ).limit(10_000).toPandas()
    keys = sample[KEY_COL].to_numpy(dtype=np.int64)
    wts = sample["__b"].to_numpy(dtype=np.float64)
    order = np.argsort(keys, kind="stable")
    keys, wts = keys[order], wts[order]
    cum = np.cumsum(wts)
    targets = cum[-1] * (np.arange(1, n_ranges) / n_ranges)
    cut_idx = np.searchsorted(cum, targets)
    boundaries = np.unique(keys[np.minimum(cut_idx, len(keys) - 1)])
    # estimated bytes per range (scaled from the sample)
    rid_sample = np.searchsorted(boundaries, keys, side="right")
    scale = total_bytes / max(cum[-1], 1.0)
    est = np.bincount(rid_sample, weights=wts, minlength=len(boundaries) + 1) * scale
    median = max(float(np.median(est[est > 0])), 1.0)
    salt_counts = {
        int(r): int(math.ceil(est[r] / median))
        for r in np.nonzero(est > skew_cap * median)[0]
    }
    return boundaries, salt_counts


def _assign_range_udf(boundaries: np.ndarray, salt_counts: dict[int, int]):
    """range id via searchsorted; hot ranges get a murmur3 salt lane."""
    bounds = boundaries.copy()
    salts = dict(salt_counts)

    @pandas_udf("int")
    def _assign(key: pd.Series, ident: pd.Series) -> pd.Series:
        rid = np.searchsorted(bounds, key.to_numpy(dtype=np.int64), side="right").astype(np.int64)
        if salts:
            enc = [s.encode("utf-8") for s in ident.fillna("").tolist()]
            h = mmh3_32_bytes(enc).view(np.uint32).astype(np.int64)
            out = rid.copy()
            for hot_rid, k in salts.items():
                m = rid == hot_rid
                if m.any():
                    out[m] = hot_rid + (len(bounds) + 1) * (1 + (h[m] % k))
            rid = out
        return pd.Series(rid.astype(np.int32))

    return _assign


def cluster(
    table: Table,
    curve: str = "zorder",
    target_size: int | None = None,
    skew_cap: float = 2.0,
    sample_rows: int = 100_000,
    lineage: LineageManifest | None = None,
    stage: str | None = None,
    row_weight: str = "length(bytes) + 64",
) -> dict:
    """Rewrite the whole table clustered by the chosen curve.

    row_weight: SQL expression estimating a row's stored bytes for the
    byte-weighted boundary sample. The default reads the binary
    payload's length; callers who can derive size from metadata
    columns should (for PCM s16le: ``dur_ms * sr_hz / 500 + 64``) —
    then the sample pass scans only narrow columns, never the payload.
    """
    stage = stage or f"cluster-{curve}"
    if lineage is not None and lineage.stage_complete(stage):
        return {"skipped": True, "snapshot_id": lineage.stage_snapshot(stage)}
    target_size = target_size or table.target_file_size

    def attempt(t: Table):
        # fold live equality deletes first — a clustered rewrite bumps
        # row sequence numbers past live deletes (resurrection); same
        # contract as compact()
        from olake_spark.operators.merge import fold_deletes

        fold_deletes(t, target_file_size=target_size)
        entries = t.entries()
        if not entries:
            return None
        total_bytes = sum(e.file_size_bytes for e in entries)
        total_rows = sum(e.record_count for e in entries) or 1
        n_ranges = max(1, math.ceil(total_bytes / target_size))

        df = t.scan(entries=entries)
        # manifest stats make this free when dur/sr are tracked columns
        b = _bounds(df, ["dur_ms", "sr_hz"], entries=entries)
        if curve == "zorder":
            key_udf = zorder_key_udf(b["dur_ms"][0], b["dur_ms"][1], b["sr_hz"][0], b["sr_hz"][1])
            keyed = df.withColumn(KEY_COL, key_udf(*zorder_key_cols()))
        elif curve == "hilbert":
            key_udf = hilbert_key_udf(b["dur_ms"][0], b["dur_ms"][1], b["sr_hz"][0], b["sr_hz"][1])
            keyed = df.withColumn(KEY_COL, key_udf("dur_ms", "sr_hz"))
        else:
            raise ValueError(f"unknown curve {curve!r}")

        # --- sample pass: (key, est-bytes) → byte-weighted boundaries +
        # skew map. Narrow projection: with a metadata-derived row_weight
        # this reads 3 small columns, never the payload.
        boundaries, salt_counts = _plan_ranges(
            keyed, total_bytes, total_rows, n_ranges, sample_rows, row_weight, skew_cap
        )

        assign = _assign_range_udf(boundaries, salt_counts)
        ranged = keyed.withColumn(RANGE_COL, assign(F.col(KEY_COL), F.col(t.key)))

        # one output file per distinct range id (base ranges + salt lanes);
        # the curve key column stays in the files (scan schema ignores it)
        n_groups = len(boundaries) + 1 + sum(salt_counts.values())
        new_entries = t.write_datafiles(
            ranged,
            fanout_col=RANGE_COL,
            num_groups=max(n_groups, n_ranges),
            sort_within=[KEY_COL],
            extra_stats_cols=[KEY_COL],
        )
        return {e.path for e in entries}, new_entries, {
            "operation": f"cluster-{curve}",
            "summary": {"ranges": len(boundaries) + 1, "salted": len(salt_counts)},
            "properties": {
                CURVE_PROP: curve,
                BOUNDS_PROP: json.dumps(b),
                VERSION_PROP: str(KEY_VERSIONS[curve]),
            },
        }

    done = table.rewrite(attempt)
    if done is None:
        return {"files": 0}
    snap, new_entries = done
    sizes = sorted(e.file_size_bytes for e in new_entries)
    med = sizes[len(sizes) // 2] if sizes else 0
    metrics = {
        "snapshot_id": snap.snapshot_id,
        "files": len(new_entries),
        "ranges": snap.summary["ranges"],
        "salted_ranges": snap.summary["salted"],
        "max_file_bytes": max(sizes) if sizes else 0,
        "median_file_bytes": med,
        "skew_ratio": (max(sizes) / med) if med else 0.0,
        "per_file_bytes": sizes,
    }
    if lineage is not None:
        lineage.complete(stage, "cluster", snap.snapshot_id, new_entries)
    return metrics
