"""Incremental curve clustering: rewrite only what lost sorted-ness.

A full ``cluster()`` rewrite is O(table) — at 10^12 clips that is a
job you schedule, not a maintenance heartbeat. This operator is the
heartbeat: after an initial full clustering it rewrites ONLY

1. **newcomers** — data files written since the last clustering
   (ingest appends, CoW merge output): they carry no curve-key
   bounds in the manifest, so they are unsorted by definition; and
2. **overlap components** — connected groups of ≥2 sorted files
   whose curve-key ranges intersect (left behind by a previous
   budget-capped run), plus sorted files that newcomer rows land in.

Everything else is carried over by the replace commit at zero IO.
This is the same contract as Iceberg's sort-strategy
``rewriteDataFiles`` with ``rewrite-all=false`` (the reference has no
clustering maintenance at all — compaction only,
``destination/iceberg`` writes unsorted files).

Convergence: an overlap component is rewritten WHOLE, so its span
becomes internally disjoint and — by definition of a connected
component — nothing outside the component overlaps that span. Each
run therefore strictly reduces the overlap count; with no new data
the fixpoint (every sorted file range disjoint) is reached and the
operator reports a no-op. ``max_bytes`` caps a single run's rewrite
volume (newcomers are always included — deferring them never gets
cheaper); remaining components wait for the next heartbeat.

State: the full clustering records ``cluster.curve`` and
``cluster.bounds`` (the min-max normalization window of the curve
axes) in table properties, and tracks the written ``__curve_key``
column's per-file min/max in the manifest. Incremental runs MUST
reuse the recorded bounds — keys computed under different
normalization are incomparable. Files rewritten by merge/compaction
lose the key column (scan schema drops it) and correctly re-enter as
newcomers.

Read amplification is the operator's health metric: the expected
number of sorted files whose key range covers a uniformly random
point of the global span (1.0 = perfectly disjoint). Newcomers count
as covering the whole span — the honest worst case for a file with
no recorded order.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import functions as F

from olake_spark.functions.zcurve import (
    KEY_VERSIONS,
    hilbert_key_udf,
    zorder_key_cols,
    zorder_key_udf,
)
from olake_spark.operators.clustering import (
    BOUNDS_PROP,
    CURVE_PROP,
    KEY_COL,
    RANGE_COL,
    VERSION_PROP,
    _assign_range_udf,
    _plan_ranges,
    cluster,
)
from olake_spark.plans.lineage import LineageManifest
from olake_spark.session import local_df
from olake_spark.table.table import Table


def _key_bounds(entry) -> tuple[int, int] | None:
    lo = entry.lower_bounds.get(KEY_COL)
    hi = entry.upper_bounds.get(KEY_COL)
    if lo is None or hi is None:
        return None
    return int(lo), int(hi)


def _overlap_components(sorted_entries) -> list[list]:
    """Connected components of interval overlap, by sweep line over
    entries sorted on their key lower bound. Manifest-scale."""
    evs = sorted(sorted_entries, key=lambda e: _key_bounds(e)[0])
    comps: list[list] = []
    cur: list = []
    cur_hi = None
    for e in evs:
        lo, hi = _key_bounds(e)
        if cur and lo <= cur_hi:
            cur.append(e)
            cur_hi = max(cur_hi, hi)
        else:
            if cur:
                comps.append(cur)
            cur, cur_hi = [e], hi
    if cur:
        comps.append(cur)
    return comps


def read_amplification(entries) -> float:
    """Expected #files covering a uniformly random point of the global
    sorted-key span; files without key bounds count as covering the
    whole span. 1.0 = perfectly disjoint ranges."""
    bounded = [b for b in (_key_bounds(e) for e in entries) if b is not None]
    unbounded = sum(1 for e in entries if _key_bounds(e) is None)
    if not bounded:
        return float(len(entries))
    g_lo = min(b[0] for b in bounded)
    g_hi = max(b[1] for b in bounded)
    span = max(g_hi - g_lo, 1)
    cover = sum(min(hi, g_hi) - max(lo, g_lo) for lo, hi in bounded)
    return cover / span + unbounded


def _key_udf_for(curve: str, bounds: dict):
    d_lo, d_hi = bounds["dur_ms"]
    s_lo, s_hi = bounds["sr_hz"]
    if curve == "zorder":
        return zorder_key_udf(d_lo, d_hi, s_lo, s_hi), zorder_key_cols()
    if curve == "hilbert":
        return hilbert_key_udf(d_lo, d_hi, s_lo, s_hi), ["dur_ms", "sr_hz"]
    raise ValueError(f"unknown curve {curve!r}")


def _select_components(t: Table, key_udf, key_cols, sorted_e, new_e, comps, max_bytes) -> list:
    """The sorted files to rewrite along with the newcomers ``new_e``:
    whole overlap components, best rows-landed-per-byte first, within
    ``max_bytes``."""
    # where do newcomer rows land? One NARROW pass over newcomers only
    # (curve-axis columns, never the payload): compute keys, range-join
    # against broadcast manifest bounds for per-file hit counts, plus
    # the newcomers' global key span [k_min, k_max].
    hit_counts: dict[str, int] = {}
    new_span: tuple[int, int] | None = None
    if new_e:
        nk = (
            t.scan(entries=new_e)
            .select(key_udf(*[c if not isinstance(c, str) else F.col(c) for c in key_cols]).alias("__k"))
        )
        if sorted_e:
            bdf = local_df(
                t.spark,
                [(e.path, *_key_bounds(e)) for e in sorted_e],
                "path string, lo long, hi long",
            )
            agg = (
                nk.join(
                    F.broadcast(bdf),
                    (F.col("__k") >= F.col("lo")) & (F.col("__k") <= F.col("hi")),
                    "left",
                )
                .groupBy("path")
                .agg(F.count("*").alias("n"), F.min("__k").alias("klo"), F.max("__k").alias("khi"))
                .collect()
            )
            if agg:  # empty newcomer files -> no rows, no span
                klo = min(r["klo"] for r in agg)
                khi = max(r["khi"] for r in agg)
                new_span = (int(klo), int(khi))
                hit_counts = {r["path"]: r["n"] for r in agg if r["path"] is not None}

    # selection: whole components only (convergence — a rewritten
    # component's span is internally disjoint and nothing outside it
    # overlaps that span). A component qualifies when it overlaps
    # internally OR intersects the newcomers' key span: newcomer rows
    # will be fanned out across that span, so any sorted file inside it
    # must join the rewrite or the new layout would overlap it.
    def _comp_span(c):
        bs = [_key_bounds(e) for e in c]
        return min(b[0] for b in bs), max(b[1] for b in bs)

    def _intersects_new(c):
        if new_span is None:
            return False
        lo, hi = _comp_span(c)
        return lo <= new_span[1] and new_span[0] <= hi

    def comp_score(c):
        in_rows = sum(hit_counts.get(e.path, 0) for e in c)
        return (in_rows + 1) * (len(c)) / max(sum(e.file_size_bytes for e in c), 1)

    candidates = sorted(
        (c for c in comps if len(c) > 1 or _intersects_new(c)),
        key=comp_score,
        reverse=True,
    )
    selected: list = []
    budget = max_bytes if max_bytes is not None else float("inf")
    spent = 0
    for c in candidates:
        c_bytes = sum(e.file_size_bytes for e in c)
        if selected and spent + c_bytes > budget:
            continue
        selected.extend(c)
        spent += c_bytes
        if spent > budget:
            break

    return selected


def cluster_incremental(
    table: Table,
    curve: str | None = None,
    target_size: int | None = None,
    skew_cap: float = 2.0,
    sample_rows: int = 100_000,
    max_bytes: int | None = None,
    lineage: LineageManifest | None = None,
    stage: str | None = None,
    row_weight: str = "length(bytes) + 64",
) -> dict:
    """Restore curve clustering by rewriting only unsorted/overlapping
    files. Returns metrics with ``mode`` ∈ {full, noop, incremental}.

    ``max_bytes`` caps the sorted bytes pulled into one run (newcomer
    bytes are always rewritten; at least one overlap component is
    always taken so every run makes progress).
    """
    stage = stage or f"cluster-incr-{curve or 'auto'}"
    if lineage is not None and lineage.stage_complete(stage):
        return {"skipped": True, "snapshot_id": lineage.stage_snapshot(stage)}

    state_curve = table.meta.properties.get(CURVE_PROP)
    state_bounds = table.meta.properties.get(BOUNDS_PROP)
    state_version = table.meta.properties.get(VERSION_PROP)
    if state_curve is None or state_bounds is None or (
        curve is not None and curve != state_curve
    ) or (
        state_curve is not None
        and state_version != str(KEY_VERSIONS.get(state_curve, -1))
    ):
        # a KEY_VERSION mismatch means the persisted __curve_key bounds
        # were computed with a different hash than this build produces —
        # range-joining new keys against them would silently mis-detect
        # overlap, so re-bootstrap instead of comparing key spaces.
        # bootstrap (or curve change): one full clustering records the
        # curve state this operator maintains from then on; a version
        # re-bootstrap keeps the table's recorded curve
        m = cluster(
            table,
            curve=curve or state_curve or "zorder",
            target_size=target_size,
            skew_cap=skew_cap,
            sample_rows=sample_rows,
            lineage=lineage,
            stage=stage,
            row_weight=row_weight,
        )
        m["mode"] = "full"
        return m

    curve = state_curve
    bounds = json.loads(state_bounds)
    target_size = target_size or table.target_file_size

    plan: dict = {}

    def attempt(t: Table):
        # clustered rewrites bump sequence numbers past live equality
        # deletes — fold first (same contract as cluster/compact)
        from olake_spark.operators.merge import fold_deletes

        fold_deletes(t, target_file_size=target_size)
        entries = plan["entries"] = t.entries()
        sorted_e = [e for e in entries if _key_bounds(e) is not None]
        new_e = [e for e in entries if _key_bounds(e) is None]
        comps = _overlap_components(sorted_e) if sorted_e else []
        if not new_e and not any(len(c) > 1 for c in comps):
            return None
        key_udf, key_cols = _key_udf_for(curve, bounds)
        rewrite = plan["rewrite"] = new_e + _select_components(
            t, key_udf, key_cols, sorted_e, new_e, comps, max_bytes
        )
        if not rewrite:
            return None
        total_bytes = sum(e.file_size_bytes for e in rewrite)
        total_rows = sum(e.record_count for e in rewrite) or 1
        n_ranges = max(1, math.ceil(total_bytes / target_size))

        keyed = t.scan(entries=rewrite).withColumn(
            KEY_COL, key_udf(*[c if not isinstance(c, str) else F.col(c) for c in key_cols])
        )
        boundaries, salt_counts = _plan_ranges(
            keyed, total_bytes, total_rows, n_ranges, sample_rows, row_weight, skew_cap
        )
        assign = _assign_range_udf(boundaries, salt_counts)
        ranged = keyed.withColumn(RANGE_COL, assign(F.col(KEY_COL), F.col(t.key)))
        n_groups = len(boundaries) + 1 + sum(salt_counts.values())
        new_entries = t.write_datafiles(
            ranged,
            fanout_col=RANGE_COL,
            num_groups=max(n_groups, n_ranges),
            sort_within=[KEY_COL],
            extra_stats_cols=[KEY_COL],
        )
        return {e.path for e in rewrite}, new_entries, {
            "operation": f"cluster-incr-{curve}",
            "summary": {
                "newcomers": len(new_e),
                "overlap-files": len(rewrite) - len(new_e),
                "carried-over": len(entries) - len(rewrite),
            },
        }

    done = table.rewrite(attempt)
    entries = plan["entries"]
    read_amp_before = read_amplification(entries)
    if done is None:
        return {"mode": "noop", "files": 0, "read_amp": round(read_amp_before, 3)}
    snap, new_entries = done
    rewrite = plan["rewrite"]
    metrics = {
        "mode": "incremental",
        "snapshot_id": snap.snapshot_id,
        "files_in": len(rewrite),
        "files_total": len(entries),
        "files_out": len(new_entries),
        "bytes_in": sum(e.file_size_bytes for e in rewrite),
        "bytes_table": sum(e.file_size_bytes for e in entries),
        "newcomers": snap.summary["newcomers"],
        "overlap_files": snap.summary["overlap-files"],
        "carried_over": snap.summary["carried-over"],
        "read_amp_before": round(read_amp_before, 3),
        "read_amp_after": round(read_amplification(table.entries()), 3),
    }
    if lineage is not None:
        lineage.complete(stage, "cluster_incremental", snap.snapshot_id, new_entries)
    return metrics
