"""Bin-packing compaction: FFD planner → file→bin tags → fanout rewrite.

Small files are grouped per table-partition into ~target-size bins by
the greedy first-fit-decreasing planner (plans/ffd.py). Bins are
written by a pyarrow row-group copy where the inputs allow it
(``_copy_bins``), else by Spark (``_rewrite_bins``): the scan tags every
row with its file's bin id (``Table.scan(tags=...)``, one broadcast
join that raises on a row of no planned file), the rows are
repartitioned on the bin id, and each bin is written as exactly one
output file — one distributed Spark job for the whole plan, no per-bin
driver loop (at 10^5 bins a job-per-bin would be a scheduler DoS).

Reference parity: target data file size 512 MiB
(arrow-writer/utils.go:22, rolling writer writer.go:195-222); our
compactor enforces the same target after the fact. Resumable via the
lineage manifest in *waves* (one commit per wave ≙ chunk
remove-on-complete, drivers/abstract/backfill.go:60-64).
"""

from __future__ import annotations

import os
import uuid
from collections import defaultdict

from olake_spark.plans.ffd import Bin, first_fit_decreasing
from olake_spark.plans.lineage import LineageManifest
from olake_spark.table.format import DataFileEntry
from olake_spark.table.stats import file_entry
from olake_spark.table.table import Table

FANOUT_COL = "__olake_bin"

#: coalesce copied row groups to about this much (uncompressed) before
#: flushing — compaction inputs are SMALL files (often one tiny row
#: group each); carrying their row-group boundaries into the output
#: verbatim would bloat footers and scan granularity
COPY_ROW_GROUP_BYTES = 64 << 20


def plan_compaction(
    entries: list[DataFileEntry],
    target_size: int,
    small_ratio: float = 0.75,
) -> list[Bin]:
    """FFD over files smaller than small_ratio × target, per partition."""
    by_partition: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for e in entries:
        if e.file_size_bytes < target_size * small_ratio:
            by_partition[e.partition].append((e.path, e.file_size_bytes))
    bins: list[Bin] = []
    for part in sorted(by_partition):
        for b in first_fit_decreasing(by_partition[part], target_size):
            b.bin_id = len(bins)
            bins.append(b)
    return bins


def _copy_bins(table: Table, bins: list[Bin], entry_by_path: dict[str, DataFileEntry]):
    """Row-group COPY path: each bin is one executor task that streams
    its input files' row groups through pyarrow into one output file —
    no Spark row conversion, no shuffle, no JVM in the byte path.

    Compaction is pure data movement (the bin plan fixes the output
    grouping before any byte is read), so the Spark tagged-scan
    →fanout-write plan of ``_rewrite_bins`` pays for machinery it does
    not need: every payload byte crosses parquet→InternalRow→shuffle
    writer→parquet. Here the byte path is parquet→Arrow→parquet inside
    one C++ pipeline per bin; per-byte CPU and memory-bandwidth cost
    drops accordingly, which is exactly the resource the pure byte-copy
    stage saturates first at high parallelism (BENCH_SCALING_r3:
    compact 2.65× of 4× while CPU-dense stages reached 3.7×).

    Preconditions (checked by the caller): no live equality-delete
    files (compact prefolds), and every file in a bin shares one
    physical schema — a task that finds mixed schemas returns a
    ``fallback`` marker and the caller reroutes those bins through the
    Spark rewrite. Inputs are concatenated in key-lower-bound order, so
    each output file keeps a usable (if wider) min/max range; the
    output entry's stats are harvested from the real footer by the same
    ``file_entry`` the Spark write path uses, so manifests cannot
    drift between the two paths.
    """
    from olake_spark.table.fsio import fs_for

    spark = table.spark
    commit_dir = uuid.uuid4().hex
    out_dir = os.path.join(table.location, "data", commit_dir)
    # byte I/O goes through pyarrow.fs (LocalFileSystem for plain
    # paths) so the copy path works against any from_uri storage
    loc_fs, _ = fs_for(table.location)
    loc_fs.create_dir(fs_for(out_dir)[1], recursive=True)

    def _lower(p: str):
        # NATIVE value ordering: str() would order numeric keys
        # lexicographically (10 < 2 < 9), widening the output file's
        # key range and weakening merge narrow-pass pruning
        v = entry_by_path[p].lower_bounds.get(table.key)
        return (v is None, v)

    def _lower_str(p: str):
        v = _lower(p)[1]
        return (v is None, str(v))

    specs = []
    for b in bins:
        try:
            inputs = sorted((p for p, _ in b.items), key=_lower)
        except TypeError:  # mixed bound types across files
            inputs = sorted((p for p, _ in b.items), key=_lower_str)
        parts = {entry_by_path[p].partition for p in inputs}
        partition = parts.pop() if len(parts) == 1 else ""
        specs.append(
            (
                b.bin_id,
                os.path.join(out_dir, f"bin-{b.bin_id:05d}.parquet"),
                [table.abs_entry_path(entry_by_path[p]) for p in inputs],
                partition,
            )
        )

    location = table.location
    stats_cols = table.stats_cols
    rg_bytes = COPY_ROW_GROUP_BYTES
    bloom_col = table.bloom_col
    bloom_fpp = table.bloom_fpp

    def copy_bin(items):
        import pyarrow as pa
        import pyarrow.parquet as papq

        from olake_spark.table.fsio import fs_for as _fs_for

        # one filesystem per task, rebuilt from the path string (never
        # a driver-pickled handle — credentials/connections don't ship)
        fs = _fs_for(location)[0]

        def _readable_ts(schema: "pa.Schema") -> "pa.Schema":
            # Spark writes INT96 timestamps, which Arrow reads back as
            # timestamp[ns]; re-writing those as INT64 TIMESTAMP(NANOS)
            # is unreadable to Spark. Coerce all timestamp fields to
            # microseconds — the standard TIMESTAMP(MICROS) every
            # reader understands.
            fields = []
            for f in schema:
                if pa.types.is_timestamp(f.type):
                    f = f.with_type(pa.timestamp("us", tz=f.type.tz))
                fields.append(f)
            return pa.schema(fields, metadata=schema.metadata)

        for bin_id, out_abs, inputs, partition in items:
            pfs = [papq.ParquetFile(_fs_for(p)[1], filesystem=fs) for p in inputs]
            schema = pfs[0].schema_arrow
            if any(pf.schema_arrow != schema for pf in pfs[1:]):
                for pf in pfs:
                    pf.close()
                yield ("fallback", bin_id, None)
                continue
            out_schema = _readable_ts(schema)
            writer = papq.ParquetWriter(
                _fs_for(out_abs)[1], out_schema, filesystem=fs, compression="zstd"
            )
            buf, buf_rows, buf_bytes = [], 0, 0

            def flush():
                nonlocal buf, buf_rows, buf_bytes
                if buf:
                    t = pa.concat_tables(buf)
                    if t.schema != out_schema:
                        t = t.cast(out_schema)
                    writer.write_table(t, row_group_size=buf_rows)
                    buf, buf_rows, buf_bytes = [], 0, 0

            for pf in pfs:
                for rg in range(pf.metadata.num_row_groups):
                    t = pf.read_row_group(rg)
                    buf.append(t)
                    buf_rows += t.num_rows
                    buf_bytes += pf.metadata.row_group(rg).total_byte_size
                    if buf_bytes >= rg_bytes:
                        flush()
                pf.close()
            flush()
            writer.close()
            # key-bloom sidecar for the compacted file, still without
            # decoding the key column: fold+OR the inputs' sidecars
            # (table/bloom.py — power-of-two widths make the fold a
            # pure OR, so no false negatives can be introduced). Only
            # when an input sidecar is missing/invalid or the merged
            # bloom would be uselessly dense does file_entry rebuild it
            # from the output file's key column.
            harvest_bloom_col = None
            if bloom_col is not None:
                from olake_spark.table import bloom as B

                payloads = [B.read_sidecar(_fs_for(p)[1], fs=fs) for p in inputs]
                merged = None
                if all(pl is not None for pl in payloads):
                    merged = B.or_merge(payloads)  # type: ignore[arg-type]
                if merged is not None:
                    B.write_sidecar(_fs_for(out_abs)[1], merged, fs=fs)
                else:
                    harvest_bloom_col = bloom_col
            e = file_entry(
                out_abs, os.path.relpath(out_abs, location), partition, stats_cols,
                harvest_bloom_col, bloom_fpp,
            )
            yield (
                "ok",
                bin_id,
                (
                    e.path,
                    e.partition,
                    e.record_count,
                    e.file_size_bytes,
                    e.lower_bounds,
                    e.upper_bounds,
                ),
            )

    sc = spark.sparkContext
    n_slices = min(len(specs), sc.defaultParallelism)
    results = sc.parallelize(specs, n_slices).mapPartitions(copy_bin).collect()

    copied_paths: list[str] = []
    new_entries: list[DataFileEntry] = []
    fallback_ids: set[int] = set()
    by_id = {b.bin_id: b for b in bins}
    for status, bin_id, payload in sorted(results, key=lambda r: r[1]):
        if status == "fallback":
            fallback_ids.add(bin_id)
            continue
        p, pt, rc, sz, lo, hi = payload
        new_entries.append(
            DataFileEntry(
                path=p,
                partition=pt,
                record_count=rc,
                file_size_bytes=sz,
                lower_bounds=lo,
                upper_bounds=hi,
            )
        )
        copied_paths.extend(pp for pp, _ in by_id[bin_id].items)

    if fallback_ids:
        fb_paths, fb_entries = _rewrite_bins(
            table, [by_id[i] for i in sorted(fallback_ids)], entry_by_path
        )
        copied_paths.extend(fb_paths)
        new_entries.extend(fb_entries)

    expected = sum(entry_by_path[p].record_count for p in copied_paths)
    got = sum(e.record_count for e in new_entries)
    if got != expected:
        raise RuntimeError(
            f"compaction copy row mismatch: planned {expected} rows, "
            f"wrote {got} — aborting before commit"
        )
    return copied_paths, new_entries


def _rewrite_bins(table: Table, bins: list[Bin], entry_by_path: dict[str, DataFileEntry]):
    """One Spark job: read all binned files, each tagged with its bin
    (scan's ``tags``), fanout-write one file per bin."""
    paths = [p for b in bins for p, _ in b.items]
    src_entries = [entry_by_path[p] for p in paths]
    bin_of = {p: b.bin_id for b in bins for p, _ in b.items}
    binned = table.scan(entries=src_entries, tags={FANOUT_COL: bin_of})
    # per-file roll budget from observed bytes/row (W4): a bin whose
    # input stats underestimated its size still rolls at the target
    tot_bytes = sum(e.file_size_bytes for e in src_entries)
    tot_rows = sum(e.record_count for e in src_entries) or 1
    roll_rows = max(1, int(max(b.capacity for b in bins) / max(1.0, tot_bytes / tot_rows)))
    new_entries = table.write_datafiles(
        binned,
        fanout_col=FANOUT_COL,
        num_groups=len(bins),
        sort_within=[table.key],
        max_records_per_file=roll_rows,
    )
    # a rewrite must carry every input row — abort BEFORE the replace
    # commit if the scan dropped any (e.g. a delete it applied)
    expected = sum(entry_by_path[p].record_count for p in paths)
    got = sum(e.record_count for e in new_entries)
    if got != expected:
        raise RuntimeError(
            f"compaction rewrite row mismatch: planned {expected} rows, "
            f"wrote {got} — aborting before commit"
        )
    return paths, new_entries


def _wave_attempt(wave: list[Bin], target_size: int):
    """``Table.rewrite`` attempt for one compaction wave: fold live
    deletes, keep the bins whose inputs are all still live, rewrite."""

    def attempt(t: Table):
        # Neither rewrite path tolerates LIVE equality-delete files:
        # the copy path would resurrect deleted rows byte-for-byte, and
        # the Spark path's pre-commit row guard would abort (the scan
        # applies deletes, so written < planned). compact's prefold
        # normally leaves none, but its lineage stamp cannot be trusted
        # against deletes that landed AFTER it (a resumed run racing a
        # concurrent MoR writer), so every attempt folds first; one
        # landing after this fold makes the commit refuse the attempt.
        from olake_spark.operators.merge import fold_deletes

        fold_deletes(t, target_file_size=target_size)
        # a resumed wave may reference files replaced by its own
        # earlier, half-committed attempt (or by the fold above) —
        # revalidate against live paths
        entry_by_path = {e.path: e for e in t.entries()}
        live = [b for b in wave if all(p in entry_by_path for p, _ in b.items)]
        if not live:
            return None
        removed, new_entries = _copy_bins(t, live, entry_by_path)
        return set(removed), new_entries, {"operation": "compact", "summary": {"bins": len(live)}}

    return attempt


def compact(
    table: Table,
    target_size: int | None = None,
    small_ratio: float = 0.75,
    lineage: LineageManifest | None = None,
    stage: str = "compact",
    wave_bins: int = 64,
    ticker=None,
) -> dict:
    """Compact small files; returns metrics. Resumable per wave.

    ``ticker``: optional A5 stats sink (``plans/ticker.StatsTicker`` or
    anything with ``record_synced(n)``) bumped with the ROWS WRITTEN
    after each wave commit — so a long compaction's ``Synced Records``
    moves wave-by-wave instead of staying flat until the stage returns.
    The result dict carries no "rows" key on purpose: callers that bump
    per stage (cmd_sync) would double-count otherwise.

    Merge-on-read interaction: rewriting a data file gives its rows a
    NEW sequence number, which would lift them past any live equality
    delete (sequence-strict anti-join) and resurrect deleted rows —
    so live delete files are folded first (`fold_deletes` rewrites
    exactly the delete-affected files and drops the delete files),
    then compaction plans against the clean table. Iceberg's
    rewrite-data-files maintenance has the same ordering contract.
    Each wave commits through ``Table.rewrite``: a delete file landing
    after the snapshot the wave read makes its replace refuse, and the
    wave removes its outputs, folds again and re-plans.

    Bins are written by the pyarrow row-group COPY path (`_copy_bins` —
    one task per bin, no shuffle, no JVM byte path), since deletes are
    always folded first; a bin whose inputs mix physical schemas falls
    back to the tagged-scan→fanout rewrite (`_rewrite_bins`). Both
    paths feed the same footer-stats harvest and the same replace
    commit, and the pre-commit row-count guard holds for both."""
    target_size = target_size or table.target_file_size
    from olake_spark.operators.merge import fold_deletes

    fold_deletes(table, target_file_size=target_size, lineage=lineage, stage=f"{stage}-prefold")
    # resume: execute the PERSISTED plan, never a fresh re-plan — after a
    # partial run the file set has changed and a re-plan would misalign
    # wave ids with completed units (chunk-protocol parity: the chunk set
    # is computed once and persisted, types/state.go:191-254)
    planned = lineage.planned(stage) if lineage is not None else {}
    if planned:
        waves = []
        for unit in sorted(planned, key=lambda u: int(u.split("-")[1])):
            wv = [
                Bin(bin_id=i, capacity=target_size, items=[tuple(it) for it in items])
                for i, items in enumerate(planned[unit]["bins"])
            ]
            waves.append(wv)
        bins = [b for wv in waves for b in wv]
    else:
        entries = table.entries()
        bins = plan_compaction(entries, target_size, small_ratio)
        if not bins:
            return {"bins": 0, "waves": 0, "files_in": 0, "files_out": 0}
        waves = [bins[i : i + wave_bins] for i in range(0, len(bins), wave_bins)]
        if lineage is not None:
            lineage.plan(
                stage,
                {
                    f"wave-{w}": {"bins": [list(b.items) for b in wv]}
                    for w, wv in enumerate(waves)
                },
            )

    done_waves = 0
    total_in, total_out = 0, 0
    for w, wv in enumerate(waves):
        unit = f"wave-{w}"
        if lineage is not None and lineage.is_done(stage, unit):
            done_waves += 1
            continue
        done = table.rewrite(_wave_attempt(wv, target_size))
        if done is None:
            if lineage is not None:
                lineage.mark_done(stage, unit, snapshot_id=table.meta.current_snapshot_id)
            continue
        snap, new_entries = done
        total_in += snap.summary["removed-files"]
        total_out += len(new_entries)
        if ticker is not None:
            ticker.record_synced(sum(e.record_count for e in new_entries))
        if lineage is not None:
            lineage.mark_done(
                stage,
                unit,
                files=len(new_entries),
                rows=sum(e.record_count for e in new_entries),
                bytes_=sum(e.file_size_bytes for e in new_entries),
                snapshot_id=snap.snapshot_id,
            )
        done_waves += 1
    return {
        "bins": len(bins),
        "waves": done_waves,
        "files_in": total_in,
        "files_out": total_out,
        "snapshot_id": table.meta.current_snapshot_id,
    }
