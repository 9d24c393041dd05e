"""CDC-style MERGE INTO: sort-merge upsert with copy-on-write file pruning.

Reference semantics reproduced:
- batch dedup: one winner per ``_olake_id``, latest ``_cdc_timestamp``
  wins (destination/iceberg/iceberg.go:234-266); ties broken by op
  priority INSERT < READ < UPDATE < DELETE
  (IcebergTableOperator.java:70-71), then ingest time — a *total*
  deterministic order.
- upsert: the reference writes an equality-delete + data row per key
  (BaseDeltaTaskWriter.java:49-61) and lets Iceberg readers anti-join;
  we express the same result as a copy-on-write MERGE — a sort-merge
  full-outer join on the key (north-rule mandate) where source rows
  win, ``_op_type='d'`` removes the key, and only *affected* data
  files are rewritten.

Scale design:
- file pruning: distinct source keys are range-joined against the
  manifest's per-file [min,max] key bounds (the manifest is tiny next
  to the data → broadcast). Untouched files are carried over at zero
  IO cost by the replace commit.
- the merge is sort-based (north-rule mandate): on the analytic
  hex-key path the sort-merge join's sort+merge phases are FUSED with
  batch dedup and the write fanout into a single
  Exchange(range-id) + per-partition sort + top-1 window — the whole
  upsert moves each payload row through exactly one shuffle. The
  generic-key path keeps a literal ``hint("merge")`` full-outer SMJ.
  No driver-side collect of data rows anywhere.
- output files are range-partitioned + sorted on the key, so bounds
  stay tight and the *next* merge prunes well (self-sustaining).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from olake_spark.plans.lineage import LineageManifest
from olake_spark.session import local_df
from olake_spark.table import bloom as bloom_mod
from olake_spark.table.table import Table

# op priority for tie-breaks: INSERT < READ < UPDATE < DELETE
OP_PRIORITY = {"c": 0, "r": 1, "u": 2, "d": 3}

#: expressions that are per-QUERY stable but differ between the two
#: separate actions a merge runs (Catalyst folds them to a literal at
#: each execution), so Expression.deterministic() does not flag them
_SCAN_UNSTABLE_TOKENS = ("current_timestamp()", "current_date()", "now()")


def _assert_scan_stable(source: DataFrame, op: str) -> None:
    """Enforce the merge determinism contract LOUDLY.

    merge_into/merge_mor scan ``source`` twice (narrow keys pass, then
    the full pass). A nondeterministic source silently diverges the
    pruned/delete key set from the merged rows — duplicates or lost
    deletes with no error. Walk the analyzed plan's expressions and
    reject any Catalyst flags nondeterministic (rand/uuid/
    monotonically_increasing_id/nondeterministic UDFs), plus the
    per-action-folded clock expressions Catalyst considers
    "deterministic" within one query but that change between the two
    actions. A persisted source is exempt: the first action
    materializes it and the second reads the same data.
    """
    lvl = source.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return
    offenders: list[str] = []
    clock_classes = {
        "CurrentTimestamp", "Now", "CurrentDate", "LocalTimestamp",
        "CurrentTimeZone",
    }
    try:
        jplan = source._jdf.queryExecution().analyzed()

        def walk_expr(e):
            if offenders:
                return  # one offender is enough — stop the py4j walk
            cls = e.getClass().getSimpleName()
            # clock expressions are Catalyst-"deterministic" (folded once
            # per query) but differ between the merge's two actions;
            # detect by class so a string LITERAL like 'now()' in data
            # or a filter value is never a false positive
            if cls in clock_classes:
                offenders.append(e.sql())
                return
            if not e.deterministic():
                offenders.append(e.sql())
                return  # children are covered by the recursive flag
            # subquery expressions carry a whole child PLAN that is not
            # reachable through children() — a clock inside
            # `ts >= (SELECT current_timestamp() - ...)` lives there
            if "Subquery" in cls or cls in ("ListQuery", "Exists", "InSubquery"):
                try:
                    walk(e.plan())
                except Exception:
                    offenders.append(cls)  # can't inspect → refuse loudly
                return
            it = e.children().iterator()
            while it.hasNext():
                walk_expr(it.next())

        def walk(node):
            eit = node.expressions().iterator()
            while eit.hasNext():
                walk_expr(eit.next())
            cit = node.children().iterator()
            while cit.hasNext():
                walk(cit.next())

        walk(jplan)
    except Exception:  # py4j surface changed — fall back to text scan
        plan_str = source._jdf.queryExecution().analyzed().toString()
        offenders += [t for t in _SCAN_UNSTABLE_TOKENS if t in plan_str]
    if offenders:
        raise ValueError(
            f"{op}: source plan is not scan-stable ({sorted(set(offenders))[:3]}); "
            "the merge reads the source twice and a nondeterministic plan can "
            "silently corrupt the table. persist()/cache() the batch first "
            "(cdc_stream_merge does this for its transform output)."
        )


def _op_priority_col(col: str = "_op_type"):
    m = F.create_map(*[F.lit(x) for kv in OP_PRIORITY.items() for x in kv])
    return F.coalesce(m[F.col(col)], F.lit(-1))


def dedup_batch(source: DataFrame, key: str = "_olake_id") -> DataFrame:
    """One row per key: max (_cdc_timestamp, op_priority, _olake_timestamp).

    Window + row_number — Spark's map-side partial aggregation plus a
    single shuffle on the key; the same shuffle partitioning is then
    reused by the merge join (sort-merge on the same key), so dedup
    costs no extra exchange in the merged plan.
    """
    w = Window.partitionBy(key).orderBy(
        F.desc("_cdc_timestamp"),
        _op_priority_col().desc(),
        F.desc("_olake_timestamp"),
    )
    return (
        source.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def affected_file_paths(table: Table, source_keys: DataFrame, key: str) -> list[str]:
    """Manifest-bounds pruning: DATA files whose [min,max] range for
    ``key`` contains any source key. Entries without bounds are always
    affected; equality-delete files are never rewrite targets here.

    Bounds are compared in the key column's NATIVE Spark type: the
    manifest stores them JSON-stringified (ints as ints, timestamps as
    ISO-8601 strings), so each bound is cast back to the table schema's
    type before the range join. Comparing stringified bounds
    lexicographically is wrong for numeric keys ("9" > "1500") and
    silently skips files that numerically contain a source key — a
    duplicate-key / resurrected-delete corruption. A bound that fails
    the cast (unparseable in the key's type) conservatively marks its
    file affected rather than pruning it.
    """
    entries = table.data_entries()
    rows, unbounded = [], []
    for e in entries:
        lo, hi = e.lower_bounds.get(key), e.upper_bounds.get(key)
        if lo is None or hi is None:
            unbounded.append(e.path)
        else:
            rows.append((e.path, str(lo), str(hi)))
    affected = set(unbounded)
    if rows:
        key_field = next((f for f in table.schema.fields if f.name == key), None)
        key_type = key_field.dataType if key_field is not None else T.StringType()
        bounds = local_df(table.spark, rows, "path string, lo string, hi string").select(
            "path",
            F.col("lo").cast(key_type).alias("lo"),
            F.col("hi").cast(key_type).alias("hi"),
        )
        # manifest-scale DF (one row per file) — ONE collect for both the
        # cast-failure paths and the range hits (metadata op, never
        # data-proportional; a second action would pay another full
        # Catalyst plan + job-scheduling round trip on the source plan)
        bad = bounds.filter(F.col("lo").isNull() | F.col("hi").isNull()).select("path")
        hit = (
            source_keys.select(F.col(key).alias("__k"))
            .distinct()
            .join(
                F.broadcast(bounds.filter(F.col("lo").isNotNull() & F.col("hi").isNotNull())),
                (F.col("__k") >= F.col("lo")) & (F.col("__k") <= F.col("hi")),
                "inner",
            )
            .select("path")
            .distinct()
        )
        affected.update(r["path"] for r in hit.unionAll(bad).collect())
    return _bloom_refine(table, source_keys, key, sorted(affected))


def _bloom_refine(
    table: Table, source_keys: DataFrame, key: str, affected: list[str]
) -> list[str]:
    """Second pruning layer: per-file key-bloom sidecars (table/bloom.py).

    Bounds pruning is blind exactly where OLake tables need pruning
    most: ``_olake_id`` is a uniform md5 hex (utils/utils.go:252-273),
    so every append file spans ~[00.., ff..] and a single-key CDC batch
    marks the WHOLE table affected. When the table opted into sidecars
    (``write.bloom.column`` == the merge key), probe each
    bounds-affected file's bloom with the batch's distinct-key digests
    and drop files that provably contain none. False positives cost one
    redundant file rewrite; false negatives cannot occur (build and
    probe share bloom.key_bytes + bloom.digests).

    The distinct keys are collected here — the ONE deliberate
    data-derived collect in the merge path — bounded by
    ``bloom.PROBE_KEY_CAP`` via limit(cap+1): a batch with more
    distinct keys than the cap skips the probe (it touches most files
    anyway) rather than ever pulling an unbounded set to the driver.
    """
    if not affected or table.bloom_col != key:
        return affected
    cap = bloom_mod.PROBE_KEY_CAP
    rows = (
        source_keys.select(F.col(key).alias("__k"))
        .where(F.col(key).isNotNull())
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return affected
    encoded = bloom_mod.key_bytes([r["__k"] for r in rows])
    if not encoded:
        return affected
    h1, h2 = bloom_mod.digests(encoded)
    abs_by_rel = {rel: os.path.normpath(os.path.join(table.location, rel)) for rel in affected}
    kept_abs = set(
        bloom_mod.probe_files(table.spark, list(abs_by_rel.values()), key, h1, h2)
    )
    return [rel for rel in affected if abs_by_rel[rel] in kept_abs]


def _write_merged(
    table: Table,
    source: DataFrame,
    target_sub: DataFrame,
    n_files: int,
    roll_rows: int,
) -> list:
    """Upsert ``source`` over the affected rows ``target_sub`` and
    write the result as about ``n_files`` key-ranged files."""
    # range-partitioned output keeps per-file key bounds tight (the
    # next merge prunes well). For the md5 identifier the key space is
    # uniform hex, so range ids are ANALYTIC from the key prefix — one
    # pass. repartitionByRange would sample its child, re-executing the
    # whole merge join a second time just to find boundaries.
    key = table.key
    rid = table.key_range_id(n_files)
    if rid is not None:
        # SINGLE-EXCHANGE sorted merge: the sort-merge join's sort and
        # merge phases are fused with batch dedup AND the write fanout.
        # Target rows (seq 0) and raw source rows (seq 1) are unioned,
        # hash-partitioned ONCE on the analytic range id, and resolved
        # by a per-(rid, key) window ordered by (seq desc, then the
        # dedup total order) — the top row per key is the post-dedup
        # source winner when the batch touches the key, else the target
        # row; a 'd' winner removes the key. This is exactly the
        # full-outer SMJ + dedup_batch result, but the plan is ONE
        # Exchange(hashpartitioning(__rid)) + a local sort:
        # HashPartitioning([__rid]) satisfies the window's
        # ClusteredDistribution([__rid, key]) (subset rule), Spark adds
        # WindowGroupLimit (top-1 pruned before materializing), and the
        # output is already write-fanout-partitioned AND sorted, so the
        # writer skips both its repartition and its sort (shuffle=False).
        # The naive plan (dedup exchange on key, SMJ exchange on key,
        # then repartition on __rid) moves every ~10 KB payload row
        # through the shuffle machinery twice — and an SMJ can't reuse a
        # subset-key partitioning: EnsureRequirements rewrites a user
        # repartition(__rid) into its own full-key exchange (verified
        # empirically; co-partitioning requires all join keys).
        tcols = target_sub.columns
        src_types = {f.name: f.dataType for f in source.schema.fields}
        s_u = (
            source.withColumn("__op", F.col("_op_type"))
            .withColumn("__seq", F.lit(1))
            .withColumn("__cts", F.col("_cdc_timestamp"))
            .withColumn("__pri", _op_priority_col())
            .withColumn("__ots", F.col("_olake_timestamp"))
            .select(*tcols, "__op", "__seq", "__cts", "__pri", "__ots")
        )
        t_u = (
            target_sub.withColumn("__op", F.lit(None).cast("string"))
            .withColumn("__seq", F.lit(0))
            .withColumn("__cts", F.lit(None).cast(src_types["_cdc_timestamp"]))
            .withColumn("__pri", F.lit(None).cast("int"))
            .withColumn("__ots", F.lit(None).cast(src_types["_olake_timestamp"]))
            .select(*tcols, "__op", "__seq", "__cts", "__pri", "__ots")
        )
        u = t_u.unionByName(s_u).withColumn("__rid", rid).repartition(
            n_files, "__rid"
        )
        w = Window.partitionBy("__rid", key).orderBy(
            F.desc("__seq"), F.desc("__cts"), F.desc("__pri"), F.desc("__ots")
        )
        merged = (
            u.withColumn("__rn", F.row_number().over(w))
            .filter(
                (F.col("__rn") == 1)
                & (F.coalesce(F.col("__op"), F.lit("")) != F.lit("d"))
            )
            .select("__rid", *tcols)
        )
        return table.write_datafiles(
            merged,
            fanout_col="__rid",
            num_groups=n_files,
            sort_within=[key],
            max_records_per_file=roll_rows,
            shuffle=False,
        )
    else:
        s = dedup_batch(source, key)
        tgt, s_al = target_sub.alias("t"), s.alias("s")
        cond = F.col(f"t.{key}") == F.col(f"s.{key}")
        joined = tgt.join(s_al.hint("merge"), cond, "full_outer")  # sort-merge mandated
        src_present = F.col(f"s.{key}").isNotNull()
        cols = [
            F.when(src_present, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in target_sub.columns
        ]
        merged = joined.filter(
            F.coalesce(F.col("s._op_type"), F.lit("")) != F.lit("d")
        ).select(*cols)
        return table.write_datafiles(
            merged, ranged=True, num_groups=n_files, max_records_per_file=roll_rows
        )


def merge_into(
    table: Table,
    source: DataFrame,
    target_file_size: int | None = None,
    lineage: LineageManifest | None = None,
    stage: str = "merge",
) -> dict:
    """Apply a CDC batch to the table, upserting on ``table.key``;
    returns metrics.

    Idempotent: replaying the same batch after a completed commit is a
    no-op when driven through the same lineage manifest (the committed
    snapshot id is recorded before the replace, LSN-guard style).

    ``source`` MUST be a deterministic plan: it is scanned twice (a
    narrow keys-only pass for pruning/sizing, then the full merge). A
    nondeterministic source (rand()-derived columns, an uncached
    re-executed transform that can change between scans) can make the
    pruned file set diverge from the rows actually merged, leaving
    duplicates. Callers with nondeterministic pipelines should persist
    the batch first (``cdc_stream_merge`` caches its transform output
    for exactly this reason).
    """
    if lineage is not None and lineage.stage_complete(stage):
        return {"skipped": True, "snapshot_id": lineage.stage_snapshot(stage)}

    target_file_size = target_file_size or table.target_file_size
    # Scan discipline: the FULL batch (payload columns included) is read
    # exactly once, inside the merge plan below. Pruning and sizing need
    # only the key column — a separate NARROW pass (columns pruned down
    # to the key at the parquet scan) whose distinct-key count equals
    # the post-dedup winner count (one winner per key, so no window
    # needed here). Round 1 re-ran the full dedup 3×; an intermediate
    # fix materialized the full batch via localCheckpoint, but pushing
    # ~10 KB binary rows through the block manager is memory-bandwidth-
    # bound and anti-scales with cores — keys-only + single full pass
    # is both fewer bytes and cleanly parallel.
    _assert_scan_stable(source, "merge")
    key = table.key
    keys_df = source.select(key).distinct().cache()
    src_rows = keys_df.count()
    if src_rows == 0:
        keys_df.unpersist()
        return {"skipped": True, "snapshot_id": None, "source_rows": 0}

    def attempt(t: Table):
        affected = affected_file_paths(t, keys_df, key)
        entry_by_path = {e.path: e for e in t.data_entries()}
        aff_entries = [entry_by_path[p] for p in affected]
        target_sub = t.scan(entries=aff_entries)

        # size the output: surviving target bytes + source contribution
        aff_bytes = sum(e.file_size_bytes for e in aff_entries)
        aff_rows = sum(e.record_count for e in aff_entries) or 1
        bytes_per_row = (aff_bytes / aff_rows) if aff_bytes else 4096.0
        est_bytes = aff_bytes + int(src_rows * bytes_per_row) if aff_bytes else max(src_rows, 1) * 4096
        n_files = max(1, math.ceil(est_bytes / target_file_size))
        # W4 roll enforcement: even a mis-estimated or skewed output group
        # starts a new file at the target row budget
        roll_rows = max(1, int(target_file_size / bytes_per_row))

        new_entries = _write_merged(t, source, target_sub, n_files, roll_rows)
        summary = {"source-rows": src_rows, "pruned-files": len(entry_by_path) - len(affected)}
        return set(affected), new_entries, {"operation": "merge", "summary": summary}

    try:
        snap, new_entries = table.rewrite(attempt)
    finally:
        keys_df.unpersist()
    metrics = {
        "snapshot_id": snap.snapshot_id,
        "source_rows": src_rows,
        "affected_files": snap.summary["removed-files"],
        "pruned_files": snap.summary["pruned-files"],
        "written_files": len(new_entries),
        "written_rows": sum(e.record_count for e in new_entries),
        "written_bytes": sum(e.file_size_bytes for e in new_entries),
    }
    if lineage is not None:
        lineage.complete(stage, "merge", snap.snapshot_id, new_entries)
    return metrics


def merge_mor(
    table: Table,
    source: DataFrame,
    lineage: LineageManifest | None = None,
    stage: str = "merge-mor",
) -> dict:
    """Merge-on-read: the reference's ACTUAL write path — one equality-
    delete file of ``table.key`` values + one data file per batch,
    deletes resolved by readers (BaseDeltaTaskWriter.java:49-61
    delete-then-insert; delete-file registration
    IcebergTableOperator.java:280-321).

    Commit cost is O(batch) bytes — no target files are read or
    rewritten, which is the mode that keeps a trickle of CDC cheap on a
    100 TB table (copy-on-write rewrites every affected file per
    batch). The scan-side anti-join lives in ``Table.scan``; sequence
    numbers make the delete apply only to data committed BEFORE this
    batch, so the batch's own rows survive. Periodically fold with
    ``fold_deletes`` to keep read amplification bounded.

    Result-equivalent to ``merge_into`` on the same batches (pytest +
    the merge_mor/merge_upsert oracle pair assert scan equality).

    ``source`` MUST be a deterministic plan (same contract as
    ``merge_into``): the keys-only delete-file pass and the full
    data-file pass scan it independently; a nondeterministic source can
    emit live rows with no covering equality delete.
    """
    if lineage is not None and lineage.stage_complete(stage):
        return {"skipped": True, "snapshot_id": lineage.stage_snapshot(stage)}
    # upsert = delete old version + insert new: EVERY source key goes in
    # the delete file; only non-'d' winners land in the data file.
    # The delete file needs keys only (winners' keys == distinct source
    # keys), so it comes from a NARROW column-pruned pass; the full
    # payload is scanned exactly once, by the data-file write below —
    # no checkpoint materialization of binary rows.
    _assert_scan_stable(source, "merge")
    key = table.key
    keys_df = source.select(key).distinct().cache()
    kstats = keys_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length(F.col(key).cast("string"))).alias("w"),
    ).first()
    src_rows = int(kstats["n"])
    if src_rows == 0:
        keys_df.unpersist()
        return {"skipped": True, "snapshot_id": None, "source_rows": 0}

    # size the delete file(s) to the reference's 64 MiB equality-delete
    # target (arrow-writer/utils.go:23) — the cached keys block AQE's
    # small-partition coalescing, so bound the fanout explicitly. The
    # per-key byte cost comes from the batch's OBSERVED average key
    # width (piggybacked on the count action over the cached keys),
    # not a constant: a long key under a 64-bytes/key guess would
    # overfill files well past the target.
    key_bytes = float(kstats["w"] or 32.0) + 20.0  # + encoding/offset overhead
    n_del_files = max(1, math.ceil(src_rows * key_bytes / (64 << 20)))
    del_entries = table.write_datafiles(
        keys_df.coalesce(n_del_files), content="deletes", sort_within=[key]
    )
    keys_df.unpersist()
    live = dedup_batch(source, key).filter(
        F.coalesce(F.col("_op_type"), F.lit("")) != F.lit("d")
    ).select(*[f.name for f in table.schema.fields])
    data_entries = table.write_datafiles(live, sort_within=[key])
    snap = table.commit_append(
        del_entries + data_entries,
        summary={"source-rows": src_rows, "mode": "merge-on-read"},
    )
    metrics = {
        "snapshot_id": snap.snapshot_id,
        "source_rows": src_rows,
        "delete_files": len(del_entries),
        "written_files": len(data_entries),
        "written_rows": sum(e.record_count for e in data_entries),
        "written_bytes": sum(
            e.file_size_bytes for e in del_entries + data_entries
        ),
    }
    if lineage is not None:
        lineage.complete(stage, "merge-mor", snap.snapshot_id, del_entries + data_entries)
    return metrics


def fold_deletes(
    table: Table,
    target_file_size: int | None = None,
    lineage: LineageManifest | None = None,
    stage: str = "fold-deletes",
) -> dict:
    """Compaction step that folds equality-delete files into the data:
    rewrite only data files whose key bounds overlap a delete key (same
    manifest-bounds pruning as the CoW merge), drop all delete files in
    one replace commit. After folding, scans are delete-free again.

    Reference parity: Iceberg's rewrite-data-files maintenance that the
    MoR write path relies on; the reference schedules it out-of-band.

    Concurrency: the rewrite gives surviving rows a NEW sequence number,
    so a delete file committed by a concurrent MoR writer mid-fold would
    be silently out-sequenced for any key living in a rewritten file
    (sequence-strict anti-join → resurrection). The fold commits through
    ``Table.rewrite``, whose replace refuses a delete file newer than
    the snapshot the fold read; the fold then cleans up and re-plans
    against the refreshed table, folding that delete too.
    """
    if lineage is not None and lineage.stage_complete(stage):
        return {"skipped": True, "snapshot_id": lineage.stage_snapshot(stage)}
    target_file_size = target_file_size or table.target_file_size

    def attempt(t: Table):
        dels = t.delete_entries()
        if not dels:
            return None
        del_keys = t._read_tagged(dels, T.StructType([t.schema[t.key]]), {})
        affected = affected_file_paths(t, del_keys, t.key)
        entry_by_path = {e.path: e for e in t.data_entries()}
        aff_entries = [entry_by_path[p] for p in affected]
        new_entries = _fold_rewrite(t, aff_entries, target_file_size) if aff_entries else []
        summary = {"folded-delete-files": len(dels), "rewritten-files": len(affected)}
        removed = set(affected) | {e.path for e in dels}
        return removed, new_entries, {"operation": "fold-deletes", "summary": summary}

    done = table.rewrite(attempt)
    if done is None:
        return {"skipped": True, "delete_files": 0}
    snap, new_entries = done
    metrics = {
        "snapshot_id": snap.snapshot_id,
        "delete_files": snap.summary["folded-delete-files"],
        "rewritten_files": snap.summary["rewritten-files"],
        "written_files": len(new_entries),
        "written_rows": sum(e.record_count for e in new_entries),
    }
    if lineage is not None:
        lineage.complete(stage, "fold", snap.snapshot_id, new_entries)
    return metrics


def _fold_rewrite(table: Table, aff_entries: list, target_file_size: int) -> list:
    """Rewrite ``aff_entries`` with the live deletes applied, one output
    group per input file."""
    # scan applies the deletes; only affected files are read + rewritten.
    # FILE-PRESERVING rewrite: each affected file already covers a
    # tight key range (outputs are range-partitioned everywhere), and
    # dropping deleted rows never widens it — so each input file is
    # tagged with its own output group (scan's ``tags``: one broadcast
    # join that raises on a row of no planned file, where dropping it
    # would write EMPTY output over the affected files) and the write
    # needs NO shuffle at all (the delete anti-join broadcasts its tiny
    # side too, so the whole fold is one map-side pass). The previous
    # repartitionByRange(key) plan both shuffled the full payload AND
    # sampled its child — re-executing the entire scan+anti-join a
    # second time just to find boundaries.
    rid = {e.path: i for i, e in enumerate(aff_entries)}
    survivors = table.scan(entries=aff_entries, tags={"__rid": rid})
    aff_bytes = sum(e.file_size_bytes for e in aff_entries)
    aff_rows = sum(e.record_count for e in aff_entries) or 1
    roll_rows = max(1, int(target_file_size / max(1.0, aff_bytes / aff_rows)))
    return table.write_datafiles(
        survivors,
        fanout_col="__rid",
        num_groups=len(aff_entries),
        sort_within=[table.key],
        max_records_per_file=roll_rows,
        shuffle=False,
    )
