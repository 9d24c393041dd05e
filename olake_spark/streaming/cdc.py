"""Structured-Streaming CDC tail: bounded micro-batches → MERGE INTO.

Reference parity (SURVEY.md §2.10):
- T1/T2/T3 (WAL / binlog / change-stream decode) ≙ a file-source
  ``readStream`` over a CDC landing directory of parquet batches —
  the decoded-change shape (`_op_type` c/u/d + `_cdc_timestamp`)
  is exactly the reference's ``RawRecord``
  (types/data_types.go:63-71).
- T4 (bounded run: capture end position, stream until reached,
  pkg/waljs/waljs.go:71-74) ≙ ``Trigger.AvailableNow`` — process
  everything present at start, then stop.
- T5 (offset commit only after successful write,
  drivers/postgres/internal/cdc.go:90-98) ≙ the streaming
  checkpoint: foreachBatch commits the table snapshot first; the
  source offset is advanced by the engine only after the batch
  function returns.
- T6 (replay idempotency) ≙ merge_into's key dedup by commit
  sequence: re-delivering a batch after a crash converges to the
  same table state.

Scale: each micro-batch is a full distributed MERGE (sort-merge join
+ pruned copy-on-write rewrite); the stream adds no driver-side row
handling. ``maxFilesPerTrigger`` bounds batch size the way the
reference's 10k-record writer buffer does (protocol/root.go:98).
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olake_spark.operators.merge import fold_deletes, merge_into, merge_mor
from olake_spark.table.table import Table


def persist_mongo_cursor(path: str, token: str) -> None:
    """Atomically persist the Mongo resume-token cursor — the artifact
    a live tail passes back as ``resumeAfter`` (PostCDC,
    drivers/mongodb/internal/cdc.go:178-189). Written only AFTER the
    batch's table commit (T5 ordering), so a crash in between replays
    the batch (idempotent merge) rather than skipping it."""
    from olake_spark.streaming.wire import mongo_resume_token_op_time

    t, i = mongo_resume_token_op_time(token)  # validates the token too
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump({"resume_token": token, "op_time": [t, i]}, f)
    os.replace(tmp, path)


def read_mongo_cursor(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def cdc_stream_merge(
    table: Table,
    source_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    timeout_s: float = 600.0,
    fmt: str = "parquet",
    mode: str = "cow",
    fold_every: int | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    mongo_cursor_path: str | None = None,
) -> dict:
    """Drain a CDC landing dir into the table via per-batch MERGE on
    ``table.key``.

    Bounded run (Trigger.AvailableNow): returns after all files
    present at start are merged. Restarting with the same
    checkpoint_dir skips already-committed batches (engine-side), and
    a batch replayed after a mid-commit crash is idempotent
    (merge-side dedup). Returns {"batches": n, "rows": n}.

    fmt: "parquet" or "json" — the reference's decoded CDC records are
    JSON (pkg/waljs/filter.go:33-60); jsonl landing files carry the
    same RawRecord shape and are aligned (cast/pad) to the table
    schema, binary columns arriving base64-encoded. "mongo_jsonl"
    lands RAW Mongo change-stream documents (one per line, the wire
    shape ChangeStream cursors emit): each batch is decoded with
    ``decode_mongo_change_stream`` (T3) inside foreachBatch, and after
    the batch's merge COMMITS, the max resume token of the batch is
    persisted to ``mongo_cursor_path`` (default
    ``<checkpoint_dir>/mongo_cursor.json``) — the commit-after-write
    ordering of PostCDC (cdc.go:178-189): a drained-but-uncommitted
    batch never advances the cursor.

    mode: "cow" rewrites affected files per batch (merge_into); "mor"
    is the reference's actual streaming write — one equality-delete
    file + one data file per micro-batch, O(batch) commit cost
    (BaseDeltaTaskWriter.java:49-61), which is what keeps a CDC
    trickle cheap on a 100 TB table. With mode="mor",
    ``fold_every=N`` runs fold_deletes after every N merged batches
    (and once at the end) so read amplification stays bounded — the
    in-stream version of the out-of-band maintenance loop.

    transform: optional per-batch DataFrame → DataFrame hook applied
    BEFORE the merge — payload enrichment at ingestion time (e.g.
    attach loudness/VAD stats columns to audio rows via an
    Arrow-batched stage). The result must still carry the table
    schema; it runs inside foreachBatch, so it is exactly-once per
    committed batch like the merge itself.
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    if fmt != "mongo_jsonl" and mongo_cursor_path is not None:
        raise ValueError("mongo_cursor_path applies only to fmt='mongo_jsonl'")
    if fold_every is not None and mode != "mor":
        # CoW has no delete files to fold — a silently ignored cadence
        # would hide a misconfigured job
        raise ValueError("fold_every applies only to mode='mor'")
    spark = table.spark
    schema = table.schema
    # CDC batches land as one subdirectory per batch — recurse
    reader = spark.readStream.option("recursiveFileLookup", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "json":
        from pyspark.sql import types as T

        from olake_spark.table.evolution import align_batch

        # JSON has no binary/timestamp physical types: read those as
        # string, then align (base64 → binary, ISO strings → timestamp)
        json_schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.StringType() if isinstance(f.dataType, (T.BinaryType, T.TimestampType)) else f.dataType,
                    True,
                )
                for f in schema.fields
            ]
        )
        raw = reader.schema(json_schema).json(source_dir)
        bin_cols = [f.name for f in schema.fields if isinstance(f.dataType, T.BinaryType)]
        for c in bin_cols:
            raw = raw.withColumn(c, F.unbase64(F.col(c)))
        src = align_batch(raw, schema)
        wire_decode = None
    elif fmt == "mongo_jsonl":
        from olake_spark.streaming.wire import decode_mongo_change_stream

        # raw change-stream documents, one per line → column `value`
        src = reader.text(source_dir)
        wire_decode = lambda raw: decode_mongo_change_stream(raw, schema)  # noqa: E731
        if mongo_cursor_path is None:
            mongo_cursor_path = os.path.join(checkpoint_dir, "mongo_cursor.json")
    else:
        src = reader.schema(schema).parquet(source_dir)
        wire_decode = None

    progress = {"batches": 0, "rows": 0, "folds": 0}
    merge_fn = merge_mor if mode == "mor" else merge_into

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one full scan of the batch inside the merge plan (pruning is
        # keys-only); no pre-count pass here — rows counts post-dedup
        # winners, one per key. A transformed batch is cached first:
        # the merge's keys pass cannot column-prune through an
        # arbitrary transform, so without the cache the enrichment
        # would run twice (and a nondeterministic transform could hand
        # the delete and data writers different rows).
        raw = None
        if wire_decode is not None:
            # the raw wire batch is read twice (decode+merge, then the
            # resume-token max) — cache it; it's the undecoded JSONL,
            # not payload rows
            raw = batch_df.cache()
            batch_df = wire_decode(raw)
        cached = None
        if transform is not None:
            batch_df = cached = transform(batch_df).cache()
        try:
            m = merge_fn(table, batch_df)
            if raw is not None:
                # T5 ordering: merge COMMITTED above; only now may the
                # source cursor advance (even for batches whose ops all
                # decoded away — the stream is still caught up to them)
                from olake_spark.streaming.wire import mongo_next_resume_token

                tok = mongo_next_resume_token(raw)
                if tok:
                    persist_mongo_cursor(mongo_cursor_path, tok)
        finally:
            if cached is not None:
                cached.unpersist()
            if raw is not None:
                raw.unpersist()
        n = int(m.get("source_rows") or 0)
        if n == 0:
            return
        progress["batches"] += 1
        progress["rows"] += n
        if mode == "mor" and fold_every and progress["batches"] % fold_every == 0:
            f = fold_deletes(table)
            if not f.get("skipped"):
                progress["folds"] += 1

    q = (
        src.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"CDC stream did not drain within {timeout_s}s")
    if mode == "mor" and fold_every and table.delete_entries():
        f = fold_deletes(table)
        if not f.get("skipped"):
            progress["folds"] += 1
    if fmt == "mongo_jsonl":
        progress["mongo_cursor"] = mongo_cursor_path
        cur = read_mongo_cursor(mongo_cursor_path)
        if cur:
            progress["resume_token"] = cur["resume_token"]
    return progress


def windowed_event_stats(
    spark: SparkSession,
    source_dir: str,
    schema,
    ts_col: str = "_cdc_timestamp",
    window: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Watermarked tumbling-window op-count stream (throughput stats,
    reference A5 destination/writers.go:33-37 — but event-time, which
    the reference's wall-clock ticker cannot do).

    Returns the streaming DataFrame; callers attach a sink (tests use
    an in-memory sink with Trigger.AvailableNow). Late rows beyond the
    watermark are dropped — deterministic under replay.
    """
    reader = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_dir)
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("_op_type"))
        .agg(
            F.count("*").alias("n_ops"),
            F.approx_count_distinct("_olake_id").alias("n_keys"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("_op_type"),
            F.col("n_ops"),
            F.col("n_keys"),
        )
    )
