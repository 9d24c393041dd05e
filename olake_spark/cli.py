"""CLI entry points: spec | check | discover | sync | clear | changelog.

Mirrors the reference's protocol verbs (protocol/root.go:89-103,
README.md:158-165) re-shaped for a maintenance engine:

- ``spec``      print the job-spec JSON schema (≙ connector spec)
- ``check``     validate config, table reachability, write probe
                (≙ destination Check ping, destination/writers.go:86-121)
- ``discover``  inspect a table → stream-catalog JSON: schema, snapshot
                history, file/row/byte counts (≙ protocol/discover.go:18-74)
- ``sync``      run the maintenance pipeline from a job spec, resumable
                through the lineage manifest (≙ protocol/sync.go)
- ``clear``     expire all but the current snapshot and drop lineage
                state (≙ clear destination, iceberg.go:511-557)
- ``changelog`` export the row-level change stream between snapshots
                (CDC out: the inverse of sync's CDC in)

Run as ``python -m olake_spark.cli <verb> --config job.json`` — the
module layout is ``spark-submit --py-files olake_spark.zip``-friendly:
everything reaches the executors as plain importable modules.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

JOB_SPEC = {
    "type": "object",
    "required": ["table"],
    "properties": {
        "table": {"type": "string", "description": "table location (directory)"},
        "job_id": {"type": "string", "description": "resume key; default sha256(config)"},
        "lineage_path": {"type": "string", "description": "lineage manifest JSON path"},
        "cores": {"type": ["integer", "string"], "description": "local[N] parallelism"},
        "from_snapshot": {"type": "integer", "description": "changelog: exclusive start"},
        "to_snapshot": {"type": "integer", "description": "changelog: inclusive end"},
        "since_timestamp_ms": {"type": "integer", "description": "changelog: resolve start by wall clock"},
        "output_dir": {"type": "string", "description": "changelog: export directory"},
        "format": {"enum": ["parquet", "json"], "description": "changelog export format"},
        "stages": {
            "type": "array",
            "items": {
                "type": "object",
                "required": ["op"],
                "properties": {
                    "op": {
                        "enum": [
                            "append", "cdc_merge", "merge", "merge_mor",
                            "fold_deletes", "compact", "cluster",
                            "cluster_incremental", "resample",
                            "rewrite_manifests", "expire", "gc_orphans",
                            "rollback", "build_blooms", "auto",
                        ]
                    },
                    "filter": {
                        "type": "string",
                        "description": "per-stream user filter (reference grammar: "
                        "1-2 conditions, = != < > <= >=, one and/or, quoted "
                        "columns/values) applied to the source read",
                    },
                    "partition_regex": {
                        "type": "string",
                        "description": "append: /{col,fallback,granularity}/... "
                        "destination partition template",
                    },
                    "mode": {"enum": ["cow", "mor"], "description": "cdc_merge write mode"},
                    "fmt": {
                        "enum": ["parquet", "json", "mongo_jsonl"],
                        "description": "cdc_merge landing format: decoded RawRecord "
                        "parquet/jsonl, or raw Mongo change-stream documents "
                        "(decoded per batch; resume token checkpointed after "
                        "each batch commit)",
                    },
                    "fold_every": {"type": "integer", "description": "cdc_merge mor: fold cadence"},
                    "source_dir": {"type": "string"},
                    "checkpoint_dir": {"type": "string"},
                    "curve": {"enum": ["zorder", "hilbert"]},
                    "row_weight": {"type": "string"},
                    "target_size": {
                        "type": "integer",
                        "description": "compact, cluster, cluster_incremental, resample, "
                        "fold_deletes: target data file size in bytes (default: the "
                        "table's write.target-file-size-bytes)",
                    },
                    "max_bytes": {"type": "integer", "description": "cluster_incremental: per-run rewrite budget"},
                    "sr_out": {"type": "integer", "description": "resample: target sample rate (default 16000)"},
                    "keep_last": {"type": "integer"},
                },
            },
        },
    },
}


def _spark(cfg: dict):
    from olake_spark.session import get_spark

    return get_spark("olake-cli", cores=cfg.get("cores"))


def _load_table(spark, cfg: dict):
    from olake_spark.table.table import Table

    return Table.load(spark, cfg["table"])


def _job_id(cfg: dict) -> str:
    # syncID = hash of the configs (utils/utils.go:311-326)
    if cfg.get("job_id"):
        return cfg["job_id"]
    return hashlib.sha256(
        json.dumps(cfg, sort_keys=True).encode()
    ).hexdigest()[:16]


def cmd_spec(_cfg: dict) -> dict:
    return JOB_SPEC


def cmd_check(cfg: dict) -> dict:
    """Config + connectivity + write-probe validation."""
    from olake_spark.plans.filters import parse_filter

    ops = JOB_SPEC["properties"]["stages"]["items"]["properties"]["op"]["enum"]
    errors = []
    for s in cfg.get("stages", []):
        if s.get("op") not in ops:
            errors.append(f"unknown op {s.get('op')!r}")
        if s.get("op") in ("append", "cdc_merge", "merge", "merge_mor") and not s.get(
            "source_dir"
        ):
            errors.append(f"{s.get('op')} requires source_dir")
        if s.get("filter"):
            # the reference validates the filter grammar at Check time
            # (stream_configured.go:157) — fail fast, not mid-sync
            if s.get("op") not in ("append", "cdc_merge", "merge", "merge_mor"):
                # exec_stage applies filters only to source-consuming ops;
                # accepting one elsewhere would let the user believe rows
                # were restricted when the stage ran unfiltered
                errors.append(
                    f"filter is not supported on op {s.get('op')!r} "
                    "(only append/merge/merge_mor/cdc_merge read a source)"
                )
            try:
                parse_filter(s["filter"])
            except ValueError as e:
                errors.append(str(e))
        if s.get("fmt"):
            if s.get("op") != "cdc_merge":
                errors.append(
                    f"fmt is not supported on op {s.get('op')!r} "
                    "(only cdc_merge reads a landing format)"
                )
            elif s["fmt"] not in ("parquet", "json", "mongo_jsonl"):
                errors.append(f"unknown cdc_merge fmt {s['fmt']!r}")
        if s.get("partition_regex"):
            if s.get("op") != "append":
                errors.append(
                    f"partition_regex is not supported on op {s.get('op')!r} "
                    "(only append writes through the path template)"
                )
            else:
                # the renderer is deliberately lenient (malformed {...}
                # blocks render empty, parquet.go:410-411) — the pure
                # parse is the syntax gate, run WITHOUT a Spark session
                # (check validates config before starting one)
                try:
                    from olake_spark.functions.transforms import (
                        parse_partition_pattern,
                    )

                    parse_partition_pattern(s["partition_regex"])
                except Exception as e:
                    errors.append(f"invalid partition_regex: {e}")
    if not os.path.isdir(cfg.get("table", "")):
        errors.append(f"table location not found: {cfg.get('table')}")
    if errors:
        return {"status": "FAILED", "errors": errors}
    spark = _spark(cfg)
    t = _load_table(spark, cfg)
    probe = t.scan().limit(1).count()  # read probe (destination Check ping)
    return {
        "status": "SUCCEEDED",
        "table": t.meta.name,
        "current_snapshot": t.meta.current_snapshot_id,
        "probe_rows": probe,
    }


def cmd_discover(cfg: dict) -> dict:
    """Table → stream-catalog JSON (the streams.json analog)."""
    spark = _spark(cfg)
    t = _load_table(spark, cfg)
    entries = t.data_entries()
    dels = t.delete_entries()
    return {
        "streams": [
            {
                "name": t.meta.name,
                "namespace": os.path.basename(os.path.dirname(t.location)) or "default",
                "type_schema": json.loads(t.meta.schema_json),
                "primary_keys": t.meta.identifier_fields,
                "partition_spec": t.meta.partition_spec,
                "sync_modes": ["full_refresh", "cdc"],
                "stats": {
                    # data files only: delete manifests mask rows, they
                    # don't add them (rows here is the pre-delete upper
                    # bound; exact count requires the scan-side anti-join)
                    "files": len(entries),
                    "rows": sum(e.record_count for e in entries),
                    "bytes": sum(e.file_size_bytes for e in entries),
                    "delete_files": len(dels),
                    "pending_delete_keys": sum(e.record_count for e in dels),
                },
                "snapshots": [
                    {
                        "id": s.snapshot_id,
                        "operation": s.operation,
                        "timestamp_ms": s.timestamp_ms,
                        "summary": s.summary,
                    }
                    for s in t.meta.snapshots
                ],
            }
        ]
    }


def cmd_sync(cfg: dict) -> dict:
    """Run the staged maintenance pipeline, resumable per stage/unit."""
    from olake_spark.operators.clustering import cluster
    from olake_spark.operators.compaction import compact
    from olake_spark.operators.expire import expire_snapshots
    from olake_spark.operators.manifests import rewrite_manifests
    from olake_spark.operators.merge import merge_into
    from olake_spark.plans.lineage import LineageManifest
    from olake_spark.streaming import cdc_stream_merge

    spark = _spark(cfg)
    t = _load_table(spark, cfg)
    job_id = _job_id(cfg)
    lineage_path = cfg.get("lineage_path") or os.path.join(
        t.location, "metadata", f"lineage-{job_id}.json"
    )
    lin = LineageManifest(lineage_path, job_id)
    from olake_spark.plans.filters import apply_stream_filter

    def _source(s: dict):
        """Read a stage's source_dir with the per-stream user filter
        applied BEFORE anything else — Catalyst pushes it into the
        parquet scan (the engine's jdbc.SQLFilter analog)."""
        src = spark.read.parquet(s["source_dir"])
        return apply_stream_filter(src, s.get("filter"))

    def exec_stage(i: int, stage_id: str, s: dict, stage_lin=None) -> dict:
        op = s["op"]
        if op == "append":
            from olake_spark.operators.ingest import append_batch
            from olake_spark.table.evolution import align_batch

            return append_batch(
                t,
                align_batch(_source(s), t.schema),
                partition_regex=s.get("partition_regex"),
                lineage=stage_lin,
                stage=stage_id,
            )
        if op == "compact":
            # ticker=stats: Synced Records moves wave-by-wave during a
            # long compaction (compact's result carries no "rows" key,
            # so the per-stage bump below cannot double-count)
            return compact(
                t, target_size=s.get("target_size"), lineage=stage_lin,
                stage=stage_id, ticker=stats,
            )
        if op == "cluster":
            return cluster(
                t,
                curve=s.get("curve", "zorder"),
                target_size=s.get("target_size"),
                lineage=stage_lin,
                stage=stage_id,
                row_weight=s.get("row_weight", "length(bytes) + 64"),
            )
        if op == "cluster_incremental":
            from olake_spark.operators.incremental_cluster import cluster_incremental

            return cluster_incremental(
                t,
                curve=s.get("curve"),
                target_size=s.get("target_size"),
                max_bytes=s.get("max_bytes"),
                lineage=stage_lin,
                stage=stage_id,
                row_weight=s.get("row_weight", "length(bytes) + 64"),
            )
        if op == "resample":
            from olake_spark.operators.rewrite_payload import resample_table

            return resample_table(
                t,
                sr_out=s.get("sr_out", 16000),
                target_file_size=s.get("target_size"),
                lineage=stage_lin,
                stage=stage_id,
            )
        if op == "merge":
            return merge_into(t, _source(s), lineage=stage_lin, stage=stage_id)
        if op == "merge_mor":
            from olake_spark.operators.merge import merge_mor

            return merge_mor(t, _source(s), lineage=stage_lin, stage=stage_id)
        if op == "fold_deletes":
            from olake_spark.operators.merge import fold_deletes

            return fold_deletes(
                t, target_file_size=s.get("target_size"), lineage=stage_lin, stage=stage_id
            )
        if op == "cdc_merge":
            flt = s.get("filter")
            return cdc_stream_merge(
                t,
                s["source_dir"],
                s.get("checkpoint_dir")
                or os.path.join(t.location, "metadata", f"ckpt-{job_id}-{i}"),
                fmt=s.get("fmt", "parquet"),
                mode=s.get("mode", "cow"),
                fold_every=s.get("fold_every"),
                # the user filter runs inside foreachBatch, before the
                # merge — per-batch exactly-once like the merge itself
                transform=(lambda df: apply_stream_filter(df, flt)) if flt else None,
            )
        if op == "rewrite_manifests":
            return rewrite_manifests(t)
        if op == "expire":
            return expire_snapshots(t, keep_last=s.get("keep_last", 2))
        if op == "gc_orphans":
            from olake_spark.operators.gc import remove_orphan_files

            return remove_orphan_files(
                t,
                older_than_ms=s.get("older_than_ms"),
                dry_run=s.get("dry_run", False),
            )
        if op == "rollback":
            snap = t.rollback_to(int(s["snapshot_id"]))
            return {"snapshot_id": snap.snapshot_id, "rolled_back_to": int(s["snapshot_id"])}
        if op == "build_blooms":
            from olake_spark.operators.bloom_backfill import build_blooms

            return build_blooms(t, fpp=s.get("fpp"))
        raise ValueError(f"unknown op {op!r}")

    from olake_spark.plans.ticker import StatsTicker

    stats_path = cfg.get("stats_path") or os.path.join(
        t.location, "metadata", f"stats-{job_id}.json"
    )
    results = []

    def _source_footer_rows(s: dict) -> int:
        """Planned row count for a source-consuming stage from parquet
        footers — driver-side metadata only, no Spark job. With a
        stream filter this is an upper bound, like the reference's
        chunk-plan estimate (AddRecordsToSyncStats is approximate
        there too)."""
        d = s.get("source_dir")
        if not d or not os.path.isdir(d):
            return 0
        import pyarrow.parquet as pq

        n = 0
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    try:
                        n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                    except Exception:
                        pass
        return n

    # A5: live stats.json ticker (2-second RPS/ETA/memory snapshots,
    # destination/writers.go:123-129 + logger.go:138-173). Stage rows
    # are known up front only for sized ops; rows synced bump per
    # completed stage — commit granularity, the honest unit here.
    with StatsTicker(stats_path) as stats:
        for i, s in enumerate(cfg.get("stages", [])):
            # seed Records To Sync so the ETA estimate is live (the
            # ticker reports 'Not Determined' until a total is known);
            # stages already completed in the lineage manifest will be
            # skipped and bump 0 synced rows, so a resumed job must not
            # count their planned rows either
            if not lin.stage_complete(f"{i:02d}-{s['op']}"):
                stats.add_records_to_sync(_source_footer_rows(s))
        for i, s in enumerate(cfg.get("stages", [])):
            op = s["op"]
            if op == "auto":
                # plan from current metadata, run what's due. Auto stages run
                # WITHOUT the lineage manifest: their idempotence comes from
                # table state (a completed stage stops triggering), and a
                # recurring sync re-using the same job_id must not skip a
                # stage that has become due again since the last run.
                from olake_spark.plans.maintenance import plan_maintenance

                planned = plan_maintenance(t)
                for j, ps in enumerate(planned):
                    stage_id = f"{i:02d}-auto-{j:02d}-{ps['op']}"
                    stats.set_stage(stage_id)
                    r = exec_stage(i, stage_id, ps, stage_lin=None)
                    stats.record_synced(r.get("rows", r.get("written_rows", 0)) or 0)
                    results.append({"stage": stage_id, "reason": ps.get("reason"), **r})
                if not planned:
                    results.append({"stage": f"{i:02d}-auto", "planned": 0})
                continue
            stage_id = f"{i:02d}-{op}"
            stats.set_stage(stage_id)
            r = exec_stage(i, stage_id, s, stage_lin=lin)
            stats.record_synced(r.get("rows", r.get("written_rows", 0)) or 0)
            results.append({"stage": stage_id, **r})
    return {
        "job_id": job_id,
        "lineage": lineage_path,
        "stats": stats_path,
        "stages": results,
    }


def cmd_clear(cfg: dict) -> dict:
    """Trim history to the current snapshot and drop lineage files."""
    from olake_spark.operators.expire import expire_snapshots

    spark = _spark(cfg)
    t = _load_table(spark, cfg)
    r = expire_snapshots(t, keep_last=1)
    removed = 0
    mdir = os.path.join(t.location, "metadata")
    for f in os.listdir(mdir):
        if f.startswith("lineage-"):
            os.remove(os.path.join(mdir, f))
            removed += 1
    return {**r, "lineage_files_removed": removed}


def cmd_changelog(cfg: dict) -> dict:
    """Export the row-level change stream between snapshots (CDC out).

    Config: ``from_snapshot`` (exclusive; or ``since_timestamp_ms``
    resolved via snapshot_as_of), ``to_snapshot`` (inclusive; default
    current), ``output_dir`` + ``format`` ("parquet" | "json") to
    materialize the stream — JSON exports carry binary columns base64-
    encoded, the same wire shape the CDC landing reader accepts, so a
    downstream table can replay the export directly."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark = _spark(cfg)
    t = _load_table(spark, cfg)
    frm = cfg.get("from_snapshot")
    if frm is None and cfg.get("since_timestamp_ms") is not None:
        s = t.snapshot_as_of(int(cfg["since_timestamp_ms"]))
        frm = s.snapshot_id if s else None
    log = t.changelog(from_snapshot_id=frm, to_snapshot_id=cfg.get("to_snapshot"))
    if cfg.get("output_dir"):
        # counts + export are two actions over the same plan — cache so
        # the range's files are read (and the snapshot map joined) once
        log = log.cache()
    counts = {
        r["_change_type"]: r["n"]
        for r in log.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    out: dict = {
        "from_snapshot": frm,
        "to_snapshot": cfg.get("to_snapshot") or t.meta.current_snapshot_id,
        "inserts": int(counts.get("insert", 0)),
        "deletes": int(counts.get("delete", 0)),
    }
    out_dir = cfg.get("output_dir")
    if out_dir:
        fmt = cfg.get("format", "parquet")
        if fmt == "json":
            for f in t.schema.fields:
                if isinstance(f.dataType, T.BinaryType):
                    log = log.withColumn(f.name, F.base64(F.col(f.name)))
            log.write.mode("overwrite").json(out_dir)
        else:
            log.write.mode("overwrite").parquet(out_dir)
        out["output_dir"] = out_dir
        out["format"] = fmt
        log.unpersist()
    return out


VERBS = {
    "spec": cmd_spec,
    "check": cmd_check,
    "discover": cmd_discover,
    "sync": cmd_sync,
    "clear": cmd_clear,
    "changelog": cmd_changelog,
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="olake_spark")
    p.add_argument("verb", choices=sorted(VERBS))
    p.add_argument("--config", help="job spec JSON path (not needed for spec)")
    args = p.parse_args(argv)
    cfg = {}
    if args.config:
        with open(args.config) as f:
            cfg = json.load(f)
    out = VERBS[args.verb](cfg)
    print(json.dumps(out, indent=1, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
