"""Structured-Streaming CDC tail tests (SURVEY.md §2.10).

Scenario mirrors the reference's matrix Full-Refresh → CDC insert →
update → delete (utils/testutils/test_utils.go:323-352): land CDC
batches as parquet files, drain with Trigger.AvailableNow into a
foreachBatch MERGE, then assert the table equals applying the batches
in commit-sequence order. Restart with the same checkpoint must be a
no-op (T5 offset-commit semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olake_spark.fixtures.audio_clips import CLIP_SCHEMA, FULL_SCHEMA, cdc_batch, generate_clips
from olake_spark.streaming import cdc_stream_merge, windowed_event_stats
from olake_spark.table.table import Table

BASE_N = 120


def _mk_table(spark, path):
    t = Table.create(
        spark,
        path,
        "audio_clips",
        FULL_SCHEMA,
        identifier_fields=["_olake_id"],
        properties={"stats.columns": '["_olake_id"]'},
    )
    t.commit_append(t.write_datafiles(generate_clips(spark, BASE_N, partitions=4)))
    return t


def _land(df, landing, name):
    df.coalesce(1).write.parquet(os.path.join(landing, name))


def test_cdc_stream_merge_applies_batches(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "tbl"))
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    b1 = cdc_batch(spark, BASE_N, 1, updates=10, deletes=5, inserts=3, dup_keys=2)
    b2 = cdc_batch(spark, BASE_N, 2, updates=6, deletes=2, inserts=2)
    _land(b1, landing, "batch1")
    _land(b2, landing, "batch2")

    # one landed file per micro-batch → deterministic per-batch winners
    prog = cdc_stream_merge(t, landing, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    # rows counts post-dedup winners (one per key per batch) — the
    # merge path scans each batch exactly once, so there is no raw
    # pre-dedup count anymore
    exp = (
        b1.select("_olake_id").distinct().count()
        + b2.select("_olake_id").distinct().count()
    )
    assert prog["batches"] == 2
    assert prog["rows"] == exp

    # oracle: apply the union as one deduped batch (order-free by design
    # — commit seq is total, iceberg.go:234-266)
    final = {r["_olake_id"]: r for r in t.scan().select("_olake_id", "transcript").collect()}
    union = b1.unionAll(b2)
    w_latest = union.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("_olake_id").orderBy(F.desc("_cdc_timestamp"))
        ),
    ).filter("rn = 1")
    expected_dead = {r["_olake_id"] for r in w_latest.filter("_op_type = 'd'").collect()}
    expected_live = {
        r["_olake_id"]: r["transcript"]
        for r in w_latest.filter("_op_type <> 'd'").collect()
    }
    for k in expected_dead:
        assert k not in final
    for k, tr in expected_live.items():
        assert final[k]["transcript"] == tr

    # bounded-run restart with same checkpoint: no new batches (T4/T5)
    snap_before = t.meta.current_snapshot_id
    prog2 = cdc_stream_merge(t, landing, str(tmp_path / "ckpt"))
    assert prog2["batches"] == 0
    assert t.refresh().meta.current_snapshot_id == snap_before


def test_cdc_stream_new_files_only(spark, tmp_path):
    """Second bounded run picks up only newly-landed files."""
    t = _mk_table(spark, str(tmp_path / "tbl"))
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    _land(cdc_batch(spark, BASE_N, 1, updates=5), landing, "batch1")
    cdc_stream_merge(t, landing, str(tmp_path / "ckpt"))
    n_after_1 = t.scan().count()

    _land(cdc_batch(spark, BASE_N, 2, inserts=7), landing, "batch2")
    prog = cdc_stream_merge(t, landing, str(tmp_path / "ckpt"))
    assert prog["batches"] == 1
    assert t.refresh().scan().count() == n_after_1 + 7


def test_windowed_event_stats_matches_batch(spark, tmp_path):
    """Watermarked streaming window == plain batch groupBy on a
    bounded replay (AvailableNow processes everything, nothing late)."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    b = cdc_batch(spark, BASE_N, 1, updates=20, deletes=10, inserts=5)
    _land(b, landing, "batch1")

    stream_df = windowed_event_stats(
        spark, landing, CLIP_SCHEMA + ", _olake_id string", window="10 minutes"
    )
    q = (
        stream_df.writeStream.format("memory")
        .queryName("win_stats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["_op_type"]): r["n_ops"]
        for r in spark.table("win_stats").collect()
    }
    expected = {
        (r["ws"], r["_op_type"]): r["n"]
        for r in b.groupBy(
            F.window("_cdc_timestamp", "10 minutes").start.alias("ws"), "_op_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected


def test_cdc_stream_merge_json_landing(spark, tmp_path):
    """JSON-record landing (the reference's decoded WAL/binlog shape):
    binary payloads base64-encoded, timestamps as strings — stream
    drain must align and merge identically to the parquet path."""
    t = _mk_table(spark, str(tmp_path / "tbl"))
    landing = str(tmp_path / "landing_json")
    os.makedirs(landing)
    batch = cdc_batch(spark, BASE_N, 1, updates=5, deletes=2, inserts=3)
    (
        batch.withColumn("bytes", F.base64("bytes"))
        .withColumn("_cdc_timestamp", F.col("_cdc_timestamp").cast("string"))
        .withColumn("_olake_timestamp", F.col("_olake_timestamp").cast("string"))
        .coalesce(1)
        .write.json(os.path.join(landing, "batch1"))
    )
    prog = cdc_stream_merge(t, landing, str(tmp_path / "ckpt_json"), fmt="json")
    assert prog["rows"] == batch.count()

    n_del = batch.filter("_op_type = 'd'").count()
    got = t.scan()
    assert got.count() == BASE_N - n_del + 3
    # payload survived the base64 round trip bit-exactly
    ins = batch.filter("_op_type = 'c'").select("clip_id", "bytes").collect()
    for r in ins:
        stored = got.filter(F.col("clip_id") == r["clip_id"]).select("bytes").first()
        assert bytes(stored["bytes"]) == bytes(r["bytes"])


class TestKafkaBoundedSource:
    """Option construction + record decoding for the Kafka CDC source
    (drivers/kafka/internal/cdc.go:54-113) — no broker in the sandbox,
    so the pure halves are verified and the reader builders stay thin
    wrappers over spark.read[Stream].format("kafka")."""

    def test_offsets_json_shape(self):
        from olake_spark.streaming import offsets_json

        s = offsets_json({"clips": {0: 123, 1: -1}, "aux": {0: -2}})
        import json as _json

        assert _json.loads(s) == {"clips": {"0": 123, "1": -1}, "aux": {"0": -2}}

    def test_build_options_bounded(self):
        from olake_spark.streaming import build_kafka_options

        opts = build_kafka_options(
            "broker1:9092,broker2:9092",
            ["clips", "aux"],
            starting_offsets={"clips": {0: 5, 1: 7}, "aux": {0: -2}},
            ending_offsets={"clips": {0: 100, 1: 200}, "aux": {0: -1}},
            group_id_prefix="olake",
            max_offsets_per_trigger=10_000,
        )
        assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
        assert opts["subscribe"] == "clips,aux"
        assert opts["failOnDataLoss"] == "false"
        assert opts["groupIdPrefix"] == "olake"
        assert opts["maxOffsetsPerTrigger"] == "10000"
        import json as _json

        assert _json.loads(opts["startingOffsets"])["clips"] == {"0": 5, "1": 7}
        # the captured end-offset map, exactly as cdc.go:98-106 bounds
        # each partition
        assert _json.loads(opts["endingOffsets"])["clips"] == {"0": 100, "1": 200}

    def test_decode_cdc_records_round_trip(self, spark):
        """A Kafka value payload (JSON, bytes base64) decodes to the
        same table-shaped rows the JSONL landing path produces."""
        from olake_spark.streaming import decode_cdc_records

        batch = cdc_batch(spark, 32, 1, updates=4, deletes=2, inserts=1)
        schema = batch.schema
        wire = batch.select(
            F.to_json(
                F.struct(
                    *[
                        F.base64(c).alias(c) if c == "bytes" else F.col(c)
                        for c in batch.columns
                    ]
                )
            ).cast("binary").alias("value"),
            F.lit(None).cast("binary").alias("key"),
            F.lit("clips").alias("topic"),
            F.lit(0).alias("partition"),
            F.monotonically_increasing_id().alias("offset"),
            F.current_timestamp().alias("timestamp"),
        )
        decoded = decode_cdc_records(wire, schema)
        # same names+types (nullability relaxes through JSON)
        assert decoded.schema.simpleString() == schema.simpleString()
        orig = {r["_olake_id"]: r for r in batch.collect()}
        got = decoded.collect()
        assert len(got) == len(orig)
        for r in got:
            o = orig[r["_olake_id"]]
            assert bytes(r["bytes"] or b"") == bytes(o["bytes"] or b"")
            assert r["transcript"] == o["transcript"]
            assert r["_op_type"] == o["_op_type"]
            assert r["_cdc_timestamp"] == o["_cdc_timestamp"]


def test_stateful_cursor_tracker_accumulates(spark, tmp_path):
    """applyInPandasWithState cursor tracker: state persists across
    micro-batches within a run — the streaming analog of the
    reference's running max cursor (incremental.go:149-159)."""
    from olake_spark.streaming.stateful import track_cursor_stream

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    b1 = cdc_batch(spark, BASE_N, 1, updates=10)
    _land(b1, landing, "batch1")

    src = (
        spark.readStream.schema(CLIP_SCHEMA + ", _olake_id string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    tracked = track_cursor_stream(
        src.withColumn("stream_name", F.lit("audio_clips")),
        "stream_name",
        "unix_micros(_cdc_timestamp)",
    )
    q = (
        tracked.writeStream.format("memory")
        .queryName("cursors")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.table("cursors").collect()
    assert rows, "tracker emitted nothing"
    last = max(rows, key=lambda r: r["n_rows"])
    exp_max = b1.selectExpr("max(unix_micros(_cdc_timestamp))").first()[0]
    assert last["stream"] == "audio_clips"
    assert last["max_cursor"] == exp_max
    assert last["n_rows"] == b1.count()


def test_append_mode_windows_finalize_once_past_watermark(spark, tmp_path):
    """T4 watermark protocol, APPEND mode: a window emits EXACTLY once,
    only after the watermark (max event time − delay) passes its end,
    with the full count — the deterministic-replay property the
    reference's wall-clock ticker cannot give. (Note: this Spark build
    does not filter watermark-late input rows — they re-open their
    window and emit on the next eviction — so lateness handling is
    pinned at the emission protocol, not input dropping.)"""
    import datetime as dt
    import time as _time

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    schema = CLIP_SCHEMA + ", _olake_id string"
    t0 = dt.datetime(2026, 1, 2, 12, 0, 0)

    def rows(ts, op, n, tag):
        return [
            (f"c{tag}{i}", b"", 8000, 40, "pcm_s16le", "t", op, ts, ts, f"id{tag}{i}")
            for i in range(n)
        ]

    _land(spark.createDataFrame(rows(t0, "u", 4, "a"), schema), landing, "batch1")
    _time.sleep(1.1)  # file source orders micro-batches by mtime
    # batch2 adds to the SAME window — must fold into the single emission
    _land(
        spark.createDataFrame(rows(t0 + dt.timedelta(minutes=5), "u", 2, "b"), schema),
        landing,
        "batch2",
    )
    _time.sleep(1.1)
    # batch3 pushes the watermark past the 12:00 window end → finalize
    _land(
        spark.createDataFrame(rows(t0 + dt.timedelta(hours=4), "r", 1, "z"), schema),
        landing,
        "batch3",
    )

    stream_df = windowed_event_stats(
        spark, landing, schema, window="1 hour", watermark="2 hours",
        max_files_per_trigger=1,
    )
    q = (
        stream_df.writeStream.format("memory")
        .queryName("final_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("final_stats").collect()
    rows_by_key = {}
    for r in got:
        rows_by_key.setdefault((r["window_start"], r["_op_type"]), []).append(r["n_ops"])
    # the on-time window emitted exactly ONCE, with the merged count
    assert rows_by_key[(t0.replace(minute=0), "u")] == [6]
    # the unfinalized tail window (watermark has not passed it) is absent
    assert (t0 + dt.timedelta(hours=4), "r") not in rows_by_key


class TestStreamingMoR:
    """mode='mor': the reference's actual streaming write path —
    O(batch) delete+data commits per micro-batch, periodic folding."""

    def test_mor_stream_matches_cow_result(self, spark, tmp_path):
        t_cow = _mk_table(spark, str(tmp_path / "tbl_cow"))
        t_mor = _mk_table(spark, str(tmp_path / "tbl_mor"))
        landing = str(tmp_path / "landing")
        os.makedirs(landing)
        _land(cdc_batch(spark, BASE_N, 1, updates=8, deletes=3), landing, "batch1")
        _land(cdc_batch(spark, BASE_N, 2, inserts=5, updates=2), landing, "batch2")

        p1 = cdc_stream_merge(t_cow, landing, str(tmp_path / "ck1"), max_files_per_trigger=1)
        p2 = cdc_stream_merge(
            t_mor, landing, str(tmp_path / "ck2"), max_files_per_trigger=1, mode="mor"
        )
        assert p1["batches"] == p2["batches"] == 2
        # MoR never rewrote base files: the delete files are still live
        assert len(t_mor.delete_entries()) == 2
        cow = {(r._olake_id, r.transcript) for r in t_cow.scan().collect()}
        mor = {(r._olake_id, r.transcript) for r in t_mor.scan().collect()}
        assert cow == mor

    def test_mor_stream_fold_every(self, spark, tmp_path):
        t = _mk_table(spark, str(tmp_path / "tbl"))
        landing = str(tmp_path / "landing")
        os.makedirs(landing)
        _land(cdc_batch(spark, BASE_N, 1, updates=6), landing, "batch1")
        _land(cdc_batch(spark, BASE_N, 2, deletes=4), landing, "batch2")
        _land(cdc_batch(spark, BASE_N, 3, inserts=3), landing, "batch3")
        prog = cdc_stream_merge(
            t,
            landing,
            str(tmp_path / "ck"),
            max_files_per_trigger=1,
            mode="mor",
            fold_every=2,
        )
        assert prog["batches"] == 3
        # one mid-stream fold (after batch 2) + the end-of-run fold
        assert prog["folds"] == 2
        # fully folded: scans are delete-free again
        assert t.delete_entries() == []
        n_del = 4  # batch-2 delete stride has no collisions with batch 1/3
        assert t.scan().count() == BASE_N - n_del + 3

    def test_transform_hook_enriches_rows(self, spark, tmp_path):
        """Payload enrichment at ingestion: a loudness column computed
        by an Arrow-batched stage inside foreachBatch, exactly-once
        with the merge."""
        # table schema = clip schema + rms_dbfs double
        t = Table.create(
            spark,
            str(tmp_path / "tbl"),
            "audio_clips_enriched",
            FULL_SCHEMA + ", rms_dbfs double",
            identifier_fields=["_olake_id"],
            properties={"stats.columns": '["_olake_id"]'},
        )

        def enrich(df):
            from olake_spark.functions.dsp import loudness_stage

            stats = df.select("clip_id", "bytes", "codec").mapInPandas(
                loudness_stage(), schema="clip_id string, n_samples int, rms_dbfs double, peak_dbfs double"
            ).select("clip_id", "rms_dbfs")
            # the stream reader padded the missing column with nulls —
            # replace it with the computed one
            return df.drop("rms_dbfs").join(stats, "clip_id")

        landing = str(tmp_path / "landing")
        os.makedirs(landing)
        _land(cdc_batch(spark, 0, 1, inserts=10), landing, "batch1")
        prog = cdc_stream_merge(
            t, landing, str(tmp_path / "ck"), mode="mor", transform=enrich
        )
        assert prog["rows"] == 10
        rows = t.scan().select("clip_id", "rms_dbfs").collect()
        assert len(rows) == 10
        assert all(r.rms_dbfs is not None and -20.0 < r.rms_dbfs < -3.0 for r in rows)

    def test_bad_mode_rejected(self, spark, tmp_path):
        t = _mk_table(spark, str(tmp_path / "tbl"))
        import pytest as _pytest

        with _pytest.raises(ValueError, match="mode"):
            cdc_stream_merge(t, str(tmp_path), str(tmp_path / "ck"), mode="nope")


# --------------------------------------------------------------- T3 live:
# raw Mongo change-stream JSONL landing, decoded per batch inside the
# stream, resume token check-pointed ONLY after each batch's merge
# commit (PostCDC ordering, drivers/mongodb/internal/cdc.go:178-189).

import json as _json

from pyspark.sql import types as T

MONGO_TBL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("_op_type", T.StringType()),
        T.StructField("_cdc_timestamp", T.TimestampType()),
        T.StructField("_olake_timestamp", T.TimestampType()),
    ]
)


def _mongo_evt(op, t_sec, inc, full=None, key=None):
    tok = "82" + format(t_sec, "08x") + format(inc, "08x") + "aa" * 4
    doc = {
        "_id": {"_data": tok},
        "operationType": op,
        "clusterTime": {"t": t_sec, "i": inc},
        "wallTime": "2026-01-03 00:00:07",
    }
    if full is not None:
        doc["fullDocument"] = full
    if key is not None:
        doc["documentKey"] = key
    return _json.dumps(doc)


def _land_mongo(landing, name, events):
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, name), "w") as f:
        f.write("\n".join(events) + "\n")


class TestMongoChangeStreamLanding:
    def _mk(self, spark, path):
        return Table.create(
            spark, path, "mdocs", MONGO_TBL_SCHEMA, identifier_fields=["id"]
        )

    def test_insert_update_delete_and_cursor_after_commit(self, spark, tmp_path):
        from olake_spark.streaming.cdc import read_mongo_cursor

        t = self._mk(spark, str(tmp_path / "tbl"))
        landing = str(tmp_path / "landing")
        ckpt = str(tmp_path / "ckpt")
        _land_mongo(
            landing,
            "b1.jsonl",
            [
                _mongo_evt("insert", 1767000001, i + 1, full={"id": str(i), "name": f"n{i}", "payload": "0a0b"})
                for i in range(5)
            ],
        )
        r1 = cdc_stream_merge(t, landing, ckpt, fmt="mongo_jsonl", mode="mor")
        assert r1["rows"] == 5
        cur1 = read_mongo_cursor(r1["mongo_cursor"])
        assert cur1["op_time"] == [1767000001, 5]
        got = {r["id"]: r for r in t.scan().collect()}
        assert set(got) == set(range(5))
        assert got[0]["name"] == "n0" and bytes(got[0]["payload"]) == b"\x0a\x0b"

        # batch 2: update id=1, delete id=2 — cursor advances with it
        _land_mongo(
            landing,
            "b2.jsonl",
            [
                _mongo_evt("update", 1767000009, 1, full={"id": "1", "name": "n1v2", "payload": "0c"}),
                _mongo_evt("delete", 1767000009, 2, key={"id": "2"}),
            ],
        )
        r2 = cdc_stream_merge(t, landing, ckpt, fmt="mongo_jsonl", mode="mor")
        cur2 = read_mongo_cursor(r2["mongo_cursor"])
        assert cur2["op_time"] == [1767000009, 2]
        got = {r["id"]: r for r in t.scan().collect()}
        assert set(got) == {0, 1, 3, 4}
        assert got[1]["name"] == "n1v2"

        # restart with nothing new: no-op — same snapshot, same cursor
        snap_before = t.meta.current_snapshot_id
        r3 = cdc_stream_merge(t, landing, ckpt, fmt="mongo_jsonl", mode="mor")
        assert r3["batches"] == 0 and r3["rows"] == 0
        t.refresh()
        assert t.meta.current_snapshot_id == snap_before
        assert read_mongo_cursor(r3["mongo_cursor"]) == cur2

    def test_cursor_not_advanced_when_batch_fails(self, spark, tmp_path):
        """Commit-after-write: a batch whose merge never commits must
        leave the resume cursor untouched."""
        import pytest as _pytest

        from olake_spark.streaming.cdc import read_mongo_cursor

        t = self._mk(spark, str(tmp_path / "tbl"))
        landing = str(tmp_path / "landing")
        ckpt = str(tmp_path / "ckpt")
        _land_mongo(
            landing,
            "b1.jsonl",
            [_mongo_evt("insert", 1767000002, 1, full={"id": "9", "name": "x", "payload": "00"})],
        )

        def boom(df):
            raise RuntimeError("transform failed before merge")

        with _pytest.raises(Exception):
            cdc_stream_merge(
                t, landing, ckpt, fmt="mongo_jsonl", mode="mor",
                transform=boom,
            )
        cursor_path = os.path.join(ckpt, "mongo_cursor.json")
        assert read_mongo_cursor(cursor_path) is None
        assert t.scan().count() == 0

    def test_cursor_path_rejected_for_other_formats(self, spark, tmp_path):
        import pytest as _pytest

        t = self._mk(spark, str(tmp_path / "tbl"))
        with _pytest.raises(ValueError, match="mongo_cursor_path"):
            cdc_stream_merge(
                t, str(tmp_path / "landing"), str(tmp_path / "ckpt"),
                fmt="parquet", mongo_cursor_path="/tmp/x.json",
            )
