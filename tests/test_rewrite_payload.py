"""Payload-rewrite maintenance: resample conformance, manifest-first
file selection, pass-through fidelity, idempotence."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from olake_spark.fixtures.audio_clips import FULL_SCHEMA, generate_clips
from olake_spark.functions.audio import decode_pcm_s16le, synth_waveform
from olake_spark.functions.dsp import resample_linear
from olake_spark.operators.rewrite_payload import resample_table, rewrite_payload
from olake_spark.table import Table


@pytest.fixture()
def mixed_rate_table(spark, tmp_table_dir):
    """One file of already-conformant 16 kHz clips + mixed-rate files.

    generate_clips cycles sr over {8000,16000,22050,44100} by index;
    filtering builds the controlled per-file rate layout."""
    t = Table.create(
        spark,
        tmp_table_dir,
        "audio_clips",
        FULL_SCHEMA,
        identifier_fields=["_olake_id"],
        properties={
            "write.target-file-size-bytes": str(1 << 20),
            "stats.columns": '["_olake_id", "sr_hz", "dur_ms"]',
        },
    )
    base = generate_clips(spark, 160)
    pure = base.filter("sr_hz = 16000").withColumn(
        "clip_id", F.concat(F.lit("pure_"), F.col("clip_id"))
    )
    mixed = base.withColumn("clip_id", F.concat(F.lit("mix_"), F.col("clip_id")))
    for df, groups in ((pure, 1), (mixed, 3)):
        df = df.withColumn("_olake_id", F.md5("clip_id"))
        t.commit_append(
            t.write_datafiles(df, ranged=True, num_groups=groups)
        )
    return t


class TestResampleTable:
    def test_conformance_and_manifest_pruning(self, spark, mixed_rate_table):
        t = mixed_rate_table
        n0 = t.scan().count()
        pure_paths = {
            e.path
            for e in t.entries()
            if int(e.lower_bounds["sr_hz"]) == int(e.upper_bounds["sr_hz"]) == 16000
        }
        assert pure_paths  # the all-16k file exists and has tight stats

        m = resample_table(t, sr_out=16000)
        assert m["mode"] == "rewrite"
        # the conformant file was never read or rewritten
        assert m["carried_over"] >= len(pure_paths)
        assert pure_paths <= {e.path for e in t.entries()}
        # every clip now at the common rate; row count and text intact
        assert t.scan().count() == n0
        assert t.scan().filter("sr_hz != 16000").count() == 0
        assert t.scan().filter("transcript IS NULL").count() == 0

        # idempotence: nothing left to select -> metadata-only no-op
        v_before = t.meta.version
        m2 = resample_table(t, sr_out=16000)
        assert m2["mode"] == "noop" and t.meta.version == v_before

    def test_resampled_pcm_matches_reference_exactly(self, spark, mixed_rate_table):
        t = mixed_rate_table
        resample_table(t, sr_out=16000)
        rows = (
            t.scan()
            .filter("clip_id like 'mix_%'")
            .select("clip_id", "bytes", "dur_ms")
            .limit(8)
            .collect()
        )
        assert rows
        from olake_spark.functions.audio import encode_pcm_s16le

        for r in rows:
            i = int(r["clip_id"].rsplit("_", 1)[1])
            sr_in = int([8000, 16000, 22050, 44100][i % 4])
            ref = synth_waveform(i, sr_in, int(r["dur_ms"]))
            # mirror the stored chain exactly: the table held QUANTIZED
            # pcm; non-conformant rows were resampled + re-quantized,
            # already-16k rows passed through byte-identical
            stored = decode_pcm_s16le(encode_pcm_s16le(ref))
            if sr_in == 16000:
                want = stored
            else:
                want = decode_pcm_s16le(
                    encode_pcm_s16le(resample_linear(stored, sr_in, 16000))
                )
            got = decode_pcm_s16le(bytes(r["bytes"]))
            # operator and oracle share the numpy path -> bit-identical
            assert np.array_equal(got, want)

    def test_passthrough_rows_in_mixed_files_unchanged(self, spark, mixed_rate_table):
        t = mixed_rate_table
        before = {
            r["clip_id"]: bytes(r["bytes"])
            for r in t.scan()
            .filter("clip_id like 'mix_%' and sr_hz = 16000")
            .select("clip_id", "bytes")
            .limit(5)
            .collect()
        }
        assert before
        resample_table(t, sr_out=16000)
        after = {
            r["clip_id"]: bytes(r["bytes"])
            for r in t.scan()
            .filter(F.col("clip_id").isin(*before.keys()))
            .select("clip_id", "bytes")
            .collect()
        }
        assert after == before  # already-conformant rows byte-identical


class TestRewritePayloadGeneric:
    def test_gain_transform_all_files(self, spark, mixed_rate_table):
        t = mixed_rate_table

        def halve(pdf):
            out = pdf.copy()
            out["bytes"] = [
                (np.frombuffer(bytes(b), dtype="<i2") // 2).astype("<i2").tobytes()
                for b in pdf["bytes"]
            ]
            return out

        one = t.scan().select("clip_id", "bytes").limit(1).collect()[0]
        m = rewrite_payload(t, halve)
        assert m["mode"] == "rewrite" and m["carried_over"] == 0
        got = (
            t.scan().filter(F.col("clip_id") == one["clip_id"]).select("bytes").first()
        )
        want = (np.frombuffer(bytes(one["bytes"]), dtype="<i2") // 2).astype("<i2")
        assert np.array_equal(np.frombuffer(bytes(got["bytes"]), dtype="<i2"), want)
