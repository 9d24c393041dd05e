"""Incremental clustering: bootstrap, localized rewrite, budget
convergence, scan equivalence (operators/incremental_cluster.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from olake_spark.fixtures.audio_clips import FULL_SCHEMA, generate_clips
from olake_spark.operators.clustering import BOUNDS_PROP, CURVE_PROP, KEY_COL
from olake_spark.operators.incremental_cluster import (
    cluster_incremental,
    read_amplification,
)
from olake_spark.table import Table

# PCM s16le size from metadata: boundary samples never touch the payload
PCM_W = "cast(dur_ms as bigint) * sr_hz / 500 + 64"


def _content_hash(df):
    return (
        df.select(F.md5(F.concat_ws("|", "clip_id", "transcript", "_olake_id")).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s"))
        .first()["s"]
    )


def _append(t, df, groups=3):
    df = df.withColumn("_olake_id", F.md5("clip_id"))
    t.commit_append(
        t.write_datafiles(df, ranged=True, num_groups=groups)
    )


@pytest.fixture()
def clustered_table(spark, tmp_table_dir):
    """600 clips in fragmented appends, then a bootstrap hilbert
    clustering (small target size -> many range files)."""
    t = Table.create(
        spark,
        tmp_table_dir,
        "audio_clips",
        FULL_SCHEMA,
        identifier_fields=["_olake_id"],
        properties={
            "write.target-file-size-bytes": str(256 * 1024),
            "stats.columns": '["_olake_id", "dur_ms", "sr_hz"]',
        },
    )
    for k in range(3):
        df = generate_clips(spark, 200).withColumn(
            "clip_id", F.concat(F.lit(f"g{k}_"), F.col("clip_id"))
        )
        _append(t, df)
    m = cluster_incremental(t, curve="hilbert", row_weight=PCM_W)
    assert m["mode"] == "full"
    return t


class TestIncrementalCluster:
    def test_bootstrap_records_state_then_noop(self, clustered_table):
        t = clustered_table
        assert t.meta.properties[CURVE_PROP] == "hilbert"
        b = json.loads(t.meta.properties[BOUNDS_PROP])
        assert set(b) == {"dur_ms", "sr_hz"}
        # every clustered file carries curve-key bounds in the manifest
        assert all(e.lower_bounds.get(KEY_COL) is not None for e in t.entries())
        # disjoint layout -> nothing to do
        m = cluster_incremental(t, row_weight=PCM_W)
        assert m["mode"] == "noop"
        assert m["read_amp"] <= 1.05

    def test_localized_newcomers_rewrite_few_files(self, spark, clustered_table):
        t = clustered_table
        n_files_before = len(t.entries())
        # newcomers confined to one corner of the (dur, sr) plane ->
        # a narrow hilbert span -> most sorted files carried over
        new = generate_clips(spark, 400).filter(
            "dur_ms < 130 and sr_hz = 8000"
        ).withColumn("clip_id", F.concat(F.lit("inc_"), F.col("clip_id")))
        _append(t, new, groups=2)
        h1 = _content_hash(t.scan())
        n_rows = t.scan().count()

        m = cluster_incremental(t, row_weight=PCM_W)
        assert m["mode"] == "incremental"
        assert m["newcomers"] >= 2
        # localization is the point: untouched files survive the commit
        assert m["carried_over"] > 0
        assert m["files_in"] < m["files_total"]
        # content unchanged, layout disjoint again
        assert t.scan().count() == n_rows
        assert _content_hash(t.scan()) == h1
        assert m["read_amp_after"] <= m["read_amp_before"]
        follow = cluster_incremental(t, row_weight=PCM_W)
        assert follow["mode"] == "noop"
        assert follow["read_amp"] <= 1.05
        # the rewrite's own files carry key bounds (sorted from now on)
        assert all(e.lower_bounds.get(KEY_COL) is not None for e in t.entries())
        assert len(t.entries()) >= n_files_before  # sanity: table grew

    def test_budget_caps_bytes_and_converges(self, spark, clustered_table):
        t = clustered_table
        # zorder-like worst case under hilbert: newcomers spanning the
        # whole (dur, sr) plane -> every component intersects the span;
        # a byte budget keeps each run bounded, repeated runs converge
        new = generate_clips(spark, 200).withColumn(
            "clip_id", F.concat(F.lit("wide_"), F.col("clip_id"))
        )
        _append(t, new, groups=2)
        h1 = _content_hash(t.scan())
        budget = 600 * 1024

        m = cluster_incremental(t, row_weight=PCM_W, max_bytes=budget)
        assert m["mode"] == "incremental"
        # the budget bit: not every sorted file is pulled into run 1
        assert m["overlap_files"] < m["files_total"] - m["newcomers"]

        # iterate to fixpoint
        for _ in range(12):
            m = cluster_incremental(t, row_weight=PCM_W, max_bytes=budget)
            if m["mode"] == "noop":
                break
        assert m["mode"] == "noop"
        assert m["read_amp"] <= 1.05
        assert _content_hash(t.scan()) == h1

    def test_curve_change_triggers_full(self, clustered_table):
        t = clustered_table
        m = cluster_incremental(t, curve="zorder", row_weight=PCM_W)
        assert m["mode"] == "full"
        assert t.meta.properties[CURVE_PROP] == "zorder"

    def test_key_version_mismatch_triggers_full(self, clustered_table):
        """Manifest __curve_key bounds from a DIFFERENT key hash must
        never be range-joined against newly computed keys — a version
        mismatch (a table clustered by an older build) re-bootstraps
        with a full pass and re-stamps the current version."""
        from olake_spark.functions.zcurve import KEY_VERSIONS
        from olake_spark.operators.clustering import VERSION_PROP

        t = clustered_table
        assert t.meta.properties[VERSION_PROP] == str(KEY_VERSIONS["hilbert"])
        # simulate a table clustered by a build with a different hash
        t.commit_replace(set(), [], operation="test-downgrade",
                         properties={VERSION_PROP: "0"})
        m = cluster_incremental(t, row_weight=PCM_W)
        assert m["mode"] == "full"
        assert t.meta.properties[VERSION_PROP] == str(KEY_VERSIONS["hilbert"])

    def test_read_amplification_metric(self, clustered_table):
        t = clustered_table
        entries = t.entries()
        # disjoint clustered layout: ~1 file covers a random point
        assert 0.5 <= read_amplification(entries) <= 1.05
