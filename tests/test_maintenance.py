"""Compaction / clustering / expiry / manifest-rewrite / resume tests."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from olake_spark.fixtures.audio_clips import FULL_SCHEMA, generate_clips
from olake_spark.operators.clustering import cluster
from olake_spark.operators.compaction import compact, plan_compaction
from olake_spark.operators.expire import expire_snapshots
from olake_spark.operators.manifests import rewrite_manifests
from olake_spark.plans.ffd import first_fit_decreasing
from olake_spark.plans.lineage import LineageManifest
from olake_spark.table import Table


def _content_hash(df):
    return (
        df.select(F.md5(F.concat_ws("|", "clip_id", "transcript", "_olake_id")).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s"))
        .first()["s"]
    )


@pytest.fixture()
def fragmented_table(spark, tmp_table_dir):
    """A table with many small files: 6 appends of 30 rows each."""
    t = Table.create(
        spark, tmp_table_dir, "audio_clips", FULL_SCHEMA, identifier_fields=["_olake_id"],
        properties={"write.target-file-size-bytes": str(1 * 1024 * 1024)},
    )
    for k in range(6):
        df = generate_clips(spark, 30).withColumn(
            "clip_id", F.concat(F.lit(f"g{k}_"), F.col("clip_id"))
        ).withColumn("_olake_id", F.md5("clip_id"))
        t.commit_append(t.write_datafiles(df, ranged=True, num_groups=2))
    return t


class TestFFD:
    def test_packs_to_capacity(self):
        items = [(f"f{i}", s) for i, s in enumerate([70, 50, 40, 30, 20, 10])]
        bins = first_fit_decreasing(items, capacity=100)
        assert all(b.size <= 100 for b in bins)
        packed = [i for b in bins for i, _ in b.items]
        assert len(packed) == len(set(packed))
        # FFD on this input: [70,30], [50,40,10], [20] → last dropped (<2 items)
        sizes = sorted(tuple(sorted(s for _, s in b.items)) for b in bins)
        assert sizes == [(10, 40, 50), (30, 70)]

    def test_oversize_item_gets_own_bin_but_dropped(self):
        bins = first_fit_decreasing([("big", 500)], capacity=100)
        assert bins == []

    def test_min_items(self):
        bins = first_fit_decreasing([("a", 60), ("b", 60)], capacity=100, min_items_per_bin=1)
        assert len(bins) == 2


class TestCompaction:
    def test_compact_reduces_files_preserves_content(self, spark, fragmented_table):
        t = fragmented_table
        before_files = len(t.entries())
        before_rows = t.scan().count()
        h_before = _content_hash(t.scan())
        m = compact(t, target_size=64 * 1024 * 1024)
        assert m["bins"] >= 1
        after = t.entries()
        assert len(after) < before_files
        assert t.scan().count() == before_rows
        assert _content_hash(t.scan()) == h_before

    def test_plan_respects_partitions(self):
        from olake_spark.table.format import DataFileEntry

        entries = [
            DataFileEntry(f"p{i}", "grp=a" if i < 3 else "grp=b", 10, 100, {}, {})
            for i in range(6)
        ]
        bins = plan_compaction(entries, target_size=1000)
        for b in bins:
            parts = {("grp=a" if p.startswith("p0") or p in ("p0", "p1", "p2") else "grp=b") for p, _ in b.items}
            assert len(parts) == 1  # bins never span partitions

    def test_compaction_resume_skips_completed_waves(self, spark, fragmented_table, tmp_path):
        t = fragmented_table
        lin = LineageManifest(str(tmp_path / "lin.json"), "compact-job")
        m1 = compact(t, target_size=600 * 1024, lineage=lin, wave_bins=1)
        rows = t.scan().count()
        snap = t.meta.current_snapshot_id
        # rerun: all waves already done → no new snapshot
        lin2 = LineageManifest(str(tmp_path / "lin.json"), "compact-job")
        m2 = compact(t, target_size=600 * 1024, lineage=lin2, wave_bins=1)
        assert t.meta.current_snapshot_id == snap
        assert t.scan().count() == rows
        assert m2["files_in"] == 0  # nothing re-done
        assert m1["waves"] == m2["waves"]

    def test_compaction_resumes_after_mid_run_kill(
        self, spark, fragmented_table, tmp_path, monkeypatch
    ):
        """Kill after the first wave's commit → rerun completes the
        remaining waves from the persisted plan and skips wave 0
        (plan → persist → remove-on-complete, backfill.go:18-64)."""
        t = fragmented_table
        h_before = _content_hash(t.scan())
        path = str(tmp_path / "lin.json")
        real_commit = Table.commit_replace
        calls = {"n": 0}

        def dying_commit(self, *a, **kw):
            if calls["n"] >= 1:
                raise RuntimeError("simulated executor loss")
            calls["n"] += 1
            return real_commit(self, *a, **kw)

        monkeypatch.setattr(Table, "commit_replace", dying_commit)
        lin = LineageManifest(path, "kill-job")
        with pytest.raises(RuntimeError):
            compact(t, target_size=600 * 1024, lineage=lin, wave_bins=1)
        monkeypatch.setattr(Table, "commit_replace", real_commit)
        snap_after_kill = t.meta.current_snapshot_id
        assert lin.stage_complete("compact") is False
        # resume with a fresh handle + fresh lineage object, same job id
        t2 = Table.load(spark, t.location)
        lin2 = LineageManifest(path, "kill-job")
        done_before = set(lin2.metrics("compact"))
        compact(t2, target_size=600 * 1024, lineage=lin2, wave_bins=1)
        assert lin2.stage_complete("compact")
        # wave-0 was not re-done: its completion record is the original
        for u in done_before:
            assert lin2.metrics("compact")[u]["attempt_id"] == 1
        assert t2.meta.current_snapshot_id > snap_after_kill
        assert _content_hash(t2.scan()) == h_before
        assert t2.scan().count() == 180


class TestClustering:
    @pytest.mark.parametrize("curve", ["zorder", "hilbert"])
    def test_cluster_preserves_content_and_sorts(self, spark, fragmented_table, curve):
        t = fragmented_table
        h_before = _content_hash(t.scan())
        rows = t.scan().count()
        m = cluster(t, curve=curve, target_size=4 * 1024 * 1024)
        assert t.scan().count() == rows
        assert _content_hash(t.scan()) == h_before
        assert m["files"] >= 1
        assert t.meta.snapshot().operation == f"cluster-{curve}"

    def test_skew_cap_holds_on_skewed_data(self, spark, tmp_table_dir):
        """90% of rows share one (dur_ms, sr_hz) point → a single hot
        Hilbert key. Salting must keep max file ≤ cap × median."""
        t = Table.create(
            spark, tmp_table_dir, "skewed", FULL_SCHEMA, identifier_fields=["_olake_id"]
        )
        df = generate_clips(spark, 400, partitions=4)
        hot = F.col("clip_id") < f"clip_{360:012d}"
        df = df.withColumn("dur_ms", F.when(hot, 100).otherwise(F.col("dur_ms"))).withColumn(
            "sr_hz", F.when(hot, 16000).otherwise(F.col("sr_hz")))
        t.commit_append(t.write_datafiles(df))
        m = cluster(t, curve="hilbert", target_size=256 * 1024, skew_cap=2.0)
        assert m["salted_ranges"] >= 1
        sizes = np.array(m["per_file_bytes"])
        med = np.median(sizes)
        assert sizes.max() <= 2.6 * med, (sizes.max(), med, sizes)
        assert t.scan().count() == 400

    def test_clustered_scan_prunes_by_dur(self, spark, fragmented_table):
        """After Z-order clustering, dur_ms range queries touch a
        subset of files (the point of clustering)."""
        t = fragmented_table
        compact(t, target_size=64 * 1024 * 1024)
        cluster(t, curve="zorder", target_size=200 * 1024)
        if len(t.entries()) > 1:
            pruned = t.pruned_entries("dur_ms", lo=40, hi=60)
            assert len(pruned) <= len(t.entries())


class TestExpiry:
    def test_expire_keeps_current_and_frees_orphans(self, spark, fragmented_table):
        t = fragmented_table
        compact(t, target_size=64 * 1024 * 1024)
        n_snapshots = len(t.meta.snapshots)
        rows = t.scan().count()
        import os

        res = expire_snapshots(t, keep_last=1)
        assert res["expired"] == n_snapshots - 1
        assert res["deleted_files"] > 0
        assert t.scan().count() == rows  # current snapshot intact
        for e in t.entries():
            assert os.path.exists(os.path.join(t.location, e.path))

    def test_expire_preserves_pinned_retained_snapshot(self, spark, fragmented_table):
        t = fragmented_table
        s_old = t.meta.current_snapshot_id
        compact(t, target_size=64 * 1024 * 1024)
        expire_snapshots(t, keep_last=2)  # keeps compacted + parent
        assert t.scan(snapshot_id=s_old).count() == 180  # old snapshot still readable

    def test_expire_noop_when_nothing_old(self, spark, fragmented_table):
        t = fragmented_table
        res = expire_snapshots(t, keep_last=100)
        assert res == {"expired": 0, "deleted_files": 0, "freed_bytes": 0}


class TestManifestRewrite:
    def test_rewrite_consolidates(self, spark, fragmented_table):
        t = fragmented_table
        before = len(t.meta.snapshot().manifests)
        assert before == 6  # one per append
        res = rewrite_manifests(t)
        assert res["manifests_after"] == 1
        assert len(t.meta.snapshot().manifests) == 1
        assert t.scan().count() == 180
        # entries sorted by (partition, path)
        entries = t.entries()
        keys = [(e.partition, e.path) for e in entries]
        assert keys == sorted(keys)

    def test_rewrite_is_metadata_only(self, spark, fragmented_table):
        t = fragmented_table
        paths_before = t.live_paths()
        rewrite_manifests(t)
        assert t.live_paths() == paths_before
        assert t.meta.snapshot().operation == "rewrite-manifests"


class TestRelativeLocation:
    def test_compact_preserves_rows_for_relative_table_path(self, spark, tmp_path, monkeypatch):
        """Regression: a table created via a RELATIVE path must not
        lose rows in compaction (path-join vs absolute
        _metadata.file_path). Locations normalize to absolute at the
        Table boundary; the rewrite also hard-aborts on row loss."""
        monkeypatch.chdir(tmp_path)
        t = Table.create(
            spark, "./rel_tbl", "audio_clips", FULL_SCHEMA,
            identifier_fields=["_olake_id"],
            properties={"write.target-file-size-bytes": str(1 << 20)},
        )
        assert os.path.isabs(t.location)
        for _ in range(3):
            t.commit_append(t.write_datafiles(generate_clips(spark, 150, partitions=4)))
        rows_before = t.scan().count()
        r = compact(t)
        assert r["files_in"] > 0
        assert t.scan().count() == rows_before
        t2 = Table.load(spark, "./rel_tbl")
        assert t2.scan().count() == rows_before


class TestCopyPathCompaction:
    """The pyarrow row-group copy path must be indistinguishable from
    the Spark rewrite path (``_rewrite_bins``, patched in for every
    bin) at the scan and manifest level, fall back on mixed physical
    schemas, and never run while equality-delete files are live."""

    def test_copy_equals_spark_rewrite(self, spark, tmp_path, monkeypatch):
        from olake_spark.operators import compaction

        ts = []
        for mode in ("auto", "spark"):
            if mode == "spark":
                monkeypatch.setattr(compaction, "_copy_bins", compaction._rewrite_bins)
            loc = str(tmp_path / mode)
            t = Table.create(
                spark, loc, "audio_clips", FULL_SCHEMA,
                identifier_fields=["_olake_id"],
                properties={"write.target-file-size-bytes": str(1 << 20)},
            )
            for k in range(4):
                df = generate_clips(spark, 30).withColumn(
                    "clip_id", F.concat(F.lit(f"g{k}_"), F.col("clip_id"))
                ).withColumn("_olake_id", F.md5("clip_id"))
                t.commit_append(
                    t.write_datafiles(df, ranged=True, num_groups=2)
                )
            compact(t, target_size=64 * 1024 * 1024)
            ts.append(t)
        auto, sp = ts
        assert _content_hash(auto.scan()) == _content_hash(sp.scan())
        assert len(auto.data_entries()) == len(sp.data_entries())
        # manifest stats harvested identically (same stats cols, same
        # global bounds after full compaction to one bin per partition)
        def bounds(t):
            los = [e.lower_bounds.get("_olake_id") for e in t.data_entries()]
            his = [e.upper_bounds.get("_olake_id") for e in t.data_entries()]
            return min(los), max(his), sum(e.record_count for e in t.data_entries())
        assert bounds(auto) == bounds(sp)
        # copy output must round-trip through the Spark reader with the
        # table schema intact (INT96/nanos timestamp coercion)
        assert auto.scan().schema == sp.scan().schema
        auto.scan().select("_cdc_timestamp").collect()

    def test_mixed_schema_bin_falls_back(self, spark, fragmented_table, tmp_path):
        """A bin containing a file whose PHYSICAL arrow schema differs
        (column order) reroutes through the Spark rewrite instead of
        corrupting or crashing."""
        import pyarrow.parquet as papq

        from olake_spark.operators.compaction import _copy_bins, plan_compaction

        t = fragmented_table
        # rewrite one live file with reversed column order (same data)
        victim = t.data_entries()[0]
        abs_p = t.abs_entry_path(victim)
        tbl = papq.read_table(abs_p)
        papq.write_table(
            tbl.select(list(reversed(tbl.column_names))),
            abs_p,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        # drop the Hadoop checksum sidecar invalidated by the rewrite
        crc = os.path.join(os.path.dirname(abs_p), "." + os.path.basename(abs_p) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        before_rows = t.scan().count()
        h = _content_hash(t.scan())
        m = compact(t, target_size=64 * 1024 * 1024)
        assert m["bins"] >= 1
        assert t.scan().count() == before_rows
        assert _content_hash(t.scan()) == h

    def test_live_deletes_folded_at_wave_time(self, spark, tmp_path):
        """If delete files are live at wave time (lineage-resumed run
        whose prefold was stamped complete before new deletes landed),
        the wave must fold them first — a byte copy would resurrect
        deleted rows, and the Spark path's row guard would abort."""
        from olake_spark.fixtures.audio_clips import cdc_batch
        from olake_spark.operators.merge import merge_mor

        loc = str(tmp_path / "t")
        t = Table.create(
            spark, loc, "audio_clips", FULL_SCHEMA,
            identifier_fields=["_olake_id"],
            properties={"write.target-file-size-bytes": str(1 << 20)},
        )
        for k in range(3):
            df = generate_clips(spark, 30).withColumn(
                "clip_id", F.concat(F.lit(f"g{k}_"), F.col("clip_id"))
            ).withColumn("_olake_id", F.md5("clip_id"))
            t.commit_append(
                t.write_datafiles(df, ranged=True, num_groups=2)
            )
        merge_mor(t, cdc_batch(spark, 30, 1, updates=4, deletes=3))
        assert t.delete_entries()
        expected_rows = t.scan().count()
        h = _content_hash(t.scan())

        # simulate the resume edge: prefold lineage already complete
        lin = LineageManifest(str(tmp_path / "lin.json"), "job-X")
        lin.plan("compact-prefold", {"fold": {}})
        lin.mark_done("compact-prefold", "fold", snapshot_id=t.meta.current_snapshot_id)
        lin.set_stage_snapshot("compact-prefold", t.meta.current_snapshot_id)

        compact(t, target_size=64 * 1024 * 1024, lineage=lin, stage="compact")
        assert len(t.delete_entries()) == 0  # folded at wave time
        assert t.scan().count() == expected_rows
        assert _content_hash(t.scan()) == h


def test_compact_ticker_bumps_per_wave(spark, tmp_path):
    """A5 honesty for long compactions: Synced Records must move
    wave-by-wave (one bump per wave commit, monotonic, summing to the
    rows written), not once when the stage returns."""
    from olake_spark.fixtures.audio_clips import FULL_SCHEMA, generate_clips
    from olake_spark.operators.compaction import compact
    from olake_spark.table.table import Table

    t = Table.create(
        spark, str(tmp_path / "tbl"), "audio_clips", FULL_SCHEMA,
        identifier_fields=["_olake_id"],
    )
    for w in range(3):
        df = (
            generate_clips(spark, 40, partitions=2)
            .withColumn("clip_id", F.concat(F.lit(f"t{w}_"), F.col("clip_id")))
            .withColumn("_olake_id", F.md5(F.col("clip_id")))
        )
        t.commit_append(t.write_datafiles(df, ranged=True, num_groups=2))

    class Spy:
        def __init__(self):
            self.bumps = []

        def record_synced(self, n):
            self.bumps.append(int(n))

    spy = Spy()
    # target sized so a bin holds ~2 of the 6 ingest files → ≥3 bins,
    # one bin per wave
    avg = sum(e.file_size_bytes for e in t.entries()) / len(t.entries())
    res = compact(t, target_size=int(avg * 2.2), wave_bins=1, ticker=spy)
    assert res["waves"] >= 2, "fixture must produce a multi-wave compaction"
    assert len(spy.bumps) == res["waves"]
    assert all(b > 0 for b in spy.bumps)
    assert sum(spy.bumps) == sum(e.record_count for e in t.entries())


class TestRollback:
    def test_rollback_restores_old_file_set(self, spark, tmp_table_dir):
        t = Table.create(
            spark, tmp_table_dir, "audio_clips", FULL_SCHEMA,
            identifier_fields=["_olake_id"],
        )
        df1 = generate_clips(spark, 20).withColumn("_olake_id", F.md5("clip_id"))
        s1 = t.commit_append(t.write_datafiles(df1, ranged=True, num_groups=2))
        h1 = _content_hash(t.scan())
        df2 = generate_clips(spark, 15).withColumn(
            "clip_id", F.concat(F.lit("b_"), F.col("clip_id"))
        ).withColumn("_olake_id", F.md5("clip_id"))
        t.commit_append(t.write_datafiles(df2, ranged=True, num_groups=2))
        assert t.scan().count() == 35

        rb = t.rollback_to(s1.snapshot_id)
        assert rb.operation == "rollback"
        assert rb.summary["rolled-back-to"] == s1.snapshot_id
        assert t.scan().count() == 20
        assert _content_hash(t.scan()) == h1
        # history is append-only: the rolled-past snapshot still exists
        # and remains time-travel readable
        assert any(s.snapshot_id == s1.snapshot_id + 1 for s in t.meta.snapshots)
        assert t.scan(snapshot_id=s1.snapshot_id + 1).count() == 35

    def test_rollback_then_append_builds_on_restored_state(self, spark, tmp_table_dir):
        t = Table.create(
            spark, tmp_table_dir, "audio_clips", FULL_SCHEMA,
            identifier_fields=["_olake_id"],
        )
        df1 = generate_clips(spark, 10).withColumn("_olake_id", F.md5("clip_id"))
        s1 = t.commit_append(t.write_datafiles(df1, ranged=True, num_groups=1))
        df2 = generate_clips(spark, 10).withColumn(
            "clip_id", F.concat(F.lit("bad_"), F.col("clip_id"))
        ).withColumn("_olake_id", F.md5("clip_id"))
        t.commit_append(t.write_datafiles(df2, ranged=True, num_groups=1))
        t.rollback_to(s1.snapshot_id)
        df3 = generate_clips(spark, 5).withColumn(
            "clip_id", F.concat(F.lit("fix_"), F.col("clip_id"))
        ).withColumn("_olake_id", F.md5("clip_id"))
        t.commit_append(t.write_datafiles(df3, ranged=True, num_groups=1))
        ids = [r["clip_id"] for r in t.scan().select("clip_id").collect()]
        assert len(ids) == 15
        assert not any(i.startswith("bad_") for i in ids)

    def test_rollback_unknown_snapshot_rejected(self, spark, tmp_table_dir):
        t = Table.create(
            spark, tmp_table_dir, "audio_clips", FULL_SCHEMA,
            identifier_fields=["_olake_id"],
        )
        with pytest.raises(ValueError, match="not in table history"):
            t.rollback_to(999)

    def test_expire_after_rollback_keeps_shared_manifests(self, spark, tmp_table_dir):
        """The rollback snapshot SHARES the target's manifests; expiring
        the rolled-past history must not free files the rollback still
        references (retained-refcount correctness under aliasing)."""
        t = Table.create(
            spark, tmp_table_dir, "audio_clips", FULL_SCHEMA,
            identifier_fields=["_olake_id"],
        )
        df1 = generate_clips(spark, 20).withColumn("_olake_id", F.md5("clip_id"))
        s1 = t.commit_append(t.write_datafiles(df1, ranged=True, num_groups=1))
        h1 = _content_hash(t.scan())
        df2 = generate_clips(spark, 10).withColumn(
            "clip_id", F.concat(F.lit("bad_"), F.col("clip_id"))
        ).withColumn("_olake_id", F.md5("clip_id"))
        t.commit_append(t.write_datafiles(df2, ranged=True, num_groups=1))
        t.rollback_to(s1.snapshot_id)
        res = expire_snapshots(t, keep_last=1)
        assert res["expired"] == 2  # both pre-rollback snapshots aged out
        t2 = Table.load(spark, t.location)
        assert t2.scan().count() == 20
        assert _content_hash(t2.scan()) == h1
        for e in t2.entries():
            assert os.path.exists(t2.abs_entry_path(e))
