"""Table layer: create/append/scan, snapshot isolation, replace, pruning."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from olake_spark.fixtures.audio_clips import FULL_SCHEMA, generate_clips
from olake_spark.table import CommitConflict, Table


@pytest.fixture()
def clips_table(spark, tmp_table_dir):
    t = Table.create(
        spark,
        tmp_table_dir,
        "audio_clips",
        FULL_SCHEMA,
        identifier_fields=["_olake_id"],
        partition_spec=[{"field": "_olake_id", "transform": "bucket[4]"}],
    )
    df = generate_clips(spark, 200, partitions=4)
    entries = t.write_datafiles(df)
    t.commit_append(entries)
    return t


class TestTable:
    def test_create_load_roundtrip(self, spark, tmp_table_dir):
        t = Table.create(spark, tmp_table_dir, "tt", "a int, b string", ["a"])
        t2 = Table.load(spark, tmp_table_dir)
        assert t2.meta.table_uuid == t.meta.table_uuid
        assert t2.meta.identifier_fields == ["a"]
        assert t2.scan().count() == 0

    def test_append_and_scan(self, spark, clips_table):
        df = clips_table.scan()
        assert df.count() == 200
        assert df.select("_olake_id").distinct().count() == 200
        assert set(df.columns) == set(clips_table.schema.fieldNames())

    def test_stats_harvested(self, clips_table):
        entries = clips_table.entries()
        assert len(entries) >= 1
        e = entries[0]
        assert e.record_count > 0 and e.file_size_bytes > 0
        assert "clip_id" in e.lower_bounds and "dur_ms" in e.lower_bounds
        assert e.lower_bounds["clip_id"] <= e.upper_bounds["clip_id"]

    def test_snapshot_isolation(self, spark, clips_table):
        s1 = clips_table.meta.current_snapshot_id
        old_reader = clips_table.scan(snapshot_id=s1)  # plan pinned to s1
        more = generate_clips(spark, 50, partitions=2).withColumn(
            "clip_id", F.concat(F.lit("extra_"), F.col("clip_id"))
        )
        clips_table.commit_append(clips_table.write_datafiles(more))
        assert old_reader.count() == 200  # unaffected by the new commit
        assert clips_table.scan().count() == 250
        assert clips_table.scan(snapshot_id=s1).count() == 200

    def test_replace_atomic_swap(self, spark, clips_table):
        entries = clips_table.entries()
        victim = entries[0]
        # rewrite the victim file's rows verbatim into a new file
        sub = clips_table.scan(entries=[victim])
        new_entries = clips_table.write_datafiles(sub)
        snap = clips_table.commit_replace({victim.path}, new_entries)
        assert snap.operation == "replace"
        assert clips_table.scan().count() == 200
        assert victim.path not in clips_table.live_paths()
        # double-replace of the same path must conflict (LSN-guard analog)
        with pytest.raises(CommitConflict):
            clips_table.commit_replace({victim.path}, [])

    def test_manifest_sharing_on_replace(self, spark, clips_table):
        """A replace must not rewrite manifests of untouched files."""
        more = generate_clips(spark, 30).withColumn(
            "clip_id", F.concat(F.lit("b_"), F.col("clip_id"))
        )
        clips_table.commit_append(clips_table.write_datafiles(more))
        before = set(clips_table.meta.snapshot().manifests)
        victim = clips_table.entries()[0]
        sub = clips_table.scan(entries=[victim])
        clips_table.commit_replace({victim.path}, clips_table.write_datafiles(sub))
        after = set(clips_table.meta.snapshot().manifests)
        assert before & after, "untouched manifests should be shared"

    def test_pruning_by_stats(self, clips_table):
        all_entries = clips_table.entries()
        pruned = clips_table.pruned_entries("clip_id", lo="clip_000000000000", hi="clip_000000000010")
        assert len(pruned) <= len(all_entries)
        got = clips_table.scan(entries=pruned).filter(F.col("clip_id") <= "clip_000000000010")
        assert got.count() == 11

    def test_fanout_write_one_file_per_group(self, spark, tmp_table_dir):
        t = Table.create(spark, tmp_table_dir, "fan", FULL_SCHEMA, ["_olake_id"])
        df = generate_clips(spark, 100).withColumn("grp", (F.col("dur_ms") % 5).cast("int"))
        entries = t.write_datafiles(df, fanout_col="grp", num_groups=5)
        t.commit_append(entries)
        # one file per grp=i directory; a fanout group is no partition
        assert sorted(os.path.basename(os.path.dirname(e.path)) for e in entries) == [
            f"grp={i}" for i in range(5)
        ]
        assert {e.partition for e in entries} == {""}
        # fanout col stripped, table cols intact
        assert t.scan().count() == 100
        assert "grp" not in t.scan().columns

    def test_optimistic_commit_retry(self, spark, clips_table):
        """Two handles to the same table: both appends must land."""
        other = Table.load(spark, clips_table.location)
        a = generate_clips(spark, 10).withColumn("clip_id", F.concat(F.lit("x_"), "clip_id"))
        b = generate_clips(spark, 10).withColumn("clip_id", F.concat(F.lit("y_"), "clip_id"))
        ea = clips_table.write_datafiles(a)
        eb = other.write_datafiles(b)
        clips_table.commit_append(ea)
        other.commit_append(eb)  # stale handle → retry path
        assert Table.load(spark, clips_table.location).scan().count() == 220

    def test_scan_respects_schema_order(self, clips_table):
        assert clips_table.scan().schema == clips_table.schema

    def test_files_are_relative_and_exist(self, clips_table):
        for e in clips_table.entries():
            assert not os.path.isabs(e.path)
            assert os.path.exists(os.path.join(clips_table.location, e.path))

    def test_rolling_writer_enforces_max_records_per_file(self, spark, tmp_table_dir):
        """W4: the size-targeted writer ROLLS to a new file at the row
        budget even when the plan put everything in one group."""
        t = Table.create(spark, tmp_table_dir, "roll", FULL_SCHEMA, identifier_fields=["_olake_id"])
        df = generate_clips(spark, 100, partitions=1)
        entries = t.write_datafiles(df, max_records_per_file=30)
        assert len(entries) >= 4  # 100 rows / 30-row budget
        assert all(e.record_count <= 30 for e in entries)
        assert sum(e.record_count for e in entries) == 100


class TestDistributedHarvest:
    def test_spark_job_harvest_matches_driver_path(self, spark, tmp_table_dir, monkeypatch):
        """The Spark-job footer harvest must be byte-identical to the
        driver thread-pool path (same file_entry function executes in
        both; this pins that the RDD round-trip loses nothing)."""
        from olake_spark.table import fsio
        from olake_spark.table import stats as stats_mod

        t = Table.create(
            spark, tmp_table_dir, "harv", FULL_SCHEMA, identifier_fields=["_olake_id"]
        )
        entries = t.write_datafiles(generate_clips(spark, 200, partitions=8))
        files = [
            (os.path.join(t.location, e.path), e.partition) for e in entries
        ]
        driver_side = stats_mod.harvest(spark, t.location, files, t.stats_cols)
        monkeypatch.setattr(fsio, "DISTRIBUTED_THRESHOLD", 0)
        spark_side = stats_mod.harvest(spark, t.location, files, t.stats_cols)
        assert driver_side == spark_side

    def test_write_datafiles_switches_above_threshold(
        self, spark, tmp_table_dir, monkeypatch
    ):
        """Above DISTRIBUTED_THRESHOLD files per commit the harvest runs
        as a Spark job (fleet-scale path); entries stay correct."""
        from olake_spark.table import fsio

        monkeypatch.setattr(fsio, "DISTRIBUTED_THRESHOLD", 2)
        sc_type = type(spark.sparkContext)
        real = sc_type.parallelize
        shipped = []

        def spy(self, c, numSlices=None):
            shipped.append(list(c))
            return real(self, c, numSlices)

        monkeypatch.setattr(sc_type, "parallelize", spy)
        t = Table.create(
            spark, tmp_table_dir, "harv2", FULL_SCHEMA, identifier_fields=["_olake_id"]
        )
        entries = t.write_datafiles(generate_clips(spark, 120, partitions=6))
        # the last job shipped the harvest's (abs_path, partition) list
        assert [os.path.relpath(p, t.location) for p, _ in shipped[-1]] == [e.path for e in entries]
        assert len(entries) == 6
        assert sum(e.record_count for e in entries) == 120
        assert all(e.lower_bounds.get("_olake_id") for e in entries)


def test_fsio_abstraction_and_uri_footer_harvest(spark, tmp_path):
    """Byte I/O resolves through pyarrow.fs: plain paths → local
    filesystem, URIs → FileSystem.from_uri, and footer harvest produces
    identical entries either way (the copy path's 100 TB surface)."""
    from pyarrow import fs as pafs

    from olake_spark.table.fsio import file_size, fs_for
    from olake_spark.table.stats import file_entry

    p = str(tmp_path / "one.parquet")
    spark.range(10).selectExpr("id AS _olake_id").coalesce(1).write.parquet(
        str(tmp_path / "out")
    )
    import glob
    import shutil

    shutil.copy(glob.glob(str(tmp_path / "out" / "*.parquet"))[0], p)

    f1, n1 = fs_for(p)
    assert isinstance(f1, pafs.LocalFileSystem) and n1 == p
    f2, n2 = fs_for("file://" + p)
    assert n2 == p
    assert file_size(p) == file_size("file://" + p)

    plain = file_entry(p, "one.parquet", "", ["_olake_id"])
    via_uri = file_entry("file://" + p, "one.parquet", "", ["_olake_id"])
    assert plain == via_uri
    assert plain.record_count == 10
    assert plain.lower_bounds["_olake_id"] == 0


def test_uri_path_matches_hadoop_path_to_uri(spark):
    """The tagging read's file key is computed in Python; it must spell
    a path exactly as Hadoop ``Path.toUri()`` does (Spark's
    ``_metadata.file_path``) for every ASCII character and for kept and
    escaped non-ASCII ones (letters, no-break and ideographic spaces,
    C1 controls, line separator, astral)."""
    from olake_spark.table.table import _uri_path

    to_uri = spark._jvm.org.apache.hadoop.fs.Path
    chars = [chr(c) for c in range(1, 128) if chr(c) != "/"]
    chars += ["é", "ß", "中", "\u00a0", "\u0085", "\u2028", "\u3000", "\u200b", "😀"]
    for c in chars:
        p = f"/w h/x{c}y/part-0.parquet"
        assert _uri_path(p) == to_uri(p).toUri().toString(), repr(c)
