"""Orphan-file GC: unreferenced + old ⇒ deleted; everything else kept."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from olake_spark.fixtures.audio_clips import FULL_SCHEMA, generate_clips
from olake_spark.operators.gc import remove_orphan_files
from olake_spark.table import Table
from olake_spark.table import format as fmt

FUTURE_MS = int(time.time() * 1000) + 3_600_000  # "everything is old"


def _content_hash(df):
    return (
        df.select(F.md5(F.concat_ws("|", "clip_id", "transcript", "_olake_id")).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s"))
        .first()["s"]
    )


@pytest.fixture()
def small_table(spark, tmp_table_dir):
    t = Table.create(
        spark, tmp_table_dir, "audio_clips", FULL_SCHEMA,
        identifier_fields=["_olake_id"],
    )
    for k in range(2):
        df = generate_clips(spark, 20).withColumn(
            "clip_id", F.concat(F.lit(f"g{k}_"), F.col("clip_id"))
        ).withColumn("_olake_id", F.md5("clip_id"))
        t.commit_append(t.write_datafiles(df, ranged=True, num_groups=2))
    return t


def _plant_orphans(t: Table) -> list[str]:
    """Simulate a crashed wave: parquet written, commit never happened."""
    stray_dir = os.path.join(t.location, "data", "deadbeefcafe")
    os.makedirs(stray_dir, exist_ok=True)
    paths = []
    for name in ("w0.parquet", "nested/w1.parquet"):
        p = os.path.join(stray_dir, name)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(b"PAR1junkPAR1")
        paths.append(p)
    # plus a loose file directly under data/
    loose = os.path.join(t.location, "data", "loose.tmp")
    with open(loose, "wb") as f:
        f.write(b"x" * 64)
    paths.append(loose)
    return paths


class TestOrphanGC:
    def test_deletes_only_unreferenced_old_files(self, spark, small_table):
        t = small_table
        before = _content_hash(t.scan())
        strays = _plant_orphans(t)
        res = remove_orphan_files(t, older_than_ms=FUTURE_MS)
        assert res["orphans"] == len(strays)
        assert res["deleted_files"] == len(strays)
        assert res["freed_bytes"] > 0
        for p in strays:
            assert not os.path.exists(p)
        # the crashed wave's now-empty commit dir is swept too
        assert not os.path.exists(os.path.join(t.location, "data", "deadbeefcafe"))
        # every live file survives and the scan is bit-identical
        for e in t.entries():
            assert os.path.exists(t.abs_entry_path(e))
        assert _content_hash(t.refresh().scan()) == before

    def test_age_guard_protects_young_files(self, spark, small_table):
        t = small_table
        strays = _plant_orphans(t)  # mtime = now
        res = remove_orphan_files(t, older_than_ms=int(time.time() * 1000) - 60_000)
        assert res["orphans"] == 0 and res["deleted_files"] == 0
        for p in strays:
            assert os.path.exists(p)

    def test_dry_run_reports_without_deleting(self, spark, small_table):
        t = small_table
        strays = _plant_orphans(t)
        res = remove_orphan_files(t, older_than_ms=FUTURE_MS, dry_run=True)
        assert res["orphans"] == len(strays)
        assert res["deleted_files"] == 0 and res["dry_run"] is True
        assert len(res["sample"]) == len(strays)
        for p in strays:
            assert os.path.exists(p)

    def test_orphan_manifest_swept_live_ones_kept(self, spark, small_table):
        t = small_table
        # a manifest written but never committed (conflicted attempt)
        stray_rel = fmt.write_manifest(t.location, [])
        live_before = {m for s in t.meta.snapshots for m in s.manifests}
        res = remove_orphan_files(t, older_than_ms=FUTURE_MS)
        assert res["deleted_manifests"] == 1
        assert not os.path.exists(os.path.join(t.location, stray_rel))
        for m in live_before:
            assert os.path.exists(os.path.join(t.location, m))

    def test_noop_on_clean_table(self, spark, small_table):
        res = remove_orphan_files(small_table, older_than_ms=FUTURE_MS)
        assert res["orphans"] == 0
        assert res["deleted_files"] == 0
        assert res["deleted_manifests"] == 0

    def test_mor_delete_files_are_live(self, spark, small_table):
        """Equality-delete (content='deletes') manifest entries count as
        referenced — GC must not treat MoR delete files as orphans."""
        from olake_spark.operators.merge import merge_mor

        t = small_table
        upd = t.scan().limit(5).withColumn("transcript", F.lit("edited"))
        merge_mor(t, upd)
        deletes = t.delete_entries()
        assert deletes, "fixture should produce equality-delete files"
        res = remove_orphan_files(t, older_than_ms=FUTURE_MS)
        assert res["orphans"] == 0
        for e in deletes:
            assert os.path.exists(t.abs_entry_path(e))

    def test_fanout_markers_not_orphans(self, spark, small_table):
        """partitionBy fanout puts data files one dir deeper than the
        commit root where _SUCCESS sits — markers must still map live."""
        from olake_spark.fixtures.audio_clips import generate_clips as gen

        t = small_table
        df = gen(spark, 10).withColumn("_olake_id", F.md5("clip_id")).withColumn(
            "grp", F.pmod(F.crc32("clip_id"), F.lit(2))
        )
        t.commit_append(t.write_datafiles(df, fanout_col="grp", num_groups=2))
        res = remove_orphan_files(t, older_than_ms=FUTURE_MS, dry_run=True)
        assert res["orphans"] == 0, res["sample"]


class TestCompanionClassification:
    """The join-key derivation against an independent pure-Python
    reference, over a corpus of tricky layouts (fanout depth, unicode,
    spaces, '=' dirs, crc-without-companion, markers at every level)."""

    LIVE = [
        "data/c1/part-0.parquet",
        "data/c1/part-1.parquet",
        "data/c2/grp=0/part-0.parquet",          # fanout: one level deeper
        "data/c2/grp=1/part-0.parquet",
        "data/c3/année=été 2026/part ü.parquet",  # unicode + spaces
    ]
    PHYSICAL = LIVE + [
        "data/c1/_SUCCESS",                      # marker, live dir
        "data/c1/._SUCCESS.crc",                 # marker sidecar, live dir
        "data/c1/.part-0.parquet.crc",           # crc of live file
        "data/c2/_SUCCESS",                      # marker at fanout commit root
        "data/c2/grp=0/.part-0.parquet.crc",     # crc inside fanout subdir
        "data/c3/année=été 2026/.part ü.parquet.crc",
        "data/c1/part-9.parquet",                # unreferenced sibling
        "data/c1/.part-9.parquet.crc",           # crc of unreferenced sibling
        "data/dead/_SUCCESS",                    # marker, fully-dead dir
        "data/dead/._SUCCESS.crc",
        "data/dead/x.parquet",
        "data/dead/.x.parquet.crc",
        "data/dead/_temporary/0/task_1/part-0.parquet",  # crashed job temp
        "data/_SUCCESS",                         # marker directly under data/
        "data/loose.bin",                        # loose foreign file
        "data/c2/grp=0/.orphan.crc",             # crc with no companion
    ]

    @staticmethod
    def _expected_orphans(physical, live):
        live = set(live)
        live_dirs = {"/".join(p.split("/", 2)[:2]) for p in live}
        out = []
        for p in physical:
            b = p.rsplit("/", 1)[-1]
            d = p[: len(p) - len(b) - 1]
            if b.startswith(".") and b.endswith(".crc"):
                comp = b[1:-4]
                if comp.startswith("_"):
                    ok = "/".join(p.split("/", 2)[:2]) in live_dirs
                else:
                    ok = f"{d}/{comp}" in live
            elif b.startswith("_"):
                ok = "/".join(p.split("/", 2)[:2]) in live_dirs
            else:
                ok = p in live
            if not ok:
                out.append(p)
        return sorted(out)

    def test_matches_reference_classifier(self, spark):
        from olake_spark.operators.gc import orphan_candidates

        listing = spark.createDataFrame(
            [(p, 1, 0) for p in self.PHYSICAL],
            "rel_path string, size long, mtime_ms long",
        )
        live = spark.createDataFrame([(p,) for p in self.LIVE], "rel_path string")
        got = sorted(
            r["rel_path"]
            for r in orphan_candidates(listing, live).select("rel_path").collect()
        )
        assert got == self._expected_orphans(self.PHYSICAL, self.LIVE)
        # sanity on the expectation itself: the dead dir, the stray
        # sibling + its crc, the companionless crc, temp debris, the
        # data/-level marker, and the loose file are orphaned; nothing
        # referenced (or companion-of-referenced) is
        exp = set(self._expected_orphans(self.PHYSICAL, self.LIVE))
        assert "data/c1/part-9.parquet" in exp
        assert "data/c1/.part-9.parquet.crc" in exp
        assert "data/c2/grp=0/.orphan.crc" in exp
        assert "data/dead/_SUCCESS" in exp and "data/dead/x.parquet" in exp
        assert "data/_SUCCESS" in exp and "data/loose.bin" in exp
        assert "data/dead/_temporary/0/task_1/part-0.parquet" in exp
        assert not exp & set(self.LIVE)
        assert "data/c1/_SUCCESS" not in exp and "data/c2/_SUCCESS" not in exp
        assert "data/c1/.part-0.parquet.crc" not in exp
