"""Commit backends and the one optimistic commit loop.

The default FileCommitBackend is exercised by every other test in the
suite; here the SAME engine (create/append/merge/compact/load) runs
with commit atomicity coming from a catalog compare-and-swap instead
of a POSIX create-or-fail — the object-store deployment shape. Each
table owns its backend, so both shapes live side by side in one
process. The rest of the file pins the POSIX backend's crash window
and the bounded retry of every kind of metadata change.
"""

from __future__ import annotations

import glob
import os
import time
import types

import pytest
from pyspark.sql import functions as F

from olake_spark.fixtures.audio_clips import FULL_SCHEMA, generate_clips
from olake_spark.operators.expire import expire_snapshots
from olake_spark.table import Table
from olake_spark.table import format as fmt
from olake_spark.table import table as table_mod
from olake_spark.table.format import DataFileEntry
from olake_spark.table.table import COMMIT_RETRIES, CommitConflict


@pytest.fixture()
def cas_backend(tmp_path):
    return fmt.CasCatalogBackend(str(tmp_path / "catalog.json"))


@pytest.fixture()
def no_backoff(monkeypatch):
    monkeypatch.setattr(table_mod, "COMMIT_BACKOFF_S", 0)


def _clips(spark, n, prefix=""):
    return generate_clips(spark, n).withColumn(
        "clip_id", F.concat(F.lit(prefix), F.col("clip_id"))
    ).withColumn("_olake_id", F.md5("clip_id"))


def _create(spark, loc, backend=None):
    return Table.create(
        spark, loc, "audio_clips", FULL_SCHEMA, identifier_fields=["_olake_id"],
        backend=backend,
    )


def _entry(t: Table, name: str) -> DataFileEntry:
    """A manifest entry backed by a small real file (driver-only
    commits: no Spark job, but expiry has something to delete)."""
    rel = os.path.join("data", name)
    os.makedirs(os.path.join(t.location, "data"), exist_ok=True)
    with open(os.path.join(t.location, rel), "wb") as f:
        f.write(b"x" * 8)
    return DataFileEntry(rel, "", 1, 8, {}, {})


class LosingBackend(fmt.FileCommitBackend):
    """Loses its first ``losses`` attempts without writing anything."""

    def __init__(self, losses: int):
        self.losses, self.attempts = losses, 0

    def try_commit(self, location, meta):
        self.attempts += 1
        if self.attempts <= self.losses:
            return False
        return super().try_commit(location, meta)


class RacedBackend(fmt.FileCommitBackend):
    """Runs ``race`` (a real commit by another handle) just before its
    first attempt, which then genuinely loses the version."""

    def __init__(self, race):
        self.race, self.attempts = race, 0

    def try_commit(self, location, meta):
        self.attempts += 1
        if self.attempts == 1:
            self.race()
        return super().try_commit(location, meta)


class TestCasCatalogBackend:
    def test_lifecycle_create_append_merge_load(self, spark, tmp_path, cas_backend):
        loc = str(tmp_path / "tbl")
        t = _create(spark, loc, cas_backend)
        for k in range(2):
            df = _clips(spark, 20, f"g{k}_")
            t.commit_append(
                t.write_datafiles(df, ranged=True, num_groups=2)
            )
        from olake_spark.operators.merge import merge_into

        merge_into(t, t.scan().limit(5).withColumn("transcript", F.lit("edited")))
        # a fresh load resolves through the catalog, not version-hint
        t2 = Table.load(spark, loc, backend=cas_backend)
        assert t2.scan().count() == 40
        assert t2.scan().filter("transcript = 'edited'").count() == 5
        assert t2.meta.version == t.meta.version
        # no version-hint file exists under this backend
        assert not os.path.exists(fmt.version_hint_path(loc))

    def test_double_create_conflicts(self, spark, tmp_path, cas_backend):
        loc = str(tmp_path / "tbl")
        _create(spark, loc, cas_backend)
        with pytest.raises(CommitConflict):
            _create(spark, loc, cas_backend)

    def test_lost_cas_retries_and_drops_candidate(self, spark, tmp_path, cas_backend):
        loc = str(tmp_path / "tbl")
        t = _create(spark, loc, cas_backend)
        stale = Table.load(spark, loc, backend=cas_backend)  # second writer on an old snapshot
        t.commit_append(
            t.write_datafiles(_clips(spark, 10, "a_"), ranged=True, num_groups=1)
        )
        # stale writer's first attempt loses the CAS, then the commit
        # loop refreshes and wins the next version
        stale.commit_append(
            stale.write_datafiles(_clips(spark, 10, "b_"), ranged=True, num_groups=1)
        )
        final = Table.load(spark, loc, backend=cas_backend)
        assert final.scan().count() == 20
        assert final.meta.version == 3
        # exactly one committed candidate per version — losers deleted
        files = glob.glob(os.path.join(loc, "metadata", "v*.metadata.json"))
        assert len(files) == 3

    def test_missing_table_raises(self, spark, tmp_path, cas_backend):
        with pytest.raises(FileNotFoundError):
            Table.load(spark, str(tmp_path / "nope"), backend=cas_backend)

    def test_two_backends_in_one_process(self, spark, tmp_path, cas_backend):
        cas_loc, posix_loc = str(tmp_path / "cas_tbl"), str(tmp_path / "posix_tbl")
        cas_t = _create(spark, cas_loc, cas_backend)
        posix_t = _create(spark, posix_loc)
        cas_t.commit_append([])
        cas_t.commit_append([])
        posix_t.commit_append([])
        assert isinstance(posix_t.backend, fmt.FileCommitBackend)
        assert not os.path.exists(fmt.version_hint_path(cas_loc))
        assert os.path.exists(fmt.version_hint_path(posix_loc))
        assert Table.load(spark, cas_loc, backend=cas_backend).meta.version == 3
        assert Table.load(spark, posix_loc).meta.version == 2
        # the CAS table is only reachable through its own backend
        with pytest.raises(FileNotFoundError):
            Table.load(spark, cas_loc)


class TestFileCommitBackendCrashWindow:
    def test_failed_metadata_write_leaves_no_partial_version(
        self, spark, tmp_path, monkeypatch
    ):
        loc = str(tmp_path / "tbl")
        _create(spark, loc)
        real = fmt.TableMetadata.to_json
        calls = {"n": 0}

        def dying_to_json(self):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("writer died mid-commit")
            return real(self)

        monkeypatch.setattr(fmt.TableMetadata, "to_json", dying_to_json)
        with pytest.raises(RuntimeError):
            Table.load(spark, loc).commit_append([])
        assert not os.path.exists(fmt.metadata_path(loc, 2))
        Table.load(spark, loc).commit_append([])
        assert Table.load(spark, loc).meta.version == 2
        assert not glob.glob(os.path.join(loc, "metadata", "*.tmp.*"))

    def test_load_rolls_forward_past_stale_hint(self, spark, tmp_path):
        loc = str(tmp_path / "tbl")
        t = _create(spark, loc)
        snap = t.commit_append([])
        # v2 published, then the writer died before updating the hint
        fmt.write_version_hint(loc, 1)
        t2 = Table.load(spark, loc)
        assert t2.meta.version == 2
        assert t2.meta.current_snapshot_id == snap.snapshot_id
        t2.commit_append([])
        assert t2.meta.version == 3
        assert Table.load(spark, loc).meta.version == 3


def _setup_history(spark, loc) -> tuple[Table, dict]:
    """v1 create, then s1 append a, s2 replace a→b, s3 append c (v4)."""
    t = _create(spark, loc)
    files = {n: _entry(t, n) for n in ("a", "b", "c")}
    t.commit_append([files["a"]])
    t.commit_replace({files["a"].path}, [files["b"]])
    t.commit_append([files["c"]])
    return t, files


_OPS = {
    "commit_append": lambda t, f: t.commit_append([]),
    "commit_replace": lambda t, f: t.commit_replace({f["b"].path}, []),
    "update_schema": lambda t, f: t.update_schema(t.schema.add("extra", "string")),
    "update_properties": lambda t, f: t.update_properties({"k": "v"}),
    "rollback_to": lambda t, f: t.rollback_to(1),
    "expire_snapshots": lambda t, f: expire_snapshots(t, keep_last=1),
}


class TestBoundedRetry:
    @pytest.mark.parametrize("op", sorted(_OPS))
    def test_always_losing_raises_after_bounded_attempts(
        self, spark, tmp_path, no_backoff, op
    ):
        loc = str(tmp_path / "tbl")
        _, files = _setup_history(spark, loc)
        backend = LosingBackend(losses=10**6)
        t = Table.load(spark, loc, backend=backend)
        with pytest.raises(CommitConflict):
            _OPS[op](t, files)
        assert backend.attempts == COMMIT_RETRIES + 1
        assert Table.load(spark, loc).meta.version == 4
        assert all(os.path.exists(os.path.join(loc, e.path)) for e in files.values())

    @pytest.mark.parametrize("op", sorted(_OPS))
    def test_last_lost_attempt_raises_without_waiting(
        self, spark, tmp_path, monkeypatch, op
    ):
        """Backoff and refresh come only BETWEEN attempts: the final
        loss raises at once instead of sleeping for a retry that never
        comes."""
        loc = str(tmp_path / "tbl")
        _, files = _setup_history(spark, loc)
        t = Table.load(spark, loc, backend=LosingBackend(losses=10**6))
        sleeps, refreshes = [], []
        monkeypatch.setattr(
            table_mod, "time", types.SimpleNamespace(time=time.time, sleep=sleeps.append)
        )
        real_refresh = Table.refresh
        monkeypatch.setattr(
            Table, "refresh", lambda self: refreshes.append(1) or real_refresh(self)
        )
        with pytest.raises(CommitConflict):
            _OPS[op](t, files)
        assert len(sleeps) == len(refreshes) == COMMIT_RETRIES

    @pytest.mark.parametrize("op", sorted(_OPS))
    def test_losing_once_commits_on_retry(self, spark, tmp_path, no_backoff, op):
        loc = str(tmp_path / "tbl")
        _, files = _setup_history(spark, loc)
        backend = LosingBackend(losses=1)
        t = Table.load(spark, loc, backend=backend)
        _OPS[op](t, files)
        assert backend.attempts == 2
        assert Table.load(spark, loc).meta.version == 5 == t.meta.version

    def test_expire_replans_after_lost_race(self, spark, tmp_path, no_backoff):
        """The first expire attempt plans against s3 (dead: a) and
        loses to a rollback that makes a live again; the retry must
        plan against the winner's metadata and delete b and c, not a."""
        loc = str(tmp_path / "tbl")
        _, files = _setup_history(spark, loc)
        backend = RacedBackend(lambda: Table.load(spark, loc).rollback_to(1))
        t = Table.load(spark, loc, backend=backend)
        out = expire_snapshots(t, keep_last=1)
        assert backend.attempts == 2
        assert out["expired"] == 3 and out["deleted_files"] == 2
        committed = Table.load(spark, loc)
        assert committed.meta.version == 6
        assert [s.snapshot_id for s in committed.meta.snapshots] == [4]
        live = committed.live_paths()
        assert live == {files["a"].path}
        for e in files.values():
            assert os.path.exists(os.path.join(loc, e.path)) == (e.path in live)
        for s in committed.meta.snapshots:
            assert all(os.path.exists(os.path.join(loc, m)) for m in s.manifests)

    def test_update_properties_loses_no_update(self, spark, tmp_path, no_backoff):
        loc = str(tmp_path / "tbl")
        t = _create(spark, loc)
        stale = Table.load(spark, loc)
        t.update_properties({"key.a": "1"})
        stale.update_properties({"key.b": "2"})
        props = Table.load(spark, loc).meta.properties
        assert props["key.a"] == "1" and props["key.b"] == "2"
        assert stale.meta.properties == props
