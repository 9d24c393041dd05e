"""Cross-process commit races + driver-side planner scale.

The commit protocol must hold across PROCESSES (create-or-fail of the
next metadata version), not just threads — two maintenance jobs
hitting one table is the real deployment hazard the reference guards
with catalog-side atomic commits (IcebergTableOperator.java:116-169).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from olake_spark.fixtures.audio_clips import FULL_SCHEMA, generate_clips
from olake_spark.plans.ffd import first_fit_decreasing
from olake_spark.table.table import Table

#: the checkout this test file belongs to: the subprocesses import its
#: olake_spark, not whichever copy comes first on their own path
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

APPEND_SNIPPET = """
import sys, json
sys.path.insert(0, sys.argv[3])
from olake_spark.session import get_spark
from olake_spark.fixtures.audio_clips import generate_clips
from olake_spark.table.table import Table
from pyspark.sql import functions as F
loc, tag = sys.argv[1], sys.argv[2]
spark = get_spark(f"race-{tag}", cores=2)
t = Table.load(spark, loc)
df = (generate_clips(spark, 40, partitions=2)
      .withColumn("clip_id", F.concat(F.lit(tag + "_"), F.col("clip_id")))
      .withColumn("_olake_id", F.md5(F.col("clip_id"))))
snap = t.commit_append(t.write_datafiles(df))
print(json.dumps({"tag": tag, "snapshot": snap.snapshot_id, "version": t.meta.version}))
"""


def test_two_processes_append_concurrently(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    t = Table.create(spark, loc, "audio_clips", FULL_SCHEMA, identifier_fields=["_olake_id"])
    t.commit_append(t.write_datafiles(generate_clips(spark, 20, partitions=2)))

    procs = [
        subprocess.Popen(
            [sys.executable, "-c", APPEND_SNIPPET, loc, tag, ROOT],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for tag in ("pa", "pb")
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-2000:]
        outs.append(json.loads(out.strip().splitlines()[-1]))

    # both commits landed, on distinct versions, no rows lost
    assert outs[0]["snapshot"] != outs[1]["snapshot"]
    t.refresh()
    assert t.scan().count() == 20 + 40 + 40
    assert t.meta.current_snapshot_id == 3
    # history is linear: each snapshot's parent is the previous one
    parents = {s.snapshot_id: s.parent_id for s in t.meta.snapshots}
    assert parents[3] == 2 and parents[2] == 1 and parents[1] is None


def test_ffd_planner_scales_to_200k_files():
    """Driver-side planning must stay trivial at catalog scale: 200k
    small files → plan in seconds, bins capacity-correct. (A job-per-
    bin or O(n²) planner would make 10^5-file tables unmanageable.)"""
    files = [(f"data/f{i:06d}.parquet", 3_000_000 + (i * 7919) % 2_000_000)
             for i in range(200_000)]
    t0 = time.monotonic()
    bins = first_fit_decreasing(files, capacity=512 * 1024 * 1024)
    elapsed = time.monotonic() - t0
    assert elapsed < 20.0
    packed = sum(len(b.items) for b in bins)
    assert packed >= 199_000  # nearly all files packed (>=2 per bin)
    for b in bins[:100]:
        assert b.size <= b.capacity


# ---------------------------------------------------------------- mid-run
# delete races: a concurrent MoR writer commits an equality delete AFTER
# a maintenance op froze its input view but BEFORE its replace commit.
# Without commit-time delete validation the copy/rewrite paths would
# silently resurrect the deleted rows (the delete gets out-sequenced).

import shutil  # noqa: E402

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from olake_spark.fixtures.audio_clips import cdc_batch  # noqa: E402
from olake_spark.operators import compaction as compaction_mod  # noqa: E402
from olake_spark.operators import merge as merge_mod  # noqa: E402
from olake_spark.operators.clustering import cluster  # noqa: E402
from olake_spark.operators.compaction import compact  # noqa: E402
from olake_spark.operators.incremental_cluster import cluster_incremental  # noqa: E402
from olake_spark.operators.merge import fold_deletes, merge_into, merge_mor  # noqa: E402
from olake_spark.operators.rewrite_payload import rewrite_payload  # noqa: E402
from olake_spark.table import format as fmt  # noqa: E402
from olake_spark.table.evolution import evolve  # noqa: E402
from olake_spark.table.fsio import SIDECAR_SUFFIX  # noqa: E402
from olake_spark.table.table import COMMIT_RETRIES, CommitConflict  # noqa: E402

RACE_N = 120
#: the one base table every race case copies (built once per module)
_BASE: dict = {}


@pytest.fixture(scope="module", autouse=True)
def _race_base(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("race") / "base")
    t = Table.create(
        spark, path, "audio_clips", FULL_SCHEMA, identifier_fields=["_olake_id"],
        properties={"write.bloom.column": "_olake_id"},
    )
    # fragmented appends -> several small files, all compaction-eligible
    for w in range(2):
        df = generate_clips(spark, RACE_N // 2, partitions=3)
        if w:  # second wave gets distinct keys
            df = df.withColumn(
                "clip_id", F.concat(F.lit("x_"), F.col("clip_id"))
            ).withColumn("_olake_id", F.md5(F.col("clip_id")))
        t.commit_append(t.write_datafiles(df, ranged=True, num_groups=3))
    _BASE["path"] = path
    yield
    _BASE.clear()


def _race_table(spark, path):
    shutil.copytree(_BASE["path"], path)
    return Table.load(spark, path)


def _content(t):
    return {
        r["_olake_id"]: (r["transcript"], r["_op_type"])
        for r in t.scan().select("_olake_id", "transcript", "_op_type").collect()
    }


def _assert_no_orphans(t):
    """Every parquet (and bloom sidecar) on disk must belong to SOME
    committed snapshot — a conflicted (retried) attempt must clean up
    the outputs it never committed."""
    committed = set()
    for s in t.meta.snapshots:
        for m in s.manifests:
            committed.update(e.path for e in fmt.read_manifest(t.location, m))
    orphans = []
    data_root = os.path.join(t.location, "data")
    for root, _dirs, files in os.walk(data_root):
        for f in files:
            rel = os.path.relpath(os.path.join(root, f), t.location)
            if f.endswith(".parquet") and rel not in committed:
                orphans.append(rel)
            # a key-bloom sidecar belongs to the data file it names
            if f.endswith(SIDECAR_SUFFIX) and rel[: -len(SIDECAR_SUFFIX)] not in committed:
                orphans.append(rel)
    assert not orphans, f"orphan files from conflicted attempts: {sorted(orphans)[:5]}"


def test_compaction_mid_wave_delete_race(spark, tmp_path, monkeypatch):
    raced = _race_table(spark, str(tmp_path / "raced"))
    control = _race_table(spark, str(tmp_path / "control"))
    batch = cdc_batch(spark, RACE_N // 2, 1, updates=4, deletes=4, inserts=2)

    # control: the same delete batch lands cleanly before maintenance
    merge_mor(control, batch)
    fold_deletes(control)
    compact(control)

    real_copy = compaction_mod._copy_bins
    fired = {"n": 0}

    def inject_then_copy(table, bins, entry_by_path):
        if fired["n"] == 0:
            fired["n"] += 1
            # a concurrent writer (fresh Table instance = fresh metadata
            # view) commits an equality delete mid-wave
            merge_mor(Table.load(spark, raced.location), batch)
        return real_copy(table, bins, entry_by_path)

    monkeypatch.setattr(compaction_mod, "_copy_bins", inject_then_copy)
    compact(raced)

    assert fired["n"] == 1
    assert raced.delete_entries() == []  # retry folded the racing delete
    assert _content(raced) == _content(control)
    _assert_no_orphans(raced)


def test_fold_mid_fold_delete_race(spark, tmp_path, monkeypatch):
    raced = _race_table(spark, str(tmp_path / "raced"))
    control = _race_table(spark, str(tmp_path / "control"))
    b1 = cdc_batch(spark, RACE_N // 2, 1, updates=3, deletes=3, inserts=1)
    b2 = cdc_batch(spark, RACE_N // 2, 2, updates=3, deletes=3, inserts=1)

    merge_mor(control, b1)
    merge_mor(control, b2)
    fold_deletes(control)

    merge_mor(raced, b1)
    real_affected = merge_mod.affected_file_paths
    fired = {"n": 0}

    def inject_then_plan(table, source_keys, key):
        if fired["n"] == 0:
            fired["n"] += 1
            merge_mor(Table.load(spark, raced.location), b2)
        return real_affected(table, source_keys, key)

    monkeypatch.setattr(merge_mod, "affected_file_paths", inject_then_plan)
    fold_deletes(raced)

    assert fired["n"] == 1
    assert raced.delete_entries() == []  # retry folded BOTH batches
    assert _content(raced) == _content(control)
    _assert_no_orphans(raced)


# ------------------------------------------------------- every rewriter
# Each operator that replaces data files commits through Table.rewrite.
# A merge_mor landing at its first data write must be refused (its
# delete is newer than the snapshot the operator read) and re-planned
# around; without that the rewritten rows out-sequence the delete and
# its keys come back, or show up twice.


def _newcomers(spark, t):
    df = generate_clips(spark, 20, partitions=2).withColumn(
        "clip_id", F.concat(F.lit("n_"), F.col("clip_id"))
    ).withColumn("_olake_id", F.md5(F.col("clip_id")))
    t.commit_append(t.write_datafiles(df))


_REWRITERS = {
    "merge_into": (
        None,
        lambda spark, t: merge_into(
            t, cdc_batch(spark, RACE_N // 2, 2, updates=4, deletes=4, inserts=2)
        ),
    ),
    "cluster": (None, lambda spark, t: cluster(t)),
    "cluster_incremental": (
        lambda spark, t: (cluster(t), _newcomers(spark, t)),
        lambda spark, t: cluster_incremental(t),
    ),
    "rewrite_payload": (
        None,
        lambda spark, t: rewrite_payload(
            # a lambda ships to the Python workers by value
            t, lambda pdf: pdf.assign(transcript=pdf["transcript"] + " fixed")
        ),
    ),
    "evolve_refresh": (
        None,
        lambda spark, t: evolve(
            t,
            T.StructType([T.StructField("sr_hz", T.StringType(), True)]),
            allow_refresh=True,
        ),
    ),
    "fold_deletes": (
        lambda spark, t: merge_mor(
            t, cdc_batch(spark, RACE_N // 2, 3, updates=3, deletes=3, inserts=1)
        ),
        lambda spark, t: fold_deletes(t),
    ),
}


@pytest.mark.parametrize("op", sorted(_REWRITERS))
def test_rewriter_replans_around_racing_delete(spark, tmp_path, monkeypatch, op):
    setup, run = _REWRITERS[op]
    raced = _race_table(spark, str(tmp_path / "raced"))
    control = _race_table(spark, str(tmp_path / "control"))
    batch = cdc_batch(spark, RACE_N // 2, 1, updates=4, deletes=4, inserts=2)
    if setup is not None:
        setup(spark, raced)
        setup(spark, control)

    # control: the racing batch lands before the operator starts
    merge_mor(control, batch)
    run(spark, control)

    real_write = Table.write_datafiles
    fired = {"n": 0}

    def inject_then_write(self, df, *a, **kw):
        if fired["n"] == 0 and kw.get("content", fmt.CONTENT_DATA) == fmt.CONTENT_DATA:
            fired["n"] += 1
            # a concurrent writer (fresh handle) commits mid-operator
            merge_mor(Table.load(spark, raced.location), batch)
        return real_write(self, df, *a, **kw)

    monkeypatch.setattr(Table, "write_datafiles", inject_then_write)
    run(spark, raced)
    monkeypatch.setattr(Table, "write_datafiles", real_write)

    assert fired["n"] == 1
    keys = [r["_olake_id"] for r in raced.scan().select("_olake_id").collect()]
    assert len(keys) == len(set(keys)), "a key appears twice"
    assert _content(raced) == _content(control)
    _assert_no_orphans(raced)


def test_rewrite_gives_up_after_bounded_replans(spark, tmp_path):
    """An attempt whose commit always conflicts is planned exactly
    COMMIT_RETRIES + 1 times, and no plan's files stay behind."""
    t = _race_table(spark, str(tmp_path / "t"))
    plans = []

    def attempt(t):
        plans.append(t.meta.current_snapshot_id)
        added = t.write_datafiles(generate_clips(spark, 5, partitions=1))
        assert all(os.path.exists(t.abs_entry_path(e) + SIDECAR_SUFFIX) for e in added)
        # removing a file that is not live is refused on every commit
        return {"data/never-live.parquet"}, added, {"operation": "test"}

    with pytest.raises(CommitConflict):
        t.rewrite(attempt)
    assert len(plans) == COMMIT_RETRIES + 1
    assert Table.load(spark, t.location).meta.current_snapshot_id == plans[0]
    _assert_no_orphans(t)
    # each refused pass's write directory went, _SUCCESS and .crc too
    data_dirs = os.listdir(os.path.join(t.location, "data"))
    assert sorted(data_dirs) == sorted(os.listdir(os.path.join(_BASE["path"], "data")))
