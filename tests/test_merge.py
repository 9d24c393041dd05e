"""MERGE INTO semantics vs the reference's scenario matrix:
Full-Refresh → insert → update (dup keys in batch) → delete
(utils/testutils/test_utils.go:323-352), dedup by commit seq
(iceberg.go:234-266), op-priority tie break
(IcebergTableOperator.java:70-71), plus file pruning and the per-row
PCM/transcript invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olake_spark.fixtures.audio_clips import FULL_SCHEMA, cdc_batch, generate_clips, transcript_for
from olake_spark.functions.audio import VERIFY_SCHEMA, verify_batch
from olake_spark.operators.merge import affected_file_paths, dedup_batch, merge_into
from olake_spark.plans.lineage import LineageManifest
from olake_spark.table import Table

BASE_N = 120


@pytest.fixture()
def merged_table(spark, tmp_table_dir):
    t = Table.create(
        spark, tmp_table_dir, "audio_clips", FULL_SCHEMA, identifier_fields=["_olake_id"]
    )
    base = generate_clips(spark, BASE_N, partitions=4)
    # initial load written range-partitioned on the key → tight bounds
    t.commit_append(t.write_datafiles(base, ranged=True, num_groups=4))
    return t


class TestDedupBatch:
    def test_latest_cdc_timestamp_wins(self, spark, merged_table):
        batch = cdc_batch(spark, BASE_N, batch_no=1, updates=10, dup_keys=5)
        assert batch.count() == 15  # 10 updates + 5 dups
        won = dedup_batch(batch)
        assert won.count() == 10
        # dup rows carry version batch_no+100 and a LATER seq → they win
        dup_rows = won.filter(F.col("transcript").contains("v101")).count()
        assert dup_rows == 5

    def test_delete_beats_update_on_equal_seq(self, spark):
        str_schema = (
            "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
            "transcript string, _op_type string, cdc_s string, ing_s string"
        )
        row_u = ("k1", b"", 8000, 40, "pcm_s16le", "t", "u", "2026-01-01T00:00:10", "2026-01-01T00:00:00")
        row_d = ("k1", b"", 8000, 40, "pcm_s16le", "t", "d", "2026-01-01T00:00:10", "2026-01-01T00:00:00")
        df = spark.createDataFrame([row_u, row_d], str_schema)
        df = (
            df.withColumn("_cdc_timestamp", F.to_timestamp("cdc_s"))
            .withColumn("_olake_timestamp", F.to_timestamp("ing_s"))
            .drop("cdc_s", "ing_s")
            .withColumn("_olake_id", F.md5("clip_id"))
        )
        won = dedup_batch(df)
        assert won.count() == 1
        assert won.first()["_op_type"] == "d"  # DELETE priority highest


class TestMerge:
    def test_upsert_update_delete_insert(self, spark, merged_table):
        batch = cdc_batch(
            spark, BASE_N, batch_no=1, updates=10, deletes=5, inserts=7, dup_keys=3
        )
        n_del = batch.filter("_op_type = 'd'").count()
        m = merge_into(merged_table, batch)
        assert m["source_rows"] == 10 + n_del + 7
        got = merged_table.scan()
        assert got.count() == BASE_N - n_del + 7
        # updated rows carry the new transcript version
        upd = got.filter(F.col("transcript").rlike(" v(1|101)$")).count()
        assert upd == 10
        # deleted keys gone
        deleted_ids = [r["_olake_id"] for r in batch.filter("_op_type='d'").select("_olake_id").collect()]
        assert got.filter(F.col("_olake_id").isin(deleted_ids)).count() == 0
        # inserts present
        assert got.filter(F.col("clip_id") >= f"clip_{BASE_N:012d}").count() == 7
        # one row per key, always
        assert got.select("_olake_id").distinct().count() == got.count()

    def test_file_pruning(self, spark, merged_table):
        # a batch touching only the first few clip ids must not rewrite
        # files holding the upper key ranges
        batch = cdc_batch(spark, 4, batch_no=2, updates=2)  # keys 0 and 3
        paths = affected_file_paths(merged_table, batch.select("_olake_id"), "_olake_id")
        assert 0 < len(paths) < len(merged_table.entries())
        m = merge_into(merged_table, batch)
        assert m["pruned_files"] > 0
        assert merged_table.scan().count() == BASE_N

    def test_idempotent_replay_via_lineage(self, spark, merged_table, tmp_path):
        lin = LineageManifest(str(tmp_path / "state.json"), job_id="job-1")
        batch = cdc_batch(spark, BASE_N, batch_no=3, updates=5, deletes=2)
        m1 = merge_into(merged_table, batch, lineage=lin)
        snap1 = merged_table.meta.current_snapshot_id
        rows1 = merged_table.scan().count()
        # replay with same lineage → skipped, no new snapshot
        lin2 = LineageManifest(str(tmp_path / "state.json"), job_id="job-1")
        m2 = merge_into(merged_table, batch, lineage=lin2)
        assert m2.get("skipped") is True
        assert merged_table.meta.current_snapshot_id == snap1
        assert merged_table.scan().count() == rows1
        assert m1["snapshot_id"] == m2["snapshot_id"]

    def test_merge_without_lineage_is_still_deterministic(self, spark, merged_table):
        """Replaying the same batch twice (no lineage) converges to the
        same table content — equality-delete-before-insert idempotency
        (BaseDeltaTaskWriter.java:56-59)."""
        batch = cdc_batch(spark, BASE_N, batch_no=4, updates=6, deletes=3)
        merge_into(merged_table, batch)
        h1 = (
            merged_table.scan()
            .select(F.md5(F.concat_ws("|", "_olake_id", "transcript", "_op_type")).alias("h"))
            .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s"))
            .first()["s"]
        )
        merge_into(merged_table, batch)
        h2 = (
            merged_table.scan()
            .select(F.md5(F.concat_ws("|", "_olake_id", "transcript", "_op_type")).alias("h"))
            .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s"))
            .first()["s"]
        )
        assert h1 == h2

    def test_sort_merge_join_in_plan(self, spark, merged_table):
        """North rule: MERGE resolves via sort-merge join."""
        from olake_spark.operators.merge import dedup_batch as dd

        batch = cdc_batch(spark, BASE_N, batch_no=5, updates=5)
        src = dd(batch).alias("s")
        tgt = merged_table.scan().alias("t")
        joined = tgt.join(src.hint("merge"), F.col("t._olake_id") == F.col("s._olake_id"), "full_outer")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan

    def test_pcm_and_transcript_invariant_after_merge(self, spark, merged_table):
        """input_hint invariant: decoded PCM SNR ≥ 30 dB + transcript
        equality per clip after maintenance."""
        batch = cdc_batch(spark, BASE_N, batch_no=6, updates=8, deletes=4, inserts=3)
        merge_into(merged_table, batch)
        scan = merged_table.scan()
        rep = scan.mapInPandas(lambda it: (verify_batch(p) for p in it), schema=VERIFY_SCHEMA)
        assert rep.filter(~F.col("snr_ok")).count() == 0
        # transcript equality: base rows (not updated) match the generator
        import re

        for r in scan.filter(~F.col("transcript").rlike(" v\\d+$")).limit(20).collect():
            i = int(re.search(r"(\d+)$", r["clip_id"]).group(1))
            assert r["transcript"] == transcript_for(i)


class TestSingleSourceScan:
    def test_merge_scans_source_batch_once(self, spark, merged_table):
        """The CDC merge path must read the FULL source batch (payload
        columns) exactly once — the pruning/sizing pass is keys-only,
        where column pruning drops this probe column entirely. An
        accumulator-ticking UDF on a carried column counts payload
        evaluations — more than one full pass would tick ≥ 2× the batch
        size (the round-1 code ticked ~3×: dedup re-ran for count(),
        pruning, and the join)."""
        acc = spark.sparkContext.accumulator(0)

        def tick(t):
            acc.add(1)
            return t

        tick_udf = F.udf(tick, "string")
        batch = cdc_batch(spark, BASE_N, batch_no=8, updates=10, deletes=3, inserts=2)
        probed = batch.withColumn("transcript", tick_udf(F.col("transcript")))
        n_batch = batch.count()
        m = merge_into(merged_table, probed)
        assert m["source_rows"] == n_batch
        assert 0 < acc.value <= n_batch


class TestAnalyticRangeOutput:
    def test_merge_output_files_have_tight_disjoint_bounds(self, spark, merged_table):
        """The analytic hex-prefix fanout must produce files whose
        _olake_id [min,max] ranges are narrow and non-overlapping, so
        the NEXT merge's manifest pruning works (self-sustaining)."""
        batch = cdc_batch(spark, BASE_N, batch_no=7, updates=10)
        m = merge_into(merged_table, batch, target_file_size=64 * 1024)
        entries = sorted(
            (e for e in merged_table.entries() if e.lower_bounds.get("_olake_id")),
            key=lambda e: e.lower_bounds["_olake_id"],
        )
        assert len(entries) >= 2
        for a, b in zip(entries, entries[1:]):
            assert a.upper_bounds["_olake_id"] <= b.lower_bounds["_olake_id"]
        # each file the merge wrote spans well under the whole hex
        # keyspace (a base file holding no batch key is carried over
        # as the initial load wrote it)
        written = [e for e in entries if e.added_snapshot_id == m["snapshot_id"]]
        assert len(written) == m["written_files"]
        spans = [
            int(e.upper_bounds["_olake_id"][:4], 16) - int(e.lower_bounds["_olake_id"][:4], 16)
            for e in written
        ]
        assert max(spans) < 65536 / len(entries) * 3


class TestScanStableContract:
    """The merge reads its source twice; a nondeterministic plan must
    refuse loudly instead of silently corrupting (VERDICT r3 #3)."""

    @staticmethod
    def _table(spark, tmp_path):
        t = Table.create(
            spark, str(tmp_path / "t"), "audio_clips", FULL_SCHEMA,
            identifier_fields=["_olake_id"],
        )
        base = generate_clips(spark, BASE_N, partitions=4)
        t.commit_append(
            t.write_datafiles(base, ranged=True, num_groups=4)
        )
        return t

    def _tainted(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        batch = cdc_batch(spark, BASE_N, 1, updates=5, inserts=3)
        # rand() in the key derivation: each scan sees different keys
        tainted = batch.withColumn(
            "_olake_id", F.md5(F.concat("clip_id", (F.rand() * 10).cast("int").cast("string")))
        )
        return t, tainted

    def test_rand_source_refused(self, spark, tmp_path):
        t, tainted = self._tainted(spark, tmp_path)
        with pytest.raises(ValueError, match="scan-stable"):
            merge_into(t, tainted)

    def test_rand_source_refused_mor(self, spark, tmp_path):
        from olake_spark.operators.merge import merge_mor

        t, tainted = self._tainted(spark, tmp_path)
        with pytest.raises(ValueError, match="scan-stable"):
            merge_mor(t, tainted)

    def test_current_timestamp_refused(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        batch = cdc_batch(spark, BASE_N, 1, updates=5).withColumn(
            "_cdc_timestamp", F.current_timestamp()
        )
        with pytest.raises(ValueError, match="scan-stable"):
            merge_into(t, batch)

    def test_persisted_source_accepted(self, spark, tmp_path):
        """persist() pins the batch: the first action materializes it
        and the second reads the same data — merges correctly."""
        t, tainted = self._tainted(spark, tmp_path)
        pinned = tainted.persist()
        try:
            m = merge_into(t, pinned)
            assert m["source_rows"] > 0
            # every live key unique (no duplicate-key corruption)
            scan = t.scan()
            assert scan.count() == scan.select("_olake_id").distinct().count()
        finally:
            pinned.unpersist()

    def test_plain_deterministic_source_unaffected(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        m = merge_into(t, cdc_batch(spark, BASE_N, 1, updates=5, deletes=2))
        assert m["source_rows"] > 0

    def test_clock_inside_subquery_refused(self, spark, tmp_path):
        """A clock expression hidden in a SUBQUERY plan (hangs off the
        expression, not the node's children) must still be detected —
        `ts >= (SELECT current_timestamp() - ...)` folds a different
        value on each of the merge's two actions."""
        t = self._table(spark, tmp_path)
        batch = cdc_batch(spark, BASE_N, 1, updates=5)
        batch.createOrReplaceTempView("__ss_batch")
        tainted = spark.sql(
            "SELECT * FROM __ss_batch WHERE _cdc_timestamp <= "
            "(SELECT current_timestamp())"
        )
        with pytest.raises(ValueError, match="scan-stable"):
            merge_into(t, tainted)

    def test_clock_token_in_string_literal_accepted(self, spark, tmp_path):
        """A string LITERAL spelling 'now()' (a filter value, a column
        payload) must not trip the clock-expression detector — the
        check inspects expression classes, not the plan's rendered
        text (plans print literals unquoted, so a text scan would
        false-positive and refuse a deterministic merge)."""
        t = self._table(spark, tmp_path)
        batch = cdc_batch(spark, BASE_N, 1, updates=5).withColumn(
            "transcript", F.lit("now()")
        ).filter(F.col("transcript") == "now()")
        m = merge_into(t, batch)
        assert m["source_rows"] > 0
