"""Per-file key-bloom sidecars (table/bloom.py): build/probe contract,
fold/OR-merge algebra, MERGE pruning where bounds are blind (uniform
md5 ``_olake_id`` per utils/utils.go:252-273 spans every append file
~[00.., ff..]), lifecycle through compaction copy, GC and expire."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from olake_spark.functions.hashing import mmh3_32_packed, pack_binary
from olake_spark.fixtures.audio_clips import FULL_SCHEMA, cdc_batch, generate_clips
from olake_spark.operators.compaction import compact
from olake_spark.operators.expire import expire_snapshots
from olake_spark.operators.gc import remove_orphan_files
from olake_spark.operators.merge import affected_file_paths, merge_into
from olake_spark.table import bloom as B
from olake_spark.table import fsio
from olake_spark.table.table import BLOOM_COL_PROP, Table

FUTURE_MS = 2**53


def _digest_one(value):
    return B.digests(B.key_bytes([value]))


class TestBloomCore:
    KEYS = [f"key-{i:05d}" for i in range(5000)]

    @pytest.fixture(scope="class")
    def built(self):
        payload = B.build("_olake_id", self.KEYS, 0.01)
        header, bits = B.deserialize(payload)
        return payload, header, bits

    def test_no_false_negatives(self, built):
        _, header, bits = built
        h1, h2 = B.digests(B.key_bytes(self.KEYS))
        # every key individually AND the whole batch at once
        assert B.might_contain_any(header, bits, h1, h2)
        for i in range(0, len(self.KEYS), 137):
            assert B.might_contain_any(header, bits, *_digest_one(self.KEYS[i]))

    def test_fpp_within_design(self, built):
        _, header, bits = built
        absent = [f"absent-{i}" for i in range(2000)]
        fp = sum(
            B.might_contain_any(header, bits, *_digest_one(a)) for a in absent
        )
        # design fpp 1% with pow2-rounded m; allow generous slack
        assert fp / len(absent) < 0.05

    def test_fold_preserves_membership(self, built):
        _, header, bits = built
        folded = B.fold(bits, header["m"], header["m"] // 4)
        small = dict(header, m=header["m"] // 4)
        for i in range(0, len(self.KEYS), 111):
            assert B.might_contain_any(small, folded, *_digest_one(self.KEYS[i]))

    def test_or_merge_covers_both_sides(self, built):
        payload, _, _ = built
        other = [f"other-{i:05d}" for i in range(4000)]
        merged = B.or_merge([payload, B.build("_olake_id", other, 0.01)])
        assert merged is not None
        header, bits = B.deserialize(merged)
        assert header["n"] == 9000
        for probe in (self.KEYS[123], other[50]):
            assert B.might_contain_any(header, bits, *_digest_one(probe))

    def test_or_merge_refuses_density_and_mismatch(self, built):
        payload, _, _ = built
        # folding a near-capacity bloom down to a 1-key width ORs it
        # past MAX_FILL → rebuild-from-data fallback, never a dense lie
        assert B.or_merge([payload, B.build("_olake_id", ["a"], 0.01)]) is None
        assert B.or_merge([payload, B.build("other_col", ["a"], 0.01)]) is None
        assert B.or_merge([]) is None

    def test_serialize_round_trip_and_corruption(self, built):
        payload, header, bits = built
        h2, b2 = B.deserialize(payload)
        assert h2 == header and np.array_equal(b2, bits)
        assert B.deserialize(payload[:-5]) is None  # truncated bitset
        assert B.deserialize(b"junk") is None  # bad magic

    def test_int_keys_canonicalize(self):
        payload = B.build("k", list(range(1000)), 0.01)
        header, bits = B.deserialize(payload)
        # numpy int on the probe side must hash like the Python int
        assert B.might_contain_any(header, bits, *_digest_one(np.int64(500)))

    def test_probe_conservative_on_missing_or_foreign(self, tmp_path):
        h1, h2 = _digest_one("x")
        missing = str(tmp_path / "nope.parquet")
        assert B.file_might_contain(missing, "_olake_id", h1, h2)
        bad = str(tmp_path / "bad.parquet")
        with open(bad + B.SIDECAR_SUFFIX, "wb") as f:
            f.write(b"not a bloom")
        assert B.file_might_contain(bad, "_olake_id", h1, h2)
        wrong = str(tmp_path / "wrong.parquet")
        B.write_sidecar(wrong, B.build("other_col", ["x"], 0.01))
        assert B.file_might_contain(wrong, "_olake_id", h1, h2)

    def test_torn_header_is_conservative(self, tmp_path, built):
        """A crash mid-write_sidecar leaves MAGIC plus a partial
        header: every reader must treat the file as affected, never
        raise."""
        payload, _, _ = built
        torn = B.MAGIC + b'{"col": '
        for debris in (torn, B.MAGIC + b'{"col": "_olake_id"}\n', B.MAGIC + b"\xff\xfe\n"):
            assert B.deserialize(debris) is None
        path = str(tmp_path / "torn.parquet")
        with open(path + B.SIDECAR_SUFFIX, "wb") as f:
            f.write(torn)
        assert B.file_might_contain(path, "_olake_id", *_digest_one("x")) is True
        assert B.or_merge([payload, torn]) is None

    ARROW_CASES = {
        # empty string, multi-byte UTF-8, 1-3 byte tails, one 37-byte key
        "string": (pa.string(), ["", "a", "ab", "abc", "abcd", "héllo", "日本語", "x" * 37, None]),
        "binary": (pa.binary(), [b"", b"\x00", b"\xff\xfe", b"abc", b"abcde", None, b"k" * 9]),
        "int": (pa.int64(), [0, 7, -1, 123, 2**40, -(2**40), None, 10**15]),
        "large_string": (pa.large_string(), ["", "é", "key-00001", None]),
    }

    @pytest.mark.parametrize("case", sorted(ARROW_CASES))
    def test_arrow_column_matches_list_path(self, case):
        """The harvest hands ``build`` the Arrow column; digests and
        sidecar bytes must equal the per-value list path's, and the
        buffer packing must equal packing each key on its own."""
        typ, values = self.ARROW_CASES[case]
        col = pa.chunked_array([pa.array(values[:3], typ), pa.array(values[3:], typ)])
        listed = B.key_bytes(values)
        for got, want in zip(B.digests(B.key_array(col)), B.digests(listed)):
            assert np.array_equal(got, want)
        assert B.build("k", col, 0.01) == B.build("k", values, 0.01)
        width = max(4, -(-max(len(k) for k in listed) // 4) * 4)
        naive = np.zeros((len(listed), width), dtype=np.uint8)
        for i, k in enumerate(listed):
            naive[i, : len(k)] = np.frombuffer(k, dtype=np.uint8)
        lens = np.array([len(k) for k in listed])
        want = mmh3_32_packed(naive, lens, seed=7)
        assert np.array_equal(mmh3_32_packed(*pack_binary(B.key_array(col)), seed=7), want)
        # a sliced array packs from its own offsets
        sliced = B.key_array(col).slice(1)
        assert np.array_equal(B.digests(sliced)[0], B.digests(listed[1:])[0])


BASE_N = 120


@pytest.fixture()
def bloom_table(spark, tmp_table_dir):
    """Bounds-blind shape: appends NOT range-partitioned on the key, so
    every file spans ~the full md5 space and bounds pruning keeps all."""
    t = Table.create(
        spark,
        tmp_table_dir,
        "audio_clips",
        FULL_SCHEMA,
        identifier_fields=["_olake_id"],
        properties={BLOOM_COL_PROP: "_olake_id"},
    )
    base = generate_clips(spark, BASE_N, partitions=4)
    t.commit_append(t.write_datafiles(base))
    return t


class TestBloomTableIntegration:
    def test_sidecar_written_per_data_file(self, bloom_table):
        t = bloom_table
        for e in t.data_entries():
            assert os.path.exists(t.abs_entry_path(e) + B.SIDECAR_SUFFIX), e.path

    def test_merge_prunes_bounds_blind_appends(self, spark, bloom_table):
        t = bloom_table
        entries = t.data_entries()
        assert len(entries) >= 2
        batch = cdc_batch(spark, BASE_N, batch_no=1, updates=1)
        affected = affected_file_paths(t, batch, "_olake_id")
        # bounds alone keep every file (uniform md5); the bloom layer
        # must cut the set to the file(s) actually holding the key
        # (equality up to fp noise: 1% of 4 files rounds to exact here)
        key = batch.select("_olake_id").first()[0]
        truly = {
            e.path
            for e in entries
            if t.spark.read.parquet(t.abs_entry_path(e))
            .filter(F.col("_olake_id") == key)
            .count()
            > 0
        }
        assert set(affected) >= truly
        assert len(affected) < len(entries)

    def test_lookup_pruning_keeps_every_holder(self, spark, bloom_table):
        """A point lookup on the bloom column never drops the file that
        holds the key — checked for every key — and, where the bounds
        keep every file, narrows lookups overall."""
        t = bloom_table
        entries = t.data_entries()
        index = {e.path: i for i, e in enumerate(entries)}
        holder = {
            r["_olake_id"]: entries[r["__file"]].path
            for r in t.scan(tags={"__file": index}).select("_olake_id", "__file").collect()
        }
        assert len(holder) == BASE_N
        kept_total = 0
        for key, path in holder.items():
            kept = {e.path for e in t.pruned_entries("_olake_id", key, key)}
            assert path in kept, key
            kept_total += len(kept)
        assert kept_total < len(entries) * len(holder)

    def test_lookup_pruning_is_conservative_and_point_only(
        self, spark, bloom_table, monkeypatch
    ):
        t = bloom_table
        entries = t.data_entries()
        torn, missing = entries[0], entries[1]
        with open(t.abs_entry_path(torn) + B.SIDECAR_SUFFIX, "wb") as f:
            f.write(B.MAGIC + b'{"col": ')
        os.remove(t.abs_entry_path(missing) + B.SIDECAR_SUFFIX)
        for key in ("absent-key", t.scan().first()["_olake_id"]):
            kept = {e.path for e in t.pruned_entries("_olake_id", key, key)}
            assert {torn.path, missing.path} <= kept, key
        # ranges and other columns keep the bounds-only answer, unprobed
        monkeypatch.setattr(B, "probe_files", lambda *a: pytest.fail("probed"))
        for col, lo, hi in (("_olake_id", "3", "9"), ("_olake_id", None, "8"), ("dur_ms", 100, 100)):
            want = [
                e for e in t.entries()
                if e.lower_bounds.get(col) is None
                or e.upper_bounds.get(col) is None
                or not ((hi is not None and e.lower_bounds[col] > hi)
                        or (lo is not None and e.upper_bounds[col] < lo))
            ]
            assert t.pruned_entries(col, lo, hi) == want

    def test_merge_correct_after_pruning(self, spark, bloom_table):
        t = bloom_table
        batch = cdc_batch(spark, BASE_N, batch_no=1, updates=3, deletes=2, inserts=2)
        n_del = batch.filter("_op_type = 'd'").count()
        n_ins = batch.filter("_op_type = 'c'").count()
        merge_into(t, batch)
        assert t.scan().count() == BASE_N - n_del + n_ins
        # updated transcript actually landed
        up_key = batch.filter(F.col("_op_type") == "u").select("_olake_id").first()[0]
        row = t.scan().filter(F.col("_olake_id") == up_key).first()
        assert "v1" in row["transcript"]

    def test_probe_skipped_above_key_cap(self, spark, bloom_table, monkeypatch):
        t = bloom_table
        monkeypatch.setattr(B, "PROBE_KEY_CAP", 1)
        batch = cdc_batch(spark, BASE_N, batch_no=1, updates=5)
        affected = affected_file_paths(t, batch, "_olake_id")
        # over-cap batches fall back to bounds-only: ALL files affected
        assert len(affected) == len(t.data_entries())

    def test_probe_skipped_when_key_not_bloom_col(self, spark, bloom_table):
        t = bloom_table
        batch = cdc_batch(spark, BASE_N, batch_no=1, updates=1)
        affected = affected_file_paths(t, batch.withColumnRenamed("_olake_id", "clip_key"), "clip_key")
        assert len(affected) == len(t.data_entries())

    def test_compaction_copy_merges_sidecars(self, spark, bloom_table):
        t = bloom_table
        n_before = t.scan().count()
        res = compact(t, target_size=64 * 1024 * 1024)
        assert res["bins"] >= 1 and res["files_in"] > res["files_out"]
        assert t.scan().count() == n_before
        entries = t.data_entries()
        for e in entries:
            sc = t.abs_entry_path(e) + B.SIDECAR_SUFFIX
            assert os.path.exists(sc), e.path
            payload = open(sc, "rb").read()
            header, bits = B.deserialize(payload)
            assert header["col"] == "_olake_id"
        # post-compaction pruning still has no false negatives: every
        # key must probe into some live file's sidecar
        keys = [r[0] for r in t.scan().select("_olake_id").collect()]
        h1s, h2s = B.digests(B.key_bytes(keys))
        for i in range(0, len(keys), 29):
            hit = any(
                B.file_might_contain(
                    t.abs_entry_path(e), "_olake_id", h1s[i : i + 1], h2s[i : i + 1]
                )
                for e in entries
            )
            assert hit, keys[i]

    def test_expire_sweeps_dead_sidecars(self, spark, bloom_table):
        t = bloom_table
        dead_abs = [t.abs_entry_path(e) for e in t.data_entries()]
        batch = cdc_batch(spark, BASE_N, batch_no=1, updates=BASE_N)
        merge_into(t, batch)  # rewrites everything → old files dead
        expire_snapshots(t, keep_last=1)
        for p in dead_abs:
            assert not os.path.exists(p)
            assert not os.path.exists(p + B.SIDECAR_SUFFIX), p

    def test_gc_keeps_live_sidecars_sweeps_orphans(self, spark, bloom_table):
        t = bloom_table
        live_sidecars = [
            t.abs_entry_path(e) + B.SIDECAR_SUFFIX for e in t.data_entries()
        ]
        orphan_data = os.path.join(t.location, "data", "deadbeef", "part-x.parquet")
        os.makedirs(os.path.dirname(orphan_data))
        with open(orphan_data, "wb") as f:
            f.write(b"dead")
        B.write_sidecar(orphan_data, B.build("_olake_id", ["k"], 0.01))
        remove_orphan_files(t, older_than_ms=FUTURE_MS)
        assert not os.path.exists(orphan_data)
        assert not os.path.exists(orphan_data + B.SIDECAR_SUFFIX)
        for p in live_sidecars:
            assert os.path.exists(p), p


class TestDistributedProbeParity:
    def test_spark_job_probe_matches_threaded(self, spark, bloom_table, monkeypatch):
        t = bloom_table
        batch = cdc_batch(spark, BASE_N, batch_no=1, updates=2)
        threaded = affected_file_paths(t, batch, "_olake_id")
        monkeypatch.setattr(fsio, "DISTRIBUTED_THRESHOLD", 0)
        sc_type = type(spark.sparkContext)
        real_broadcast = sc_type.broadcast
        made = []

        def spy(self, value):
            made.append(real_broadcast(self, value))
            return made[-1]

        monkeypatch.setattr(sc_type, "broadcast", spy)
        distributed = affected_file_paths(t, batch, "_olake_id")
        assert threaded == distributed
        # the digest broadcast is released after the probe job, not
        # leaked per merge in a long-lived streaming session
        assert len(made) == 1
        assert not made[0]._jbroadcast.isValid()


class TestBloomBackfill:
    """build_blooms: retrofitting sidecars onto pre-opt-in files (the
    rewrite-statistics maintenance analog, operators/bloom_backfill)."""

    @pytest.fixture()
    def late_optin_table(self, spark, tmp_table_dir):
        t = Table.create(
            spark, tmp_table_dir, "audio_clips", FULL_SCHEMA,
            identifier_fields=["_olake_id"],
        )
        t.commit_append(t.write_datafiles(generate_clips(spark, BASE_N, partitions=4)))
        # opt in AFTER the base load: existing files have no sidecars
        t.update_properties({"write.bloom.column": "_olake_id"})
        return t

    def test_requires_property(self, spark, tmp_table_dir):
        from olake_spark.operators.bloom_backfill import build_blooms

        t = Table.create(
            spark, tmp_table_dir, "audio_clips", FULL_SCHEMA,
            identifier_fields=["_olake_id"],
        )
        with pytest.raises(ValueError, match="write.bloom.column"):
            build_blooms(t)

    def test_backfill_builds_then_skips(self, spark, late_optin_table):
        from olake_spark.operators.bloom_backfill import build_blooms

        t = late_optin_table
        n_files = len(t.data_entries())
        assert not any(
            os.path.exists(t.abs_entry_path(e) + B.SIDECAR_SUFFIX)
            for e in t.data_entries()
        )
        res = build_blooms(t)
        assert res == {
            "files": n_files, "built": n_files, "skipped": 0,
            "unsupported": 0, "missing": 0,
        }
        # idempotent re-run: resumability is "skip what exists"
        res2 = build_blooms(t)
        assert res2["built"] == 0 and res2["skipped"] == n_files

    def test_torn_sidecar_is_rebuilt(self, spark, late_optin_table):
        from olake_spark.operators.bloom_backfill import build_blooms

        t = late_optin_table
        build_blooms(t)
        torn = t.abs_entry_path(t.data_entries()[0])
        with open(torn + B.SIDECAR_SUFFIX, "wb") as f:
            f.write(B.MAGIC + b'{"col": ')
        res = build_blooms(t)
        assert res["built"] == 1 and res["skipped"] == res["files"] - 1
        header, _ = B.deserialize(open(torn + B.SIDECAR_SUFFIX, "rb").read())
        assert header["col"] == "_olake_id"

    def test_column_switch_rebuilds(self, spark, late_optin_table):
        """Sidecars for the previous write.bloom.column do not count as
        done for the new one."""
        from olake_spark.operators.bloom_backfill import build_blooms

        t = late_optin_table
        build_blooms(t)
        t.update_properties({"write.bloom.column": "clip_id"})
        res = build_blooms(t)
        assert res["built"] == res["files"] and res["skipped"] == 0
        for e in t.data_entries():
            payload = open(t.abs_entry_path(e) + B.SIDECAR_SUFFIX, "rb").read()
            assert B.deserialize(payload)[0]["col"] == "clip_id"
        res2 = build_blooms(t)
        assert res2["skipped"] == res2["files"] and res2["built"] == 0

    def test_spark_job_backfill_matches_threaded(self, spark, late_optin_table, monkeypatch):
        from olake_spark.operators.bloom_backfill import build_blooms

        t = late_optin_table
        sidecars = [t.abs_entry_path(e) + B.SIDECAR_SUFFIX for e in t.data_entries()]
        threaded = build_blooms(t)
        threaded_bytes = [open(p, "rb").read() for p in sidecars]
        for p in sidecars:
            os.remove(p)
        monkeypatch.setattr(fsio, "DISTRIBUTED_THRESHOLD", 0)
        distributed = build_blooms(t)
        assert distributed == threaded
        assert [open(p, "rb").read() for p in sidecars] == threaded_bytes

    def test_pruning_works_after_backfill(self, spark, late_optin_table):
        from olake_spark.operators.bloom_backfill import build_blooms

        t = late_optin_table
        build_blooms(t)
        batch = cdc_batch(spark, BASE_N, batch_no=1, updates=1)
        affected = affected_file_paths(t, batch, "_olake_id")
        assert len(affected) < len(t.data_entries())

    def test_unbloomable_column_counted(self, spark, late_optin_table):
        from olake_spark.operators.bloom_backfill import build_blooms

        t = late_optin_table
        t.update_properties({"write.bloom.column": "_cdc_timestamp"})
        res = build_blooms(t)
        assert res["unsupported"] == res["files"] and res["built"] == 0

    def test_update_properties_merge_and_remove(self, spark, late_optin_table):
        t = late_optin_table
        v0 = t.meta.version
        t.update_properties({"write.bloom.fpp": "0.05"})
        assert t.bloom_fpp == 0.05 and t.bloom_col == "_olake_id"
        t.update_properties({"write.bloom.column": None})
        assert t.bloom_col is None
        assert t.meta.version == v0 + 2
        # reload from disk sees the committed properties
        t2 = Table.load(spark, t.location)
        assert t2.bloom_col is None and t2.bloom_fpp == 0.05
