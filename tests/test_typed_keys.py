"""Typed-key matrix for the merge path (round-2 verdict bug #1).

Every pre-round-3 merge test used md5-hex ``_olake_id`` keys, where
lexicographic string comparison of manifest bounds happens to equal the
correct order — hiding that ``affected_file_paths`` compared bounds as
strings ("9" > "1500"), which silently skipped data files that
numerically contained a source key: ``merge_into`` left duplicate keys
and ``fold_deletes`` resurrected deleted rows. These tests pin the
typed comparison over {string, bigint, timestamp} identifier keys,
mirroring the reference's typed equality-delete keys
(BaseDeltaTaskWriter.java:49-61).
"""

from __future__ import annotations

import datetime as dt

import pyarrow.compute as pc
import pyarrow.parquet as papq
import pytest
from pyspark.sql import functions as F

from olake_spark.operators.merge import affected_file_paths, fold_deletes, merge_into, merge_mor
from olake_spark.table import Table

SCHEMA_TMPL = (
    "id {typ}, val string, _op_type string, "
    "_cdc_timestamp timestamp, _olake_timestamp timestamp"
)

T0 = dt.datetime(2026, 1, 1)


def _key(typ: str, i: int):
    if typ == "bigint":
        return i
    if typ == "string":
        return f"k{i:06d}"
    return T0 + dt.timedelta(seconds=i)


def _rows(typ: str, ids, op: str, ver: int, cdc_off: int):
    return [
        (_key(typ, i), f"v{ver}_{i}", op, T0 + dt.timedelta(seconds=cdc_off), T0)
        for i in ids
    ]


@pytest.fixture(params=["bigint", "string", "timestamp"])
def typed_table(request, spark, tmp_table_dir):
    typ = request.param
    t = Table.create(
        spark,
        tmp_table_dir,
        f"typed_{typ}",
        SCHEMA_TMPL.format(typ=typ),
        identifier_fields=["id"],
        properties={"stats.columns": "id"},
    )
    # One wide-bounds file: keys {1..20} ∪ {1500}. For bigint the string
    # bounds are lo="1", hi="1500": every key 2..20 compares OUTSIDE
    # that range lexicographically ("9" > "1500") — the round-2 repro.
    base = spark.createDataFrame(
        _rows(typ, list(range(1, 21)) + [1500], "r", 0, 0),
        SCHEMA_TMPL.format(typ=typ),
    )
    t.commit_append(t.write_datafiles(base.coalesce(1), sort_within=["id"]))
    return t, typ


class TestTypedBoundsPruning:
    def test_affected_detects_contained_key(self, spark, typed_table):
        t, typ = typed_table
        keys = spark.createDataFrame([(_key(typ, 9),)], f"id {typ}")
        assert len(affected_file_paths(t, keys, "id")) == 1

    def test_pruning_still_prunes(self, spark, tmp_table_dir):
        t = Table.create(
            spark,
            tmp_table_dir,
            "prune_bigint",
            SCHEMA_TMPL.format(typ="bigint"),
            identifier_fields=["id"],
            properties={"stats.columns": "id"},
        )
        lo_file = spark.createDataFrame(_rows("bigint", range(1, 10), "r", 0, 0), t.schema)
        hi_file = spark.createDataFrame(_rows("bigint", range(1000, 1501, 100), "r", 0, 0), t.schema)
        e1 = t.write_datafiles(lo_file.coalesce(1), sort_within=["id"])
        e2 = t.write_datafiles(hi_file.coalesce(1), sort_within=["id"])
        t.commit_append(e1 + e2)
        keys = spark.createDataFrame([(1200,)], "id bigint")
        hit = affected_file_paths(t, keys, "id")
        assert hit == [e2[0].path]  # numeric containment, numeric pruning

    def test_range_write_keeps_per_file_bounds_disjoint(self, spark, typed_table):
        """A key-range write at a key other than the md5 ``_olake_id``
        splits it with the sampled ``repartitionByRange``: each file
        still covers its own key range."""
        t, typ = typed_table
        df = spark.createDataFrame(_rows(typ, range(1, 401), "r", 0, 0), t.schema)
        entries = t.write_datafiles(df.repartition(4), ranged=True, num_groups=4)
        assert sum(e.record_count for e in entries) == 400
        assert len(entries) > 1
        # read from the files: the manifest keeps no timestamp bounds
        ids = [papq.read_table(t.abs_entry_path(e), columns=["id"])["id"] for e in entries]
        spans = sorted((pc.min(c).as_py(), pc.max(c).as_py()) for c in ids)
        for (lo, hi), (next_lo, _) in zip(spans, spans[1:]):
            assert lo <= hi < next_lo

    def test_merge_into_no_duplicate_key(self, spark, typed_table):
        t, typ = typed_table
        batch = spark.createDataFrame(_rows(typ, [9], "u", 1, 10), t.schema)
        merge_into(t, batch)
        got = t.scan().filter(F.col("id") == F.lit(_key(typ, 9))).collect()
        assert len(got) == 1, f"duplicate key for {typ}"
        assert got[0]["val"] == "v1_9"
        assert t.scan().count() == 21

    def test_fold_deletes_stays_dead(self, spark, typed_table):
        t, typ = typed_table
        batch = spark.createDataFrame(_rows(typ, [9, 15], "d", 1, 10), t.schema)
        merge_mor(t, batch)
        assert t.scan().count() == 19
        fold_deletes(t)
        assert not t.delete_entries()
        assert t.scan().count() == 19, f"fold resurrected deleted rows for {typ}"
        assert t.scan().filter(F.col("id") == F.lit(_key(typ, 9))).count() == 0

    def test_mor_cow_equivalence(self, spark, typed_table):
        t, typ = typed_table
        batch = spark.createDataFrame(
            _rows(typ, [5, 9], "u", 2, 20) + _rows(typ, [1500], "d", 2, 20),
            t.schema,
        )
        merge_mor(t, batch)
        got = {r["id"]: r["val"] for r in t.scan().collect()}
        assert len(got) == 20
        assert got[_key(typ, 5)] == "v2_5"
        assert _key(typ, 1500) not in got
