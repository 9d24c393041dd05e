"""Table: create/load, snapshot-isolated scans, atomic commits.

The commit protocol is optimistic concurrency over metadata versions:
every metadata change goes through ``Table._commit_meta`` and the
table's own commit backend; losers refresh, re-derive, and retry with
backoff — the Spark-native analog of the reference's Iceberg
RowDelta/AppendFiles commits (IcebergTableOperator.java:116-169) and
its retry policy (drivers/abstract/utils.go:11-32, 3 attempts).
Commits that replace data files go through ``Table.rewrite`` on top of
it, which re-plans a rewrite that a concurrent commit invalidated.

Data writes go through ``write_datafiles``: one distributed Spark
write into an immutable per-commit directory, optional fanout column
(partitionBy on a synthetic grouping key — each group lands in exactly
one file because we repartition on the key first), then a footer-only
stats harvest builds manifest entries. Target file size honors the
``write.target-file-size-bytes`` property (reference default 512 MiB,
arrow-writer/utils.go:22).
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as papq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from olake_spark.session import local_df
from olake_spark.table import bloom as bloom_mod
from olake_spark.table import format as fmt
from olake_spark.table import fsio
from olake_spark.table import stats as stats_mod
from olake_spark.table.format import DataFileEntry, Snapshot, TableMetadata

TARGET_FILE_SIZE_PROP = "write.target-file-size-bytes"
STATS_COLS_PROP = "stats.columns"
DEFAULT_TARGET_FILE_SIZE = 512 * 1024 * 1024
#: opt-in per-file key-bloom sidecars (table/bloom.py): set to the key
#: column name (usually ``_olake_id``) to have every data-file write
#: also emit a ``<file>.parquet.bloom`` sidecar MERGE pruning can probe
BLOOM_COL_PROP = "write.bloom.column"
BLOOM_FPP_PROP = "write.bloom.fpp"
DEFAULT_BLOOM_FPP = 0.01

COMMIT_RETRIES = 3
COMMIT_BACKOFF_S = 0.2

#: most applicable delete records (summed manifest ``record_count``)
#: whose keys a merge-on-read scan reads on the driver; above it Spark
#: reads the delete files instead. Measured on a 4-vCPU host (md5
#: string keys in one delete file, data twice the deletes, warm scans):
#: the driver side won every full scan and lookup up to 40k keys (full
#: scan 0.80 s against 0.88–0.94 s), the two were even at 70k, and the
#: Spark side won from 100k on (1.15 s against 1.34 s; at 1M 4.2 s
#: against 8.8 s, with 270 MB more Python and 600 MB more JVM RSS)
DRIVER_DELETE_KEY_CAP = 50_000


#: characters java.net.URI keeps as they are in a path component
#: (RFC 2396 unreserved, pchar punctuation, ``;`` and ``/``); ``%`` is
#: not among them
_URI_PATH_ESCAPED = re.compile(r"[^A-Za-z0-9\-_.!~*'();/:@&=+$,]")


def _uri_path(path: str) -> str:
    """``path`` spelled as Hadoop ``Path(path).toUri()`` spells it, which
    is the spelling of Spark's ``_metadata.file_path``: java.net.URI
    quotes each character outside its path set as UTF-8 ``%XX``, except
    a non-ASCII one that is neither a space nor a control character,
    which it keeps."""

    def quote(m: re.Match) -> str:
        c = m.group()
        if c > "\x9f" and not c.isspace():
            return c
        return "".join(f"%{b:02X}" for b in c.encode())

    return _URI_PATH_ESCAPED.sub(quote, path)


class CommitConflict(Exception):
    pass


class Table:
    """Current metadata plus the commit backend this table commits
    through (default ``FileCommitBackend``)."""

    def __init__(self, spark: SparkSession, meta: TableMetadata, backend=None):
        self.spark = spark
        self.meta = meta
        self.backend = backend or fmt.FileCommitBackend()
        #: delete-file path → its key column (pyarrow, nulls dropped),
        #: read once per handle: delete files are immutable and
        #: uuid-named, so entries only leave once no longer live
        self._delete_keys: dict[str, pa.Table] = {}

    # ------------------------------------------------------------ lifecycle

    @staticmethod
    def create(
        spark: SparkSession,
        location: str,
        name: str,
        schema: T.StructType | str,
        identifier_fields: list[str] | None = None,
        partition_spec: list[dict] | None = None,
        properties: dict | None = None,
        backend=None,
    ) -> "Table":
        if len(identifier_fields or []) > 1:
            raise ValueError(
                f"a table has one key column, got identifier fields {identifier_fields}: "
                "hash a composite primary key into one column, as OLake's _olake_id "
                "(md5 of the sorted primary-key values) does"
            )
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        # relative locations break any comparison against Spark's
        # absolute _metadata.file_path — normalize once at the boundary
        location = os.path.abspath(location)
        os.makedirs(fmt.metadata_dir(location), exist_ok=True)
        os.makedirs(os.path.join(location, "data"), exist_ok=True)
        props = {TARGET_FILE_SIZE_PROP: str(DEFAULT_TARGET_FILE_SIZE)}
        props.update(properties or {})
        meta = TableMetadata(
            table_uuid=uuid.uuid4().hex,
            name=name,
            location=location,
            schema_json=schema.json(),
            identifier_fields=identifier_fields or [],
            partition_spec=partition_spec or [],
            properties=props,
            current_snapshot_id=None,
            snapshots=[],
            last_sequence_number=0,
            version=1,
        )
        t = Table(spark, meta, backend)
        if not fmt.try_write_metadata(t.backend, location, meta):
            raise CommitConflict(f"table already exists at {location}")
        return t

    @staticmethod
    def load(spark: SparkSession, location: str, backend=None) -> "Table":
        location = os.path.abspath(location)
        backend = backend or fmt.FileCommitBackend()
        meta = backend.read_current(location)
        meta.location = location  # actual path wins if the dir moved
        return Table(spark, meta, backend)

    def refresh(self) -> "Table":
        self.meta = Table.load(self.spark, self.meta.location, self.backend).meta
        return self

    # ------------------------------------------------------------ accessors

    @property
    def location(self) -> str:
        return self.meta.location

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.meta.schema_json))

    @property
    def key(self) -> str:
        """The one key column that upserts, equality deletes and key
        ranges use: the identifier field, else ``_olake_id``, the md5 of
        the sorted primary-key values (utils/utils.go:252-273)."""
        return (self.meta.identifier_fields or ["_olake_id"])[0]

    def key_range_id(self, n: int) -> Column | None:
        """The range id in ``[0, n)`` of each row's key, computed from
        its first four hex digits, when the key is the uniform-hex md5
        ``_olake_id``; else None (``repartitionByRange`` has to sample
        the key's distribution)."""
        if self.key != "_olake_id":
            return None
        prefix = F.conv(F.substring(F.col(self.key), 1, 4), 16, 10).cast("long")
        return (prefix * n / 65536).cast("int")

    @property
    def target_file_size(self) -> int:
        return int(self.meta.properties.get(TARGET_FILE_SIZE_PROP, DEFAULT_TARGET_FILE_SIZE))

    @property
    def stats_cols(self) -> list[str]:
        raw = self.meta.properties.get(STATS_COLS_PROP)
        if raw:
            return json.loads(raw) if raw.startswith("[") else raw.split(",")
        return stats_mod.DEFAULT_STATS_COLS

    @property
    def bloom_col(self) -> str | None:
        return self.meta.properties.get(BLOOM_COL_PROP) or None

    @property
    def bloom_fpp(self) -> float:
        return float(self.meta.properties.get(BLOOM_FPP_PROP, DEFAULT_BLOOM_FPP))

    def entries(self, snapshot_id: int | None = None) -> list[DataFileEntry]:
        snap = self.meta.snapshot(snapshot_id)
        if snap is None:
            return []
        return fmt.read_manifests(self.location, snap.manifests)

    def data_entries(self, snapshot_id: int | None = None) -> list[DataFileEntry]:
        return [e for e in self.entries(snapshot_id) if e.content != fmt.CONTENT_DELETES]

    def delete_entries(self, snapshot_id: int | None = None) -> list[DataFileEntry]:
        return [e for e in self.entries(snapshot_id) if e.content == fmt.CONTENT_DELETES]

    def live_paths(self, snapshot_id: int | None = None) -> set[str]:
        return {e.path for e in self.entries(snapshot_id)}

    def abs_entry_path(self, e: DataFileEntry) -> str:
        """Absolute filesystem path of a manifest entry (sidecars,
        removal, the compaction copy path; ``_read_tagged`` derives its
        join key from it)."""
        return os.path.normpath(os.path.join(self.location, e.path))

    # ------------------------------------------------------------ scans

    def scan(
        self,
        snapshot_id: int | None = None,
        entries: list[DataFileEntry] | None = None,
        apply_deletes: bool = True,
        tags: dict[str, dict[str, int]] | None = None,
    ) -> DataFrame:
        """Snapshot-isolated read: resolve the file list at plan time.

        ``tags``: ``{column: {entry path: value}}``, one integer per
        selected data file for each named column, attached to every row
        of that file as a long (``_read_tagged``: a row of no selected
        file raises). ``fold_deletes`` and ``compact`` tag each input
        file with its output group this way.

        Filters/projections applied by the caller on the returned
        DataFrame still push down to the parquet scans (Catalyst sees a
        plain multi-file parquet relation).

        Merge-on-read: equality deletes (merge_mor) are resolved by
        sequence number (Iceberg spec, "Scan Planning"): a delete file
        with sequence D kills a key's rows only in data files with
        sequence < D (compared per row in the anti-join), so rows
        committed WITH the delete survive (BaseDeltaTaskWriter.java:49-61
        delete-then-insert upsert). ``entries`` restricts which DATA
        files are read; the delete files come from the snapshot (so a
        pruned CoW rewrite of a MoR table still sees post-delete rows),
        and only those newer than the oldest selected data file are
        kept. With none left the scan is the plain multi-file read, no
        join; otherwise the read also tags each row with its file's
        sequence ``__seq`` and ``_anti_join_deletes`` applies the rest.
        """
        if entries is None:
            entries = self.entries(snapshot_id)
        data = [e for e in entries if e.content != fmt.CONTENT_DELETES]
        tags = dict(tags or {})
        dels = []
        if apply_deletes and data:
            dels = self.delete_entries(snapshot_id)
            live = {d.path for d in dels}
            self._delete_keys = {p: k for p, k in self._delete_keys.items() if p in live}
            oldest = min(e.added_snapshot_id for e in data)
            dels = [d for d in dels if d.added_snapshot_id > oldest]
        if dels:
            tags["__seq"] = {e.path: e.added_snapshot_id for e in data}
        df = self._read_tagged(data, self.schema, tags)
        return self._anti_join_deletes(df, dels) if dels else df

    def _read_tagged(
        self, entries: list[DataFileEntry], schema: T.StructType, tags: dict[str, dict[str, int]]
    ) -> DataFrame:
        """The one per-file tagging read: ``entries`` as ONE multi-file
        parquet relation under ``schema`` (never a per-file union), plus
        a long column per tag holding ``tags[column][e.path]`` on every
        row of file ``e``.

        A tag with the same value for every file is a literal: no join,
        no Spark job. The others ride one broadcast join of a
        driver-built ``(file key, tag...)`` table on the row's
        ``_metadata.file_path`` (only resolvable on the parquet relation
        itself). The file key is Spark's own spelling of the FULL path,
        never the basename (a partitionBy fanout write reuses one task's
        file name in every partition directory): Hadoop's
        ``Path(abs).toUri()`` on the table side, computed in Python by
        ``_uri_path`` (a space becomes ``%20``, ``%`` ``%25`` and ``#``
        ``%23``), and ``file_path`` with its scheme stripped on the row
        side. A row whose file matches no key raises: a rewrite would
        lose it and a scan would let it outlive its deletes.
        """
        tag_fields = [T.StructField(c, T.LongType()) for c in tags]
        if not entries:
            return local_df(self.spark, [], T.StructType(schema.fields + tag_fields))
        df = self.spark.read.schema(schema).parquet(
            *[fsio.hadoop_literal(os.path.join(self.location, e.path)) for e in entries]
        )
        joined = []
        for f in tag_fields:
            values = {tags[f.name][e.path] for e in entries}
            if len(values) == 1:
                df = df.withColumn(f.name, F.lit(values.pop()).cast("long"))
            else:
                joined.append(f)
        if not joined:
            return df

        plan = local_df(
            self.spark,
            [
                (_uri_path(self.abs_entry_path(e)), *[tags[f.name][e.path] for f in joined])
                for e in entries
            ],
            T.StructType([T.StructField("__file_key", T.StringType())] + joined),
        )
        row_key = F.regexp_replace(F.col("_metadata.file_path"), "^[a-z][a-z0-9+.-]*:/+", "/")
        df = df.withColumn("__file_key", row_key).join(F.broadcast(plan), "__file_key", "left")
        unmatched = F.raise_error(
            F.concat(F.lit("scanned file not in the tagging plan: "), F.col("__file_key"))
        ).cast("long")
        for f in joined:
            tag = F.col(f.name)
            df = df.withColumn(f.name, F.when(tag.isNull(), unmatched).otherwise(tag))
        return df.drop("__file_key")

    def _anti_join_deletes(self, df: DataFrame, dels: list[DataFileEntry]) -> DataFrame:
        """Scan-side application of the equality deletes ``dels`` to
        ``df``, whose rows carry their data file's sequence ``__seq``:
        an anti-join on ``key == __d_key AND __seq < __dseq``, where the
        delete side holds each deleted key once with its newest delete
        sequence ``__dseq``. The join is an equi-join on the key with
        the strict sequence comparison as a residual condition, never a
        nested loop.

        Delete side: up to ``DRIVER_DELETE_KEY_CAP`` delete records
        (manifest ``record_count``), the driver reads the delete files'
        key columns with pyarrow (cached per path on this handle —
        delete files are immutable) and hands ``(key, max dseq)`` to
        Spark as a ``local_df`` LocalRelation. Its exact size lets the
        planner broadcast it (``BroadcastHashJoin LeftAnti``, no
        shuffle of the data scan), and lets Catalyst push a lookup's
        ``key = k`` into it: when ``k`` was never deleted that side
        folds to empty and the anti-join disappears. Above the cap the
        same side is a tagged Spark read of the applicable delete files
        (``__dseq`` per file): the driver's per-scan cost (group, hand
        over and plan a LocalRelation of every key) grows with the keys,
        the Spark read's barely. A delete side above
        ``autoBroadcastJoinThreshold`` falls back to a sort-merge
        anti-join.
        """
        key_field = self.schema[self.key]
        if sum(d.record_count for d in dels) > DRIVER_DELETE_KEY_CAP:
            del_df = self._spark_delete_side(dels, key_field)
        else:
            del_df = self._driver_delete_side(dels, key_field)
        cond = (F.col("__seq") < F.col("__dseq")) & (F.col(self.key) == F.col("__d_key"))
        return df.join(del_df, cond, "left_anti").drop("__seq")

    def _driver_delete_side(self, dels: list[DataFileEntry], key_field: T.StructField) -> DataFrame:
        """``(__d_key, __dseq)``: each non-null key of ``dels`` once,
        with the newest sequence of the delete files that hold it."""
        # each file keeps the key type it was written with (a batch's
        # own type, possibly narrower than an in-place promoted column,
        # required or nullable), so cast to the table's key type here
        key_type = pa.schema([(key_field.name, to_arrow_type(key_field.dataType))])
        parts = []
        for d in dels:
            keys = self._delete_keys.get(d.path)
            if keys is None:
                fs, p = fsio.fs_for(os.path.join(self.location, d.path))
                pf = papq.ParquetFile(p, filesystem=fs)
                try:
                    keys = pf.read(columns=[key_field.name]).drop_null()
                finally:
                    pf.close()
                self._delete_keys[d.path] = keys
            keys = keys.cast(key_type)
            dseq = pa.repeat(pa.scalar(d.added_snapshot_id, pa.int64()), keys.num_rows)
            parts.append(keys.append_column("__dseq", dseq))
        grouped = pa.concat_tables(parts).group_by(key_field.name).aggregate([("__dseq", "max")])
        schema = T.StructType(
            [T.StructField("__d_key", key_field.dataType), T.StructField("__dseq", T.LongType())]
        )
        return local_df(self.spark, grouped.select([key_field.name, "__dseq_max"]), schema)

    def _spark_delete_side(self, dels: list[DataFileEntry], key_field: T.StructField) -> DataFrame:
        """The same ``(__d_key, __dseq)`` side as a Spark read of the
        delete files, for delete sets too large to hold on the driver."""
        dseq = {"__dseq": {d.path: d.added_snapshot_id for d in dels}}
        return self._read_tagged(dels, T.StructType([key_field]), dseq).select(
            F.col(key_field.name).alias("__d_key"), "__dseq"
        )

    def pruned_entries(
        self,
        col: str,
        lo=None,
        hi=None,
        snapshot_id: int | None = None,
    ) -> list[DataFileEntry]:
        """Manifest min/max pruning: files whose [lower, upper] range for
        ``col`` overlaps [lo, hi] (reference parity: chunk-range
        predicates pkg/jdbc/jdbc.go:212-227).

        A point lookup (``lo == hi``) on ``write.bloom.column`` also
        drops the data files whose key-bloom sidecar proves ``lo`` is
        absent (``bloom.probe_files``; a missing or torn sidecar keeps
        its file). Uniform keys such as md5 ``_olake_id`` defeat the
        bounds, so this is what narrows a lookup to about one file."""
        out = []
        for e in self.entries(snapshot_id):
            elo = e.lower_bounds.get(col)
            ehi = e.upper_bounds.get(col)
            if elo is None or ehi is None:
                out.append(e)  # no stats → cannot prune
                continue
            if (hi is not None and elo > hi) or (lo is not None and ehi < lo):
                continue
            out.append(e)
        if lo is None or lo != hi or col != self.bloom_col or not bloom_mod.probeable(lo):
            return out
        paths = [os.path.join(self.location, e.path) for e in out]
        data = [p for p, e in zip(paths, out) if e.content != fmt.CONTENT_DELETES]
        h1, h2 = bloom_mod.digests(bloom_mod.key_bytes([lo]))
        kept = set(bloom_mod.probe_files(self.spark, data, col, h1, h2))
        return [e for p, e in zip(paths, out) if p in kept or e.content == fmt.CONTENT_DELETES]

    # ------------------------------------------------ time travel / changelog

    def snapshot_as_of(self, timestamp_ms: int):
        """Time travel by wall clock: the latest snapshot whose commit
        timestamp is <= ``timestamp_ms`` (Iceberg ``FOR SYSTEM_TIME AS
        OF`` resolution). Returns None when the table had no snapshot
        yet at that time. Feed the result's ``snapshot_id`` to
        ``scan``. Commits sharing a millisecond resolve to the LATEST
        of them (correct for "state as of T"); incremental consumers
        that must not skip a tied commit should track snapshot ids,
        not wall clock."""
        eligible = [s for s in self.meta.snapshots if s.timestamp_ms <= timestamp_ms]
        if not eligible:
            return None
        return max(eligible, key=lambda s: (s.timestamp_ms, s.sequence_number))

    #: snapshot operations whose commits rearrange bytes but preserve
    #: row content — the changelog skips them
    DATA_PRESERVING_OPS = {"compact", "fold-deletes", "rewrite-manifests", "refresh-schema"}

    def changelog(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental changelog scan: the row-level change stream
        committed in ``(from_snapshot_id, to_snapshot_id]`` (exclusive
        start — pass the last snapshot you already consumed; None means
        from the beginning / up to current).

        Semantics (Iceberg incremental-append parity):
        - ``append`` commits → their data files become ``insert`` rows;
          their equality-delete files become ``delete`` rows (key
          column populated, everything else null). A merge-on-read
          upsert therefore emits delete+insert per key — standard CDC
          output, and an MoR-maintained table has a fully
          changelog-able history at O(batch) read cost per commit.
        - data-preserving maintenance (compact / cluster-* /
          fold-deletes / rewrite-manifests / refresh-schema) is
          skipped: bytes moved, rows identical.
        - copy-on-write overwrites (``merge`` / generic ``replace``)
          raise: the row diff is not derivable from the file diff.

        Output: table schema + ``_change_type`` ('insert'|'delete') +
        ``_commit_snapshot_id``. Files must not have been physically
        removed by ``expire_snapshots`` for the requested range.

        One multi-file parquet relation per content kind regardless of
        how many commits the range spans; each file's commit snapshot
        is a tag of ``_read_tagged`` (a literal when the range holds one
        commit of that kind).
        """
        snaps = sorted(self.meta.snapshots, key=lambda s: s.sequence_number)
        by_id = {s.snapshot_id: s for s in snaps}

        def _resolve(sid: int):
            if sid not in by_id:
                raise ValueError(
                    f"snapshot {sid} not in table history (expired or never "
                    f"existed); known ids: {sorted(by_id)[-5:] or 'none'}"
                )
            return by_id[sid]

        cur = self.meta.snapshot()
        if cur is None:
            # empty table: empty changelog with the contract schema
            return local_df(
                self.spark,
                [],
                T.StructType(
                    self.schema.fields
                    + [
                        T.StructField("_change_type", T.StringType()),
                        T.StructField("_commit_snapshot_id", T.LongType()),
                    ]
                ),
            )
        lo = -1 if from_snapshot_id is None else _resolve(from_snapshot_id).sequence_number
        hi = (
            cur.sequence_number
            if to_snapshot_id is None
            else _resolve(to_snapshot_id).sequence_number
        )
        selected = [s for s in snaps if lo < s.sequence_number <= hi]
        ins_files: list[DataFileEntry] = []
        del_files: list[DataFileEntry] = []
        # manifests are shared across snapshots (commit cost scales with
        # the change): cache reads by path so walking k snapshots costs
        # one read per distinct manifest, not k × |manifests|
        mcache: dict[str, list[DataFileEntry]] = {}
        for s in selected:
            op = s.operation
            if op in self.DATA_PRESERVING_OPS or op.startswith("cluster-"):
                continue
            if op != "append":
                raise ValueError(
                    f"changelog cannot derive row diffs from a {op!r} commit "
                    f"(snapshot {s.snapshot_id}); maintain the table with "
                    "merge-on-read (merge_mor) for a changelog-able history"
                )
            for m in s.manifests:
                if m not in mcache:
                    mcache[m] = fmt.read_manifest(self.location, m)
                for e in mcache[m]:
                    if e.added_snapshot_id != s.snapshot_id:
                        continue
                    (del_files if e.content == fmt.CONTENT_DELETES else ins_files).append(e)

        schema = self.schema
        cols = [f.name for f in schema.fields]
        out_schema = T.StructType(
            schema.fields
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_snapshot_id", T.LongType()),
            ]
        )

        def _tag(entries: list[DataFileEntry], read_schema: T.StructType) -> DataFrame:
            snaps = {e.path: e.added_snapshot_id for e in entries}
            return self._read_tagged(entries, read_schema, {"_commit_snapshot_id": snaps})

        parts: list[DataFrame] = []
        if ins_files:
            df = _tag(ins_files, schema)
            parts.append(
                df.select(
                    *cols,
                    F.lit("insert").alias("_change_type"),
                    "_commit_snapshot_id",
                )
            )
        if del_files:
            df = _tag(del_files, T.StructType([schema[self.key]]))
            padded = [
                (F.col(c) if c == self.key else F.lit(None).cast(schema[c].dataType)).alias(c)
                for c in cols
            ]
            parts.append(
                df.select(
                    *padded,
                    F.lit("delete").alias("_change_type"),
                    "_commit_snapshot_id",
                )
            )
        if not parts:
            return local_df(self.spark, [], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    # ------------------------------------------------------------ writes

    def write_datafiles(
        self,
        df: DataFrame,
        fanout_col: str | None = None,
        num_groups: int | None = None,
        sort_within: list[str] | None = None,
        ranged: bool = False,
        partition_by: list[str] | None = None,
        content: str = fmt.CONTENT_DATA,
        max_records_per_file: int | None = None,
        shuffle: bool = True,
        extra_stats_cols: list[str] | None = None,
    ) -> list[DataFileEntry]:
        """Distributed write into data/<uuid>/; returns manifest entries.

        fanout_col: synthetic grouping column — rows are repartitioned
        on it and written with partitionBy so each group is exactly one
        output file (the column itself is stripped by partitionBy; real
        table columns all remain in the data files, Iceberg-style).

        shuffle=False (fanout_col only): the caller guarantees rows are
        ALREADY co-located by fanout_col (e.g. the merge join's own
        exchange hash-partitioned on the range id, or a scan whose
        input files map 1:1 to fanout groups). The repartition is
        skipped — partitionBy alone splits each task's rows per group —
        saving a full payload shuffle. If the guarantee is violated the
        result is still correct, just more files (one per task×group).

        ranged: split the rows into ``num_groups`` disjoint ranges of
        the table ``key`` instead, one sorted file each, so the min/max
        manifest stats stay selective for future MERGE/scan pruning (one
        file ≈ one Iceberg sort-order cluster). The uniform-hex
        ``_olake_id`` is split analytically (``key_range_id``: a fanout
        on the range id, no sampling job); any other key goes through
        ``repartitionByRange``, which samples it first.

        max_records_per_file: per-file ROLL enforcement (W4, the
        reference's rolling size-targeted writer) — the partitioning
        above targets the file size by plan estimate; this option has
        the parquet writer start a new file when a task exceeds the
        row budget, so one skewed/underestimated group can never
        produce an arbitrarily large file.
        """
        commit_dir = uuid.uuid4().hex
        out_dir = os.path.join(self.location, "data", commit_dir)

        def _sink(w_df):
            w = w_df.write
            if max_records_per_file:
                w = w.option("maxRecordsPerFile", int(max_records_per_file))
            return w

        if ranged:
            num_groups = num_groups or self.spark.sparkContext.defaultParallelism
            rid, sort_within = self.key_range_id(num_groups), [self.key]
            if rid is None:
                df = df.repartitionByRange(num_groups, self.key)
            else:
                df, fanout_col = df.withColumn("__rid", rid), "__rid"
        writer = df
        if fanout_col is not None:
            if shuffle:
                n = num_groups or self.spark.sparkContext.defaultParallelism
                writer = df.repartition(n, F.col(fanout_col))
            if sort_within:
                writer = writer.sortWithinPartitions(fanout_col, *sort_within)
            _sink(writer).partitionBy(fanout_col).parquet(out_dir)
        elif partition_by:
            # W11/W8: REAL table-partition fanout (Hive-layout dirs, one
            # level per column — typically the rendered segments of a
            # partition template). Unlike fanout_col, each entry records
            # its partition directory; repartition on the columns first
            # so each partition is written by few tasks.
            if shuffle:
                n = num_groups or self.spark.sparkContext.defaultParallelism
                writer = df.repartition(n, *[F.col(c) for c in partition_by])
            if sort_within:
                writer = writer.sortWithinPartitions(*partition_by, *sort_within)
            _sink(writer).partitionBy(*partition_by).parquet(out_dir)
        else:
            if sort_within:
                writer = writer.sortWithinPartitions(*sort_within)
            _sink(writer).parquet(out_dir)
        files = [
            (p, os.path.relpath(os.path.dirname(p), out_dir) if partition_by else "")
            for p in fsio.parquet_files(out_dir)
        ]
        stats_cols = self.stats_cols
        if extra_stats_cols:
            # caller-supplied columns tracked for THIS commit only (e.g.
            # the clustering curve key, so incremental reclustering can
            # tell sorted files from newcomers by manifest bounds)
            stats_cols = stats_cols + [c for c in extra_stats_cols if c not in stats_cols]
        # key-bloom sidecars ride the harvest (the one pass that already
        # opens every new file); delete-file commits skip them — delete
        # files are never MERGE rewrite targets, so a sidecar would be
        # dead weight
        bloom_col = self.bloom_col if content == fmt.CONTENT_DATA else None
        entries = stats_mod.harvest(
            self.spark, self.location, files, stats_cols,
            bloom_col=bloom_col, bloom_fpp=self.bloom_fpp,
        )
        if content != fmt.CONTENT_DATA:
            for e in entries:
                e.content = content
        return entries

    # ------------------------------------------------------------ commits

    def _next_snapshot(self, operation: str, manifests: list[str], summary: dict) -> Snapshot:
        seq = self.meta.last_sequence_number + 1
        return Snapshot(
            snapshot_id=seq,
            parent_id=self.meta.current_snapshot_id,
            sequence_number=seq,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            manifests=manifests,
            summary=summary,
        )

    def _commit_meta(self, change, what: str) -> TableMetadata | None:
        """The one optimistic commit loop. Each attempt asks
        ``change(self)`` for the metadata fields to replace, derived
        from the current ``self.meta`` (it may raise CommitConflict, or
        return None: nothing left to commit), and writes the next
        version through the table's backend. A loser backs off,
        refreshes and asks again; ``COMMIT_RETRIES + 1`` losses raise,
        the last one at once (no backoff that buys no retry)."""
        for attempt in range(COMMIT_RETRIES + 1):
            fields = change(self)
            if fields is None:
                return None
            new_meta = dataclasses.replace(self.meta, version=self.meta.version + 1, **fields)
            if fmt.try_write_metadata(self.backend, self.location, new_meta):
                self.meta = new_meta
                return new_meta
            if attempt < COMMIT_RETRIES:
                time.sleep(COMMIT_BACKOFF_S * (2**attempt))
                self.refresh()
        raise CommitConflict(
            f"{what} lost version {new_meta.version} after {COMMIT_RETRIES + 1} attempts"
        )

    def rewrite(self, attempt) -> tuple[Snapshot, list[DataFileEntry]] | None:
        """The one re-plan loop of every commit that replaces data
        files; returns the committed snapshot and the entries it added,
        or None when there was nothing to do.

        Each pass records the current snapshot as its base and calls
        ``attempt(self)``, which plans against ``self.meta``, writes the
        new files and returns ``(removed_paths, added, fields)``
        (``fields``: ``commit_replace`` keywords such as ``operation``)
        or None. The commit refuses the pass when a removed file is no
        longer live or a delete file newer than the base is (Iceberg's
        ``validateFromSnapshot``); a refused pass removes the write
        directories (``data/<uuid>/``) of the files it added, refreshes
        and plans again.
        ``COMMIT_RETRIES + 1`` refused passes raise CommitConflict."""
        for n in range(COMMIT_RETRIES + 1):
            if n:
                self.refresh()
            base = self.meta.current_snapshot_id or 0
            plan = attempt(self)
            if plan is None:
                return None
            removed, added, fields = plan
            try:
                return self.commit_replace(removed, added, base_snapshot_id=base, **fields), added
            except CommitConflict:
                for d in {os.path.join(*e.path.split("/")[:2]) for e in added}:
                    fsio.remove_dir(os.path.join(self.location, d))
                if n == COMMIT_RETRIES:
                    raise

    def _commit(
        self,
        build_snapshot,
        validate=None,
        schema_json: str | None = None,
        properties: dict | None = None,
    ) -> Snapshot:
        """Snapshot commit: validate and build against the current
        meta on every attempt. ``schema_json`` swaps the table schema
        in the SAME metadata version as the snapshot — a refresh-level
        evolve rewrites data files and flips the schema atomically (no
        window where readers see new files under the old schema).
        ``properties`` entries are merged over the current table
        properties in the same version (operator state riding the
        snapshot commit, e.g. clustering curve params)."""

        def change(t: "Table") -> dict:
            if validate is not None:
                validate(t)
            snap = build_snapshot(t)
            return {
                "schema_json": schema_json or t.meta.schema_json,
                "properties": {**t.meta.properties, **(properties or {})},
                "current_snapshot_id": snap.snapshot_id,
                "snapshots": t.meta.snapshots + [snap],
                "last_sequence_number": snap.sequence_number,
            }

        return self._commit_meta(change, "snapshot commit").snapshots[-1]

    def commit_append(self, added: list[DataFileEntry], summary: dict | None = None) -> Snapshot:
        def build(t: "Table") -> Snapshot:
            seq = t.meta.last_sequence_number + 1
            for e in added:
                e.added_snapshot_id = seq
            new_manifest = fmt.write_manifest(t.location, added)
            cur = t.meta.snapshot()
            manifests = (cur.manifests if cur else []) + [new_manifest]
            s = {"added-files": len(added), "added-records": sum(e.record_count for e in added)}
            s.update(summary or {})
            return t._next_snapshot("append", manifests, s)

        return self._commit(build)

    def commit_replace(
        self,
        removed_paths: set[str],
        added: list[DataFileEntry],
        operation: str = "replace",
        summary: dict | None = None,
        schema_json: str | None = None,
        properties: dict | None = None,
        base_snapshot_id: int | None = None,
    ) -> Snapshot:
        """Atomic swap: removed data files out, new files in.

        Only manifests that contain a removed path are rewritten;
        untouched manifests are shared with the parent snapshot —
        commit cost scales with the change, not the table.
        Validation, from one ``entries()`` read of the metadata being
        committed over: every removed path must still be live (a
        concurrent replace of the same file is a real conflict,
        mirroring the reference's LSN-mismatch full-stop guard,
        drivers/postgres/internal/cdc.go:75-79), and no live delete
        file may be newer than ``base_snapshot_id``, the snapshot the
        new files were planned against (default: the current one). The
        added rows get a newer sequence than such a delete, so it would
        stop removing them. Either raises CommitConflict; file-rewriting
        operators commit through ``rewrite``, which re-plans. A
        concurrent commit landing between validation and the version
        write makes the write LOSE (create-or-fail versioning), so the
        re-validation after refresh sees it — no unchecked window.
        """
        if base_snapshot_id is None:
            base_snapshot_id = self.meta.current_snapshot_id or 0

        def validate(t: "Table") -> None:
            live = t.entries()
            missing = removed_paths - {e.path for e in live}
            if missing:
                raise CommitConflict(f"files no longer live: {sorted(missing)[:5]}")
            newer = [
                e.path for e in live
                if e.content == fmt.CONTENT_DELETES and e.added_snapshot_id > base_snapshot_id
            ]
            if newer:
                raise CommitConflict(
                    f"delete files committed after snapshot {base_snapshot_id}: {newer[:5]}"
                )

        def build(t: "Table") -> Snapshot:
            seq = t.meta.last_sequence_number + 1
            for e in added:
                e.added_snapshot_id = seq
            cur = t.meta.snapshot()
            keep_manifests: list[str] = []
            survivors: list[DataFileEntry] = []
            for m in cur.manifests if cur else []:
                m_entries = fmt.read_manifest(t.location, m)
                if any(e.path in removed_paths for e in m_entries):
                    survivors.extend(e for e in m_entries if e.path not in removed_paths)
                else:
                    keep_manifests.append(m)
            manifests = list(keep_manifests)
            if survivors:
                manifests.append(fmt.write_manifest(t.location, survivors))
            if added:
                manifests.append(fmt.write_manifest(t.location, added))
            s = {
                "removed-files": len(removed_paths),
                "added-files": len(added),
                "added-records": sum(e.record_count for e in added),
            }
            s.update(summary or {})
            return t._next_snapshot(operation, manifests, s)

        return self._commit(
            build, validate=validate, schema_json=schema_json, properties=properties
        )

    def update_schema(self, new_schema: T.StructType, rebuild=None) -> None:
        """Metadata-only schema commit (no new snapshot) — the
        EVOLVE_SCHEMA path (iceberg.go:380-460). Optimistic like data
        commits: a loser refreshes and RE-DERIVES the schema against
        the winner's version instead of re-writing its own stale
        schema verbatim (which would silently revert a concurrent
        writer's column — a lost update).

        ``rebuild(current_schema) -> new_schema`` recomputes the
        change per attempt (evolve passes its diff re-application).
        Without it, ``new_schema`` applies as given while the table is
        still at the version it was requested against; once another
        writer has moved it, the requested schema is union-by-name
        merged onto the refreshed one (requested types win per column,
        columns unique to either side survive)."""
        base_version = self.meta.version

        def change(t: "Table") -> dict:
            current = t.schema
            if rebuild is not None:
                target = rebuild(current)
            elif t.meta.version == base_version:
                target = new_schema
            else:
                want = {f.name: f for f in new_schema.fields}
                merged = [want.pop(f.name, f) for f in current.fields]
                target = T.StructType(merged + list(want.values()))
            return {"schema_json": target.json()}

        self._commit_meta(change, "schema update")

    def update_properties(self, props: dict) -> None:
        """Metadata-only property commit (no new snapshot): merge
        ``props`` over the current table properties — a ``None`` value
        removes the key. Optimistic like every commit: a loser
        refreshes and re-merges over the winner's properties, so two
        concurrent single-key updates both land (no lost update)."""

        def change(t: "Table") -> dict:
            merged = {**t.meta.properties, **props}
            return {"properties": {k: v for k, v in merged.items() if v is not None}}

        self._commit_meta(change, "property update")

    def commit_rewrite_manifests(self, new_manifests: list[str], summary: dict | None = None) -> Snapshot:
        """Metadata-only snapshot: same data files, new manifest layout."""

        def build(t: "Table") -> Snapshot:
            return t._next_snapshot("rewrite-manifests", new_manifests, summary or {})

        return self._commit(build)

    def rollback_to(self, snapshot_id: int) -> Snapshot:
        """Metadata-only rollback: make ``snapshot_id``'s file set
        current again by committing a NEW snapshot that shares its
        manifests (Iceberg ``rollback_to_snapshot`` semantics — history
        stays append-only, so readers pinned to the snapshots being
        rolled past are untouched, expiry still sees them, and the
        rollback itself is a visible, attributable history event).
        The bad snapshots' files stay referenced until snapshot expiry
        ages them out — rollback undoes VISIBILITY, expiry reclaims
        space; keeping the two separate is what makes rollback instant
        and safe at 10^12-row scale (zero data IO here)."""

        def build(t: "Table") -> Snapshot:
            target = next(
                (s for s in t.meta.snapshots if s.snapshot_id == snapshot_id), None
            )
            if target is None:
                raise ValueError(
                    f"snapshot {snapshot_id} not in table history "
                    f"(have {[s.snapshot_id for s in t.meta.snapshots]})"
                )
            return t._next_snapshot(
                "rollback", list(target.manifests), {"rolled-back-to": snapshot_id}
            )

        return self._commit(build)
