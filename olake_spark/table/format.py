"""On-disk table format: JSON snapshot metadata + parquet manifests.

A from-scratch, Iceberg-shaped (NOT Iceberg-binary) format:

    <location>/
      data/<commit-uuid>/...parquet          # immutable data files
      metadata/v<N>.metadata.json            # table metadata versions
      metadata/version-hint.text             # pointer to current N
      metadata/manifests/<uuid>.parquet      # manifest files (file lists)

Each *snapshot* references a set of manifest parquet files; the union
of their rows is exactly the set of live data files at that snapshot —
snapshot-isolated readers resolve their own file list and are immune
to concurrent commits (reference parity: Iceberg RowDelta/AppendFiles
atomicity used by IcebergTableOperator.java:116-169).

Manifests are *shared across snapshots*: an append adds one manifest;
a replace rewrites only manifests that lost a file. Commit cost is
O(changed files), not O(table) — the property that matters at 10^12
rows. Manifest entries carry per-file min/max stats for the tracked
columns, which is what scan pruning and MERGE file pruning use
(reference parity: chunk min/max predicates, pkg/jdbc/jdbc.go:212-227).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import asdict, dataclass, field

import pyarrow as pa
import pyarrow.parquet as papq

FORMAT_VERSION = 2

MANIFEST_SCHEMA = pa.schema(
    [
        pa.field("path", pa.string()),  # relative to table location
        pa.field("partition", pa.string()),  # encoded 'field=value/...' or ''
        pa.field("record_count", pa.int64()),
        pa.field("file_size_bytes", pa.int64()),
        pa.field("lower_bounds", pa.string()),  # JSON {col: value}
        pa.field("upper_bounds", pa.string()),
        pa.field("added_snapshot_id", pa.int64()),
        # "data" | "deletes" — equality-delete files for merge-on-read
        # (Iceberg content enum parity; BaseDeltaTaskWriter.java:49-61)
        pa.field("content", pa.string()),
    ]
)

CONTENT_DATA = "data"
CONTENT_DELETES = "deletes"


@dataclass
class DataFileEntry:
    path: str
    partition: str
    record_count: int
    file_size_bytes: int
    lower_bounds: dict
    upper_bounds: dict
    added_snapshot_id: int = 0
    content: str = CONTENT_DATA

    def to_row(self) -> dict:
        d = asdict(self)
        d["lower_bounds"] = json.dumps(self.lower_bounds, default=str)
        d["upper_bounds"] = json.dumps(self.upper_bounds, default=str)
        return d

    @staticmethod
    def from_row(r: dict) -> "DataFileEntry":
        return DataFileEntry(
            path=r["path"],
            partition=r["partition"] or "",
            record_count=int(r["record_count"]),
            file_size_bytes=int(r["file_size_bytes"]),
            lower_bounds=json.loads(r["lower_bounds"] or "{}"),
            upper_bounds=json.loads(r["upper_bounds"] or "{}"),
            added_snapshot_id=int(r.get("added_snapshot_id") or 0),
            # manifests written before the MoR feature have no column
            content=r.get("content") or CONTENT_DATA,
        )


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    sequence_number: int
    timestamp_ms: int
    operation: str  # append | replace | delete | rewrite-manifests
    manifests: list[str]  # metadata/manifests/*.parquet, relative paths
    summary: dict = field(default_factory=dict)


@dataclass
class TableMetadata:
    table_uuid: str
    name: str
    location: str
    schema_json: str  # Spark StructType JSON
    identifier_fields: list[str]
    partition_spec: list[dict]  # [{"field":..., "transform":...}]
    properties: dict
    current_snapshot_id: int | None
    snapshots: list[Snapshot]
    last_sequence_number: int
    version: int

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        if sid is None:
            return None
        for s in self.snapshots:
            if s.snapshot_id == sid:
                return s
        raise KeyError(f"snapshot {sid} not found")

    def to_json(self) -> str:
        d = asdict(self)
        return json.dumps(d, indent=1, default=str)

    @staticmethod
    def from_json(s: str) -> "TableMetadata":
        d = json.loads(s)
        d["snapshots"] = [Snapshot(**sn) for sn in d["snapshots"]]
        return TableMetadata(**d)


# ---------------------------------------------------------------- io helpers


def metadata_dir(location: str) -> str:
    return os.path.join(location, "metadata")


def manifest_dir(location: str) -> str:
    return os.path.join(location, "metadata", "manifests")


def version_hint_path(location: str) -> str:
    return os.path.join(metadata_dir(location), "version-hint.text")


def metadata_path(location: str, version: int) -> str:
    return os.path.join(metadata_dir(location), f"v{version}.metadata.json")


def read_version_hint(location: str) -> int:
    with open(version_hint_path(location)) as f:
        return int(f.read().strip())


def write_version_hint(location: str, version: int) -> None:
    """Atomic pointer swap (temp + rename)."""
    tmp = version_hint_path(location) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, version_hint_path(location))


# --------------------------------------------------------------- commits
#
# Commit atomicity is PLUGGABLE: each Table owns a commit backend and
# every metadata write goes through try_write_metadata(backend, ...).
# FileCommitBackend gets its atomicity from a POSIX hard link, an
# atomic create-or-fail (local/NFS/FUSE); CasCatalogBackend gets it
# from a catalog compare-and-swap instead — candidate metadata
# uploaded under a UNIQUE name with a plain write (the only primitive
# object stores guarantee), then one CAS of the catalog's
# current-version pointer. Losers refresh and retry: the one commit
# loop, Table._commit_meta, is backend-agnostic.


class FileCommitBackend:
    """Atomicity from a hard link: v<N>.metadata.json is published by
    linking a fully written temp file, an atomic create-or-fail that
    never exposes a partial version (Iceberg HadoopTableOperations'
    rename-if-absent; retry policy parity: drivers/abstract/utils.go:11-32)."""

    name = "posix-link"

    def try_commit(self, location: str, meta: TableMetadata) -> bool:
        data = meta.to_json()
        path = metadata_path(location, meta.version)
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(data)
        try:
            os.link(tmp, path)  # atomic create-or-fail of the full file
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
        write_version_hint(location, meta.version)
        return True

    def read_current(self, location: str) -> TableMetadata:
        v = read_version_hint(location)
        while os.path.exists(metadata_path(location, v + 1)):
            v += 1  # published, but the hint update never happened
        with open(metadata_path(location, v)) as f:
            meta = TableMetadata.from_json(f.read())
        meta.version = v
        return meta


class CasCatalogBackend:
    """Atomicity from a catalog compare-and-swap — the object-store
    deployment shape (Iceberg REST ``commitTransaction``, S3
    conditional ``PUT If-None-Match``/``If-Match``). The engine-side
    protocol is the production one end-to-end:

    1. upload the candidate metadata under a UNIQUE name
       (``v<N>.<uuid>.metadata.json``) with a plain write — no
       create-or-fail needed, so any store can do it;
    2. one CAS on the catalog's per-table pointer
       ``expected version N-1 → (N, candidate file)``;
    3. a loser deletes its candidate and returns False (caller
       refreshes, re-validates, rebuilds, retries).

    The catalog itself is a JSON file guarded by an exclusive
    ``fcntl`` lock — the sandbox stand-in for the catalog service's
    own transactionality; swapping ``_cas``/``_get`` for REST calls
    changes nothing above this class.
    """

    name = "catalog-cas"

    def __init__(self, catalog_path: str):
        self.catalog_path = catalog_path

    # -- the two primitives a real catalog service would provide
    def _with_locked_state(self, fn):
        import fcntl

        os.makedirs(os.path.dirname(self.catalog_path) or ".", exist_ok=True)
        with open(self.catalog_path, "a+") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            f.seek(0)
            raw = f.read()
            state = json.loads(raw) if raw.strip() else {}
            out = fn(state)
            if out is not None:
                tmp = f"{self.catalog_path}.tmp.{uuid.uuid4().hex}"
                with open(tmp, "w") as t:
                    json.dump(state, t)
                os.replace(tmp, self.catalog_path)
            return out

    def _cas(self, key: str, expect_version: int, new_entry: dict) -> bool:
        def txn(state):
            cur = state.get(key, {}).get("version", 0)
            if cur != expect_version:
                return None  # no write
            state[key] = new_entry
            return True

        return bool(self._with_locked_state(txn))

    def _get(self, key: str) -> dict | None:
        import fcntl

        try:
            with open(self.catalog_path) as f:
                fcntl.flock(f, fcntl.LOCK_SH)
                raw = f.read()
        except FileNotFoundError:
            return None
        state = json.loads(raw) if raw.strip() else {}
        return state.get(key)

    # -- the backend interface
    def try_commit(self, location: str, meta: TableMetadata) -> bool:
        rel = f"v{meta.version}.{uuid.uuid4().hex}.metadata.json"
        path = os.path.join(metadata_dir(location), rel)
        os.makedirs(metadata_dir(location), exist_ok=True)
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(meta.to_json())
        os.replace(tmp, path)  # plain upload: unique name, no O_EXCL
        if self._cas(
            os.path.abspath(location),
            meta.version - 1,
            {"version": meta.version, "file": rel},
        ):
            return True
        os.remove(path)  # lost the CAS: drop the candidate
        return False

    def read_current(self, location: str) -> TableMetadata:
        entry = self._get(os.path.abspath(location))
        if not entry:
            raise FileNotFoundError(
                f"no catalog entry for {location} in {self.catalog_path}"
            )
        with open(os.path.join(metadata_dir(location), entry["file"])) as f:
            meta = TableMetadata.from_json(f.read())
        meta.version = entry["version"]
        return meta


def try_write_metadata(backend, location: str, meta: TableMetadata) -> bool:
    """Atomic commit attempt via ``backend``. Returns False if another
    writer won version N (optimistic-concurrency loser — the caller
    refreshes and retries)."""
    return backend.try_commit(location, meta)


def write_manifest(location: str, entries: list[DataFileEntry]) -> str:
    """Write one manifest parquet; returns its location-relative path."""
    os.makedirs(manifest_dir(location), exist_ok=True)
    rel = os.path.join("metadata", "manifests", f"{uuid.uuid4().hex}.parquet")
    rows = [e.to_row() for e in entries]
    tbl = pa.Table.from_pylist(rows, schema=MANIFEST_SCHEMA)
    papq.write_table(tbl, os.path.join(location, rel), compression="zstd")
    return rel


def read_manifest(location: str, rel_path: str) -> list[DataFileEntry]:
    tbl = papq.read_table(os.path.join(location, rel_path))
    return [DataFileEntry.from_row(r) for r in tbl.to_pylist()]


def read_manifests(location: str, rel_paths: list[str]) -> list[DataFileEntry]:
    out: list[DataFileEntry] = []
    for p in rel_paths:
        out.extend(read_manifest(location, p))
    return out
