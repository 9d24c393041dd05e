"""Filesystem abstraction and per-file fan-out for the engine's direct
byte paths.

``table.location`` may be a plain POSIX path (tests, NFS, FUSE mounts)
or a URI (``file://``, ``s3://``, ``hdfs://`` …). Everything that
touches bytes OUTSIDE Spark — the compaction row-group copy
(operators/compaction._copy_bins) and the footer-stats harvest
(table/stats.file_entry) — resolves its filesystem through
``pyarrow.fs.FileSystem.from_uri`` here, so the no-decode fast paths
survive non-POSIX object storage unchanged (pyarrow ships S3/GCS/HDFS
implementations behind the same interface). Per-file metadata work
(footer harvest, MERGE bloom probe, ``build_blooms``) fans out through
the one ``map_files``.

The commit protocol is abstracted separately: each table owns a commit
backend (table/format.FileCommitBackend — POSIX hard-link publish,
the default — or CasCatalogBackend, the catalog-CAS shape object
stores need) — see README "Deployment surfaces".
"""

from __future__ import annotations

import os
import re
from concurrent.futures import ThreadPoolExecutor

from pyarrow import fs as pafs

#: above this many items ``map_files`` runs as a Spark job; below it a
#: per-file read is ms-scale and job scheduling would dominate
DISTRIBUTED_THRESHOLD = 256
POOL_THREADS = 16
#: a data file's advisory key-bloom sidecar is ``<file>`` + this
#: (table/bloom.py)
SIDECAR_SUFFIX = ".bloom"


def fs_for(path: str) -> tuple[pafs.FileSystem, str]:
    """Path or URI → ``(FileSystem, filesystem-native path)``.

    Plain paths (no scheme) map to ``LocalFileSystem`` with the path
    absolutized; URIs go through ``FileSystem.from_uri`` (which strips
    the scheme from the returned path).
    """
    if "://" not in path:
        return pafs.LocalFileSystem(), os.path.abspath(path)
    f, p = pafs.FileSystem.from_uri(path)
    return f, p


def hadoop_literal(path: str) -> str:
    """``path`` with Hadoop's glob metacharacters (``\\ { } [ ] * ?``)
    backslash-escaped, so ``spark.read.parquet`` reads exactly that
    file: under a table at ``…/x[1]`` or ``…/y{a,b}`` the raw path is a
    pattern that matches nothing (PATH_NOT_FOUND)."""
    return re.sub(r"([\\{}\[\]*?])", r"\\\1", path)


def parquet_files(path: str) -> list[str]:
    """The ``*.parquet`` files under the directory ``path``
    (recursively), without Spark's hidden ``.``/``_`` files, listed
    through ``fs_for``: names are literal, never a glob pattern."""
    fs, p = fs_for(path)
    infos = fs.get_file_info(pafs.FileSelector(p, recursive=True, allow_not_found=True))
    return sorted(
        i.path for i in infos
        if i.type == pafs.FileType.File
        and i.base_name.endswith(".parquet")
        and not i.base_name.startswith((".", "_"))
    )


def file_size(path: str, fs: pafs.FileSystem | None = None) -> int:
    if fs is None:
        fs, path = fs_for(path)
    info = fs.get_file_info(path)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(path)
    return info.size


def remove_file(path: str) -> None:
    """Best-effort delete of a data file (path or URI) and its bloom
    sidecar. A file already gone, or one that will not go, is left to
    the orphan sweep (operators/gc.py): callers only remove files no
    committed snapshot references."""
    fs, p = fs_for(path)
    for f in (p, p + SIDECAR_SUFFIX):
        try:
            fs.delete_file(f)
        except OSError:
            pass


def remove_dir(path: str) -> None:
    """Best-effort recursive delete of a directory (path or URI) that no
    committed snapshot references; one that will not go is left to the
    orphan sweep."""
    fs, p = fs_for(path)
    try:
        fs.delete_dir(p)
    except OSError:
        pass


def map_files(spark, items: list, fn, shared=None) -> list:
    """``[fn(item, shared) for item in items]``, in input order.

    Up to ``DISTRIBUTED_THRESHOLD`` items (or with no ``spark``) the
    calls run on a driver thread pool; above it, as one Spark job whose
    executors do the per-file IO and return only ``fn``'s small
    results. There ``shared`` is broadcast once and destroyed after the
    collect, so a long-lived session does not leak one per call.
    ``fn`` is module-level so executors import the same code by name.
    """
    if spark is None or len(items) <= DISTRIBUTED_THRESHOLD:
        with ThreadPoolExecutor(max_workers=POOL_THREADS) as ex:
            return list(ex.map(lambda item: fn(item, shared), items))
    sc = spark.sparkContext
    bc = sc.broadcast(shared)

    def part(chunk):
        value = bc.value
        return [fn(item, value) for item in chunk]

    try:
        n = min(len(items), sc.defaultParallelism * 4)
        return sc.parallelize(items, n).mapPartitions(part).collect()
    finally:
        bc.destroy()
