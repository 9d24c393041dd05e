"""Per-file stats harvesting from parquet footers.

After a Spark write, we read only the footers (not the data) of the
produced files to build manifest entries: row counts, byte sizes, and
min/max bounds for the tracked stats columns. ``harvest`` fans the
per-file ``file_entry`` out through ``fsio.map_files``: footer reads
are a few KiB each, so a commit of up to hundreds of files finishes on
a driver thread pool before a Spark job could even schedule, and a
fleet-scale commit runs the same function as a Spark job over the path
list, returning only the manifest-sized entries to the driver.
"""

from __future__ import annotations

import os

import pyarrow.parquet as papq

from olake_spark.table import bloom as bloom_mod
from olake_spark.table.format import DataFileEntry
from olake_spark.table.fsio import file_size, fs_for, map_files

DEFAULT_STATS_COLS = ["_olake_id", "clip_id", "_cdc_timestamp", "dur_ms", "sr_hz"]


def _bound_value(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    return v


def file_entry(
    abs_path: str,
    rel_path: str,
    partition: str,
    stats_cols: list[str],
    bloom_col: str | None = None,
    bloom_fpp: float = 0.01,
) -> DataFileEntry:
    """Footer read routed through pyarrow.fs (table/fsio.py) so the
    harvest works against any ``FileSystem.from_uri`` storage, not just
    POSIX paths; LocalFileSystem is the plain-path default.

    ``bloom_col``: also build the file's key-bloom sidecar
    (table/bloom.py). This is the ONE place the harvest reads column
    DATA (that single column, decoded once) rather than footer bytes —
    cost proportional to data just written, on the same fan-out as the
    footer reads.
    """
    fs, fs_path = fs_for(abs_path)
    pf = papq.ParquetFile(fs_path, filesystem=fs)
    md = pf.metadata
    schema_names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    lo: dict = {}
    hi: dict = {}
    for col in stats_cols:
        ci = schema_names.get(col)
        if ci is None:
            continue
        cmin, cmax = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                cmin = cmax = None
                break
            mn, mx = _bound_value(st.min), _bound_value(st.max)
            cmin = mn if cmin is None or mn < cmin else cmin
            cmax = mx if cmax is None or mx > cmax else cmax
        if cmin is not None:
            lo[col] = cmin
            hi[col] = cmax
    if bloom_col is not None and bloom_col in schema_names:
        ftype = pf.schema_arrow.field(bloom_col).type
        if bloom_mod.buildable(ftype):
            values = pf.read(columns=[bloom_col]).column(0)
            payload = bloom_mod.build(bloom_col, values, bloom_fpp)
            if payload is not None:
                bloom_mod.write_sidecar(fs_path, payload, fs=fs)
    return DataFileEntry(
        path=rel_path,
        partition=partition,
        record_count=md.num_rows,
        file_size_bytes=file_size(fs_path, fs),
        lower_bounds=lo,
        upper_bounds=hi,
    )


def _harvest_one(item: tuple[str, str], shared) -> DataFileEntry:
    abs_path, partition = item
    location, stats_cols, bloom_col, bloom_fpp = shared
    rel = os.path.relpath(abs_path, location)
    return file_entry(abs_path, rel, partition, stats_cols, bloom_col, bloom_fpp)


def harvest(
    spark,
    location: str,
    files: list[tuple[str, str]],  # (abs_path, partition)
    stats_cols: list[str],
    bloom_col: str | None = None,
    bloom_fpp: float = 0.01,
) -> list[DataFileEntry]:
    """One manifest entry per file, in input order, so manifests are
    deterministic whichever ``map_files`` path ran."""
    return map_files(spark, files, _harvest_one, (location, stats_cols, bloom_col, bloom_fpp))


# perfbench/trace.py TRACE_POINTS resolves this name with getattr
harvest_distributed = harvest
