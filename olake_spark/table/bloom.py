"""Per-file key-bloom sidecars: conservative MERGE file pruning when
min/max bounds cannot prune.

Manifest [min,max] bounds (operators/merge.affected_file_paths) are
selective only when files cover tight key ranges — true for merge
output (range-partitioned on the key) but false for ingest/backfill
appends of a uniform key (md5 ``_olake_id`` per utils/utils.go:252-273:
every append file spans ~[00.., ff..], so a single-key CDC batch marks
EVERY append file affected and the merge rewrites the whole table). A
per-file bloom filter over the key column restores pruning for exactly
that shape: a file is rewritten only if some source key is *possibly*
in it. False positives cost one extra file rewrite; false negatives
are structurally impossible because build and probe share one
canonicalization + hash function (this module, both sides).

Layout — the Iceberg puffin analog, kept file-per-datafile so the
manifest stays metadata-scale (a 1M-row file's bloom is ~1.2 MB; inline
in the manifest that would be data-scale):

    data/<uuid>/part-....parquet         # the data file
    data/<uuid>/part-....parquet.bloom   # its sidecar

Sidecar bytes: ``b"OLBF1\\n"`` magic, one JSON header line
(``{"col": key, "m": bits, "k": hashes, "n": keys}``), then the raw
little-endian bitset (``m/8`` bytes). Sidecars are advisory: a missing,
unreadable, or wrong-column sidecar conservatively marks its file
affected. Lifecycle rides the existing machinery — GC's companion key
maps ``X.parquet.bloom`` live iff ``X.parquet`` is live
(operators/gc.companion_join_key), so crash debris and expire leftovers
sweep with their data files.

Engineering properties:

- ``m`` is always a power of two, so a bloom can be FOLDED to any
  smaller power-of-two width by OR-ing halves: with ``m = 2^a``,
  ``g mod m' == (g mod m) mod m'`` for ``m' = 2^b <= m`` — folding
  only ORs more bits together (false-positive rate rises, never a
  false negative). This is what lets the no-decode compaction copy
  path (operators/compaction._copy_bins) produce an output sidecar by
  folding+ORing its inputs' sidecars WITHOUT decoding the key column.
- ``k`` depends only on the target fpp (not n), so same-table sidecars
  always OR-merge.
- hashing is the repo's lane-parallel murmur3 (functions/hashing.py)
  at two seeds, combined Kirsch-Mitzenmacher style:
  ``g_i = (h1 + i*(h2|1)) mod m``.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from olake_spark.functions.hashing import mmh3_32_packed, pack_binary
from olake_spark.table.fsio import SIDECAR_SUFFIX, fs_for, map_files

MAGIC = b"OLBF1\n"
_SEED1 = 0
_SEED2 = 0x9747B28C
#: widest bloom we will build: 2^27 bits = 16 MiB (a ~14M-key file at
#: the default fpp); larger files skip the sidecar rather than bloat.
MAX_BITS = 1 << 27
#: fold-merged blooms denser than this are dropped instead of written.
#: At the default k=7 a fill of 0.7 means fpp ≈ 0.7^7 ≈ 8% — still a
#: >90% pruning win, and a false positive only costs one redundant
#: file rewrite. Two at-design-capacity equal-width blooms OR to fill
#: ≈0.6, so same-generation compaction merges stay under this bound;
#: merging MANY generations eventually trips it and the copy path
#: rebuilds the sidecar from the output file's key column instead.
MAX_FILL = 0.7


def n_hashes(fpp: float) -> int:
    """Optimal k for the target false-positive rate: -log2(fpp)."""
    return max(1, int(round(-np.log2(fpp))))


def n_bits(n_keys: int, fpp: float) -> int:
    """Bits for n keys at fpp, rounded UP to a power of two (>= 64)."""
    if n_keys <= 0:
        return 64
    opt = -n_keys * np.log(fpp) / (np.log(2) ** 2)
    return max(64, 1 << int(np.ceil(np.log2(opt))))


def key_bytes(values) -> list[bytes]:
    """Canonical key-value → bytes, IDENTICAL on build and probe.

    A column has one type, so cross-type collisions (int 5 vs "5")
    cannot occur within a table; str() keeps int canonicalization
    stable across numpy/pyarrow/Python ints. None is dropped by
    callers (a NULL merge key matches nothing on the bounds path
    either). Floats/timestamps are rejected upstream (``buildable``).
    """
    out = []
    for v in values:
        if v is None:
            continue
        if isinstance(v, (bytes, bytearray, memoryview)):
            out.append(bytes(v))
        elif isinstance(v, str):
            out.append(v.encode("utf-8"))
        else:
            out.append(str(int(v)).encode("ascii"))
    return out


def key_array(values) -> pa.Array:
    """Canonical keys (``key_bytes``) as one Arrow binary array, nulls
    dropped. An Arrow string, binary or integer column converts without
    a per-row Python loop: integers go through ``pc.cast(..., string)``,
    the same decimal digits as ``str(int(v))``."""
    if not isinstance(values, (pa.Array, pa.ChunkedArray)):
        return pa.array(key_bytes(values), pa.binary())
    arr = pc.drop_null(values)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_integer(arr.type):
        arr = pc.cast(arr, pa.string())
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    return arr.cast(pa.large_binary() if large else pa.binary())


def buildable(pa_type) -> bool:
    """Only types with an unambiguous canonical byte form get blooms."""
    return (
        pa.types.is_string(pa_type)
        or pa.types.is_large_string(pa_type)
        or pa.types.is_integer(pa_type)
        or pa.types.is_binary(pa_type)
        or pa.types.is_large_binary(pa_type)
    )


def probeable(value) -> bool:
    """A probe value whose ``key_bytes`` form is the one a buildable
    column of its type was built with (no floats, no bools)."""
    return isinstance(value, (str, bytes, int, np.integer)) and not isinstance(value, bool)


def digests(keys) -> tuple[np.ndarray, np.ndarray]:
    """Two independent 32-bit murmur lanes as uint64 (h2 forced odd)
    over canonical keys (a ``key_bytes`` list or a ``key_array``),
    packed once and hashed at both seeds from that one matrix."""
    buf, lens = pack_binary(keys)
    h1 = mmh3_32_packed(buf, lens, seed=_SEED1).view(np.uint32).astype(np.uint64)
    h2 = mmh3_32_packed(buf, lens, seed=_SEED2).view(np.uint32).astype(np.uint64)
    return h1, h2 | np.uint64(1)


def _bit_positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) matrix of bit indices; m is a power of two so mod = mask."""
    i = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return (h1[:, None] + i[None, :] * h2[:, None]) & np.uint64(m - 1)


def build(col: str, values, fpp: float = 0.01) -> bytes | None:
    """Serialize a sidecar payload for the column's values (a list, or
    an Arrow column as read from the file), or None if the file is too
    large to bloom economically."""
    keys = key_array(values)
    n = len(keys)
    m = n_bits(n, fpp)
    if m > MAX_BITS:
        return None
    k = n_hashes(fpp)
    bits = np.zeros(m // 8, dtype=np.uint8)
    if n:
        # chunked so the (n, k) index matrix stays cache-sized
        for lo in range(0, n, 1 << 16):
            h1, h2 = digests(keys.slice(lo, 1 << 16))
            idx = _bit_positions(h1, h2, m, k).ravel()
            np.bitwise_or.at(bits, idx >> np.uint64(3), np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
    return serialize(col, m, k, n, bits)


def serialize(col: str, m: int, k: int, n: int, bits: np.ndarray) -> bytes:
    header = json.dumps({"col": col, "m": m, "k": k, "n": n}).encode("utf-8")
    return MAGIC + header + b"\n" + bits.tobytes()


def deserialize(payload: bytes) -> tuple[dict, np.ndarray] | None:
    """(header, bits), or None for anything that is not a whole
    sidecar — including a MAGIC-prefixed payload with a truncated or
    garbled header (debris of a crash mid-``write_sidecar``), so every
    caller falls back to its conservative path instead of raising."""
    if not payload.startswith(MAGIC):
        return None
    try:
        nl = payload.index(b"\n", len(MAGIC))
        header = json.loads(payload[len(MAGIC) : nl].decode("utf-8"))
        bits = np.frombuffer(payload[nl + 1 :], dtype=np.uint8)
    except ValueError:  # no header newline, bad UTF-8 or bad JSON
        return None
    if not isinstance(header, dict) or not all(
        isinstance(header.get(f), int) for f in ("m", "k", "n")
    ):
        return None
    if bits.size != header["m"] // 8:
        return None
    return header, bits


def might_contain_any(header: dict, bits: np.ndarray, h1: np.ndarray, h2: np.ndarray) -> bool:
    """True iff ANY probed key is possibly in the file. Probes in
    chunks with early exit — in a selective merge most files miss, but
    a hit usually lands early."""
    m, k = header["m"], header["k"]
    for lo in range(0, h1.size, 1 << 16):
        idx = _bit_positions(h1[lo : lo + (1 << 16)], h2[lo : lo + (1 << 16)], m, k)
        hit = bits[(idx >> np.uint64(3)).astype(np.int64)] & (
            np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)
        )
        if bool(np.any(np.all(hit != 0, axis=1))):
            return True
    return False


def fold(bits: np.ndarray, m_from: int, m_to: int) -> np.ndarray:
    """OR-fold a power-of-two bloom down to a smaller power-of-two
    width. Valid because index = hash & (m-1): dropping high bits of
    the index is exactly index & (m_to - 1)."""
    out = bits
    m = m_from
    while m > m_to:
        half = out.size // 2
        out = out[:half] | out[half:]
        m //= 2
    return out


def or_merge(payloads: list[bytes]) -> bytes | None:
    """Merge sidecar payloads of concatenated files (compaction): fold
    all to the smallest width, OR. None if any input is missing/
    invalid, columns or k differ, or the result is too dense to be
    worth keeping (fill > MAX_FILL)."""
    parsed = [deserialize(p) for p in payloads]
    if not parsed or any(p is None for p in parsed):
        return None
    headers = [h for h, _ in parsed]  # type: ignore[misc]
    col, k = headers[0]["col"], headers[0]["k"]
    if any(h["col"] != col or h["k"] != k for h in headers):
        return None
    m_to = min(h["m"] for h in headers)
    acc = np.zeros(m_to // 8, dtype=np.uint8)
    n = 0
    for (h, bits) in parsed:  # type: ignore[misc]
        acc |= fold(bits, h["m"], m_to)
        n += h["n"]
    fill = float(np.unpackbits(acc).mean()) if acc.size else 0.0
    if fill > MAX_FILL:
        return None
    return serialize(col, m_to, k, n, acc)


# ---------------------------------------------------------------- I/O


def sidecar_path(data_path: str) -> str:
    return data_path + SIDECAR_SUFFIX


def write_sidecar(abs_data_path: str, payload: bytes, fs=None) -> None:
    if fs is None:
        fs, abs_data_path = fs_for(abs_data_path)
    with fs.open_output_stream(sidecar_path(abs_data_path)) as f:
        f.write(payload)


def read_sidecar(abs_data_path: str, fs=None) -> bytes | None:
    if fs is None:
        fs, abs_data_path = fs_for(abs_data_path)
    try:
        with fs.open_input_stream(sidecar_path(abs_data_path)) as f:
            return f.read()
    except (FileNotFoundError, OSError):
        return None


# -------------------------------------------------------------- probe

#: MERGE batches with more distinct keys than this skip the bloom probe
#: entirely: the digest broadcast would be >~16 MB and a batch that big
#: touches most files anyway, so bounds-only pruning is the right call.
PROBE_KEY_CAP = 1_000_000


def file_might_contain(abs_data_path: str, col: str, h1: np.ndarray, h2: np.ndarray) -> bool:
    """Conservative per-file probe: True unless the sidecar PROVES no
    probed key is present. Missing / unreadable / wrong-column sidecars
    all return True — the bloom layer can only ever shrink the affected
    set the bounds layer produced, never grow or corrupt it."""
    payload = read_sidecar(abs_data_path)
    if payload is None:
        return True
    parsed = deserialize(payload)
    if parsed is None:
        return True
    header, bits = parsed
    if header.get("col") != col:
        return True
    return might_contain_any(header, bits, h1, h2)


def _probe_one(abs_data_path: str, shared) -> bool:
    col, h1, h2 = shared
    return file_might_contain(abs_data_path, col, h1, h2)


def probe_files(spark, abs_paths: list[str], col: str, h1: np.ndarray, h2: np.ndarray) -> list[str]:
    """Subset of ``abs_paths`` that might contain ANY probed key, in
    input order.

    Fans out per file through ``fsio.map_files``; on its Spark-job
    path each executor probes its slice against the broadcast
    ``(col, h1, h2)`` (two uint64 vectors, ≤16 MB at PROBE_KEY_CAP).
    """
    flags = map_files(spark, abs_paths, _probe_one, (col, h1, h2))
    return [p for p, f in zip(abs_paths, flags) if f]
