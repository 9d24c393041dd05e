"""Seeded landing inputs and the DuckDB oracle over them.

Every input row comes from ``olake_spark.fixtures.audio_clips.clip_row``,
so payloads, transcripts and SNR references are the fixture's own. The
seed picks which clip ids exist and which keys each CDC batch touches;
the same seed always yields byte-identical parquet.

Landing files are written with pyarrow in the table schema
(``FULL_SCHEMA``): one file per CDC batch, several per append wave. Commit sequence numbers
(``_cdc_timestamp``) rise strictly across base rows and batches, so the
oracle's "latest row per ``_olake_id``" is unambiguous.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as papq

from olake_spark.fixtures.audio_clips import clip_row

SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
        ("_op_type", pa.string()),
        ("_cdc_timestamp", pa.timestamp("us", tz="UTC")),
        ("_olake_timestamp", pa.timestamp("us", tz="UTC")),
        ("_olake_id", pa.string()),
    ]
)

#: clip ids are drawn from [0, ID_SPACE); batch b's commit sequence
#: numbers start at (b + 1) * SEQ_STRIDE, above every base row's
ID_SPACE = 10**9
SEQ_STRIDE = 10**7


def olake_id(clip_id: str) -> str:
    return hashlib.md5(clip_id.encode()).hexdigest()


def write_rows(path: str, rows: list[tuple]) -> None:
    """One parquet file holding ``clip_row`` tuples plus ``_olake_id``."""
    cols = list(zip(*rows)) if rows else [[] for _ in range(9)]
    arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, SCHEMA)]
    arrays.append(pa.array([olake_id(c) for c in cols[0]], type=pa.string()))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    papq.write_table(pa.Table.from_arrays(arrays, schema=SCHEMA), path, compression="zstd")


def write_parts(d: str, rows: list[tuple], parts: int) -> list[str]:
    """``rows`` split round-robin over ``parts`` files in directory ``d``,
    the way a parallel writer lands one wave."""
    paths = [os.path.join(d, f"part-{k}.parquet") for k in range(parts)]
    for k, p in enumerate(paths):
        write_rows(p, rows[k::parts])
    return paths


class Keyspace:
    """The live clip ids of one seeded table history, batch by batch."""

    def __init__(self, seed: int, n_base: int):
        self.rng = np.random.default_rng(seed)
        drawn = self.rng.choice(ID_SPACE, size=n_base * 2, replace=False)
        self.base = [int(i) for i in drawn[:n_base]]
        self._fresh = [int(i) for i in drawn[n_base:]]  # insert ids, never in base
        self.live = list(self.base)

    def base_rows(self) -> list[tuple]:
        return [clip_row(i, op="r", cdc_seq=k) for k, i in enumerate(self.base)]

    def batch_rows(self, batch_no: int, updates: int, deletes: int, inserts: int, dups: int) -> list[tuple]:
        """One CDC batch: updates and deletes of distinct live keys, new
        inserts, and ``dups`` updated keys sent twice (the later wins)."""
        picked = self.rng.choice(len(self.live), size=updates + deletes, replace=False)
        upd = [self.live[j] for j in picked[:updates]]
        dele = [self.live[j] for j in picked[updates:]]
        ins, self._fresh = self._fresh[:inserts], self._fresh[inserts:]
        seq = (batch_no + 1) * SEQ_STRIDE
        rows = []
        for k, i in enumerate(upd):
            rows.append(clip_row(i, op="u", cdc_seq=seq, version=batch_no))
            seq += 1
            if k < dups:
                rows.append(clip_row(i, op="u", cdc_seq=seq, version=batch_no + 100))
                seq += 1
        for i in dele:
            rows.append(clip_row(i, op="d", cdc_seq=seq))
            seq += 1
        for i in ins:
            rows.append(clip_row(i, op="c", cdc_seq=seq))
            seq += 1
        gone = set(dele)
        self.live = [i for i in self.live if i not in gone] + ins
        return rows


# ------------------------------------------------------------------ oracle


def row_hash(olake_id: str, transcript: str, ts_us: int) -> int:
    h = hashlib.blake2b(f"{olake_id}|{transcript}|{ts_us}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def checksum(rows) -> tuple[int, int]:
    """(row count, order-independent sum of row hashes mod 2^64) over
    ``(_olake_id, transcript, _cdc_timestamp in µs)`` triples."""
    n, s = 0, 0
    for oid, tr, ts in rows:
        n += 1
        s = (s + row_hash(oid, tr, int(ts))) % (1 << 64)
    return n, s


def expected_rows(files: list[str]) -> list[tuple]:
    """The table a correct engine holds after applying ``files`` in
    order: the latest row per ``_olake_id`` by ``_cdc_timestamp``, rows
    whose latest op is ``'d'`` removed. Columns: id, transcript, ts
    (µs), dur_ms, sr_hz."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            """
            SELECT _olake_id, transcript, epoch_us(_cdc_timestamp), dur_ms, sr_hz
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY _olake_id ORDER BY _cdc_timestamp DESC) AS rn
                FROM read_parquet(?)
            )
            WHERE rn = 1 AND _op_type <> 'd'
            """,
            [files],
        ).fetchall()
    finally:
        con.close()
