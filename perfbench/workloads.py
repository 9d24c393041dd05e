"""The two closed-loop workloads and the pass runner.

Each workload has one client in the driver process issuing the next
olake_spark call when the previous returns. A pass has a write phase and
a read phase:

- ``maint_cycle``: the north-rule maintenance job graph on a fresh table,
  then reads on the maintained layout. Most of the write phase is the
  write path (``Table.write_datafiles``) and Spark jobs that keep the
  executors a tenth to a half busy; 13 metadata versions.
- ``cdc_trickle``: reads on a table with live merge-on-read deletes, then
  ``cdc_stream_merge`` draining a backlog of small CDC batches into it,
  one commit per batch. Per-batch merges are Spark job latency with
  executors about nine tenths idle; the folds carry the executor work.
  The history is too short (about 11 versions, 0.1 MB) for metadata
  growth to cost anything measurable.

The read phase is the same on both, so a layout or metadata change that
helps writes but hurts reads shows on the workload whose layout it
touches. It is made of rounds, each of point lookups, range scans and
one SNR-verified full scan; ``read_s`` is the median round. Reads are
chains of short Spark jobs, so CPU time the hypervisor gives to other
machines slows them several times more than it slows the write phase;
each run reports that share (``window_steal_ratio``) beside its figures.

A run sets up ``SETUP_REPEATS`` times, each on the next CPU (the median
is ``setup_s``), runs one discarded warm-up pass (the first pass on a
fresh JVM takes about twice as long and varies far more), then repeats
passes until the window ends. Every pass starts from a fresh copy of the frozen state, and every
answer is checked against a DuckDB oracle outside the timers. With
tracing on, the window holds pairs of passes, one untraced and one
traced, on the same read requests and in alternating order, so their
difference is the tracing overhead (a traced run must end within 180 s
even when the host runs at a third of its best speed, which leaves room
for one pair).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as papq
from pyspark.sql import functions as F

from olake_spark.fixtures.audio_clips import FULL_SCHEMA
from olake_spark.functions.audio import VERIFY_SCHEMA, verify_batch
from olake_spark.operators import clustering, compaction, expire, gc, ingest, manifests, merge
from olake_spark.streaming import cdc
from olake_spark.table import format as fmt
from olake_spark.table.table import Table
from perfbench import inputs
from perfbench.trace import Tracer

CORES = 4
#: PCM s16le bytes derive from metadata, so clustering's boundary sample
#: never reads the payload column
PCM_WEIGHT = "cast(dur_ms as bigint) * sr_hz / 500 + 64"
TABLE_PROPS = {
    "write.target-file-size-bytes": str(4 << 20),
    "write.bloom.column": "_olake_id",
    "stats.columns": json.dumps(["_olake_id", "dur_ms", "sr_hz"]),
}
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_metric(samples: list[float]) -> tuple:
    """(value, unit, extra) of the highest percentile with at least ten
    samples beyond it; value None below twenty samples."""
    n = len(samples)
    ok = [p for p in TAIL_PERCENTILES if n * (1 - p / 100) >= 10]
    if not ok:
        return (None, "s", {"samples": n, "note": "fewer than 20 samples"})
    return (float(np.percentile(samples, ok[-1])), "s", {"percentile": ok[-1], "samples": n})


def median(xs) -> float:
    return float(statistics.median(xs))


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def storage(table: Table) -> dict:
    """Exact on-disk counters of one table."""
    mdir = fmt.metadata_dir(table.location)
    versions = [f for f in os.listdir(mdir) if f.endswith(".metadata.json")]
    mans = fmt.manifest_dir(table.location)
    return {
        "live_data_bytes": sum(e.file_size_bytes for e in table.data_entries()),
        "data_bytes_on_disk": du(os.path.join(table.location, "data")),
        "metadata_bytes": du(mdir),
        "metadata_json_bytes": sum(os.path.getsize(os.path.join(mdir, f)) for f in versions),
        "metadata_versions": len(versions),
        "manifests": len(os.listdir(mans)) if os.path.isdir(mans) else 0,
    }


def table_checksum(table: Table) -> tuple[int, int]:
    rows = table.scan().select("_olake_id", "transcript", F.unix_micros("_cdc_timestamp")).collect()
    return inputs.checksum(tuple(r) for r in rows)


class Run:
    """One benchmark process: Spark session, seed, counters, tracer."""

    def __init__(self, spark, root: str, seed: int, seconds: float, trace: bool):
        self.spark, self.root, self.seed, self.seconds = spark, root, seed, seconds
        self.tracer = Tracer(spark.sparkContext) if trace else None
        self.tracing = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.bytes_committed = 0
        self._undo = []
        for attr, pos in (("commit_append", 0), ("commit_replace", 1)):
            self._count_committed(attr, pos)

    def _count_committed(self, attr: str, pos: int) -> None:
        """Data and delete-file bytes each commit adds: the exact 'data
        bytes written' counter (failed attempts add nothing)."""
        orig = Table.__dict__[attr]

        def counted(table, *a, **k):
            snap = orig(table, *a, **k)
            added = k["added"] if "added" in k else a[pos]
            self.bytes_committed += sum(e.file_size_bytes for e in added)
            return snap

        setattr(Table, attr, counted)
        self._undo.append((attr, orig))

    def close(self) -> None:
        for attr, orig in self._undo:
            setattr(Table, attr, orig)
        self._undo.clear()

    def op(self, fn, *args, **kwargs):
        """One attempted program operation; a raise counts as failed."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__name__', fn)}: {e!r}"[:300])
            e.perfbench_counted = True
            raise

    def check(self, ok: bool, what: str) -> None:
        """One oracle comparison; a mismatch counts as a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    @contextlib.contextmanager
    def measure(self):
        """Scope of a pass's timed work: traced when the window is."""
        if self.tracing:
            self.tracer.install()
        try:
            yield
        finally:
            if self.tracing:
                self.tracer.uninstall()

    def span(self, name: str, group: str | None = None):
        return self.tracer.span(name, group) if self.tracing else contextlib.nullcontext()


# ------------------------------------------------------------------ reads


def lookup(table: Table, key: str) -> list:
    entries = table.pruned_entries("_olake_id", key, key)
    df = table.scan(entries=entries).where(F.col("_olake_id") == key)
    return df.select("_olake_id", "transcript", F.unix_micros("_cdc_timestamp")).collect()


def range_scan(table: Table, lo: int, hi: int, sr: int | None) -> list:
    entries = table.pruned_entries("dur_ms", lo, hi)
    df = table.scan(entries=entries).where(F.col("dur_ms").between(lo, hi))
    if sr is not None:
        df = df.where(F.col("sr_hz") == sr)
    return df.select("_olake_id", "transcript", F.unix_micros("_cdc_timestamp")).collect()


def verify_scan(table: Table):
    df = table.scan().select("clip_id", "bytes", "sr_hz", "dur_ms", "codec")
    checked = df.mapInPandas(lambda batches: (verify_batch(b) for b in batches), VERIFY_SCHEMA)
    return checked.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("snr_ok"), 0).otherwise(1)).alias("bad"),
    ).first()


class Oracle:
    """Expected table contents after applying landing ``files`` in
    order, and the key pools read requests draw from."""

    def __init__(self, files: list[str], batch_files: list[str]):
        self.rows = inputs.expected_rows(files)  # (id, transcript, ts, dur_ms, sr_hz)
        self.by_key = {r[0]: r[:3] for r in self.rows}
        self.checksum = inputs.checksum(r[:3] for r in self.rows)
        ops = [r for f in batch_files for r in papq.read_table(f, columns=["_olake_id", "_op_type"]).to_pylist()]
        self.keys = {
            "live": sorted(self.by_key),
            "updated": sorted({r["_olake_id"] for r in ops if r["_op_type"] == "u"} & set(self.by_key)),
            "deleted": sorted({r["_olake_id"] for r in ops} - set(self.by_key)),
        }


SR_CHOICES = (8000, 16000, 22050, 44100)
RANGE_EVERY = 2


def read_requests(rng: np.random.Generator, keys: dict, lookups: int) -> list[tuple]:
    """One read phase's seeded requests: point lookups (70% live keys,
    15% updated, 15% deleted, which must come back empty) with a
    ``dur_ms`` range scan, half of them also on one ``sr_hz``, after
    every ``RANGE_EVERY``-th."""
    reqs = []
    for i in range(lookups):
        u = rng.random()
        pool = keys["live"] if u < 0.7 else keys["updated"] if u < 0.85 else keys["deleted"]
        reqs.append(("lookup", pool[int(rng.integers(len(pool)))]))
        if (i + 1) % RANGE_EVERY == 0:
            lo = int(rng.integers(40, 360))
            sr = None if rng.random() < 0.5 else int(rng.choice(SR_CHOICES))
            reqs.append(("range", (lo, lo + 40, sr)))
    return reqs


def serve_reads(run: "Run", table: Table, oracle: Oracle, lookups: int, k: int, rounds: int) -> dict:
    """The read phase: ``rounds`` rounds, each of lookups and range scans
    seeded by (run seed, ``k``, round) and one SNR-verified full scan.
    Every answer is checked against the oracle outside its timer; a
    round's seconds are the sum of its requests' timers."""
    out = {"lookup_s": [], "range_s": [], "verify_s": [], "verify_rows": [], "round_s": []}
    for rnd in range(rounds):
        spent = 0.0
        rng = np.random.default_rng([run.seed, k, rnd])
        for kind, arg in read_requests(rng, oracle.keys, lookups):
            t0 = time.perf_counter()
            if kind == "lookup":
                with run.span("serve.lookup", "read"):
                    got = run.op(lookup, table, arg)
                dt = time.perf_counter() - t0
                out["lookup_s"].append(dt)
                want = [oracle.by_key[arg]] if arg in oracle.by_key else []
                run.check([tuple(r) for r in got] == want, f"lookup {arg} differs from oracle")
            else:
                lo, hi, sr = arg
                with run.span("serve.range_scan", "read"):
                    got = run.op(range_scan, table, lo, hi, sr)
                dt = time.perf_counter() - t0
                out["range_s"].append(dt)
                want = [r[:3] for r in oracle.rows if lo <= r[3] <= hi and (sr is None or r[4] == sr)]
                run.check(inputs.checksum(tuple(r) for r in got) == inputs.checksum(want),
                          f"range scan {arg} differs from oracle")
            spent += dt
        t0 = time.perf_counter()
        with run.span("serve.verify_scan", "verify_scan"):
            res = run.op(verify_scan, table)
        dt = time.perf_counter() - t0
        out["verify_s"].append(dt)
        out["verify_rows"].append(int(res["rows"]))
        out["round_s"].append(spent + dt)
        run.check(res["rows"] == len(oracle.rows) and res["bad"] == 0,
                  f"verify scan saw {res['rows']} rows ({len(oracle.rows)} expected), {res['bad']} failing SNR")
    return out


def commit_gaps(snapshots) -> list[float]:
    """Seconds between successive snapshot commits, from the snapshots'
    own ``timestamp_ms``: no timer in the write loop."""
    ts = sorted(s.timestamp_ms for s in snapshots)
    return [(b - a) / 1e3 for a, b in zip(ts, ts[1:])]


# ------------------------------------------------------------------ workloads


class MaintCycle:
    """Write phase: a fresh table ← 4 fragmented append waves → compact
    → CoW merge (~5% of keys) → MoR merge → z-order (folds the deletes)
    → Hilbert → manifest rewrite → expire → orphan GC. Read phase: reads
    on the maintained, clustered layout."""

    name = "maint_cycle"
    #: set-up only lands parquet (~0.4 s): two set-ups on each of 4 CPUs
    SETUP_REPEATS = 8
    CLIPS = 800
    WAVES = 4
    #: the warm-up pass runs the same graph on a smaller landing
    WARMUP_CLIPS = 200
    #: read rounds per pass, and lookups per round (each ~0.1 s on this
    #: delete-free layout, against ~0.7 s for the verified scan): few
    #: lookups per round and the median of many rounds keep ``read_s``
    #: from following every burst of host contention
    READ_ROUNDS = 7
    LOOKUPS = 2
    #: the read path keeps getting faster for a few rounds after its
    #: first, as the JVM compiles it
    WARMUP_READ_ROUNDS = 2
    WARMUP_LOOKUPS = LOOKUPS

    def _land(self, seed: int, n: int, d: str) -> dict:
        ks = inputs.Keyspace(seed, n)
        base = ks.base_rows()
        land = {f"wave{w}": base[w :: self.WAVES] for w in range(self.WAVES)}
        for b, name in enumerate(("cow", "mor")):
            land[name] = ks.batch_rows(b, updates=n * 3 // 100, deletes=n // 100, inserts=n // 100, dups=8)
        # a wave lands as one file per writer task; a CDC batch as one file
        return {name: inputs.write_parts(os.path.join(d, "landing", name), rows,
                                         CORES if name.startswith("wave") else 1)
                for name, rows in land.items()}

    def setup(self, run: "Run", d: str) -> dict:
        return {"files": self._land(run.seed, self.CLIPS, d)}

    def prepare(self, run: "Run", st: dict) -> None:
        warm = self._land(run.seed + 1, self.WARMUP_CLIPS, os.path.join(run.root, "warmup-landing"))
        for key, files in (("warmup", warm), ("timed", st["files"])):
            st[key] = (files, Oracle([p for ps in files.values() for p in ps], files["cow"] + files["mor"]))

    def run_pass(self, run: "Run", st: dict, tag: str, k: int, warmup: bool = False) -> dict:
        spark = run.spark
        files, oracle = st["warmup" if warmup else "timed"]
        loc = os.path.join(run.root, tag, "table")

        def land(name):
            return spark.read.parquet(os.path.dirname(files[name][0]))

        run.bytes_committed = 0
        with run.measure():
            t0 = time.perf_counter()
            table = run.op(Table.create, spark, loc, "maint", FULL_SCHEMA,
                           identifier_fields=["_olake_id"], properties=TABLE_PROPS)
            t_ing = time.perf_counter()
            for w in range(self.WAVES):
                run.op(ingest.append_batch, table, land(f"wave{w}"))
            ingest_s = time.perf_counter() - t_ing
            run.op(compaction.compact, table)
            run.op(merge.merge_into, table, land("cow"))
            run.op(merge.merge_mor, table, land("mor"))
            run.op(clustering.cluster, table, curve="zorder", row_weight=PCM_WEIGHT)
            run.op(clustering.cluster, table, curve="hilbert", row_weight=PCM_WEIGHT)
            run.op(manifests.rewrite_manifests, table)
            history = list(table.meta.snapshots)  # expire drops all but the last
            run.op(expire.expire_snapshots, table, keep_last=1)
            run.op(gc.remove_orphan_files, table)
            wall = time.perf_counter() - t0
        out = {"write_s": wall, "ingest_s": ingest_s, "rows": self.WARMUP_CLIPS if warmup else self.CLIPS,
               "gaps_s": commit_gaps(history), "bytes_written": run.bytes_committed, **storage(table)}
        run.check(table_checksum(table) == oracle.checksum, "maint_cycle: table differs from oracle")
        with run.measure():
            if warmup:
                out.update(serve_reads(run, table, oracle, self.WARMUP_LOOKUPS, k, self.WARMUP_READ_ROUNDS))
            else:
                out.update(serve_reads(run, table, oracle, self.LOOKUPS, k, self.READ_ROUNDS))
        return out

    def write_metrics(self, passes: list[dict]) -> dict:
        rate = sum(p["rows"] for p in passes) / sum(p["ingest_s"] for p in passes)
        return {"maint_cycle_s": (median(p["write_s"] for p in passes), "s"),
                "ingest_rows_per_s": (rate, "rows/s")}


class CdcTrickle:
    """Frozen state: a base table plus one merge-on-read batch, so its
    equality deletes are live. Read phase: reads on that state. Write
    phase: one ``cdc_stream_merge`` (merge-on-read, a fold every
    ``FOLD_EVERY`` batches, one file per trigger) draining a backlog of
    ``BATCHES`` small CDC batches (updates, deletes, inserts, duplicate
    keys), each landed as one file."""

    name = "cdc_trickle"
    SETUP_REPEATS = 3
    CLIPS = 1200
    BATCHES = 6
    FOLD_EVERY = 3
    #: the warm-up pass drains only the first batches (a fold still runs at its end)
    WARMUP_BATCHES = 2
    #: per stream batch: updates, deletes, inserts, duplicated keys
    SHAPE = (16, 4, 4, 2)
    #: one read round per pass, of four lookups (each ~1 s: the delete
    #: anti-join plans and runs)
    READ_ROUNDS = 1
    LOOKUPS = 4
    #: two lookups and one range scan plan and compile every read
    WARMUP_READ_ROUNDS = 1
    WARMUP_LOOKUPS = 2

    def setup(self, run: "Run", d: str) -> dict:
        ks = inputs.Keyspace(run.seed, self.CLIPS)
        n = self.CLIPS
        base = os.path.join(d, "landing", "base", "part-0.parquet")
        mor = os.path.join(d, "landing", "mor", "part-0.parquet")
        inputs.write_rows(base, ks.base_rows())
        inputs.write_rows(mor, ks.batch_rows(0, updates=n * 3 // 100, deletes=n // 50, inserts=n // 100, dups=8))
        source = os.path.join(d, "landing", "cdc")
        stream = []
        t_ns = time.time_ns()
        for b in range(1, self.BATCHES + 1):
            p = os.path.join(source, f"b{b:04d}", "part-0.parquet")
            inputs.write_rows(p, ks.batch_rows(b, *self.SHAPE))
            # the file source drains oldest first: pin mtimes to batch order
            os.utime(p, ns=(t_ns + b * 10**9, t_ns + b * 10**9))
            stream.append(p)
        loc = os.path.join(d, "table")
        spark = run.spark
        table = run.op(Table.create, spark, loc, "cdc", FULL_SCHEMA,
                       identifier_fields=["_olake_id"], properties=TABLE_PROPS)
        run.op(ingest.append_batch, table, spark.read.parquet(os.path.dirname(base)))
        run.op(merge.merge_mor, table, spark.read.parquet(os.path.dirname(mor)))
        return {"frozen": [base, mor], "stream": stream, "table": loc, "source": source}

    def prepare(self, run: "Run", st: dict) -> None:
        st["oracle"] = Oracle(st["frozen"], st["frozen"][1:])
        warm_src = os.path.join(run.root, "warmup-source")
        warm = st["stream"][: self.WARMUP_BATCHES]
        for p in warm:
            dst = os.path.join(warm_src, os.path.relpath(p, st["source"]))
            os.makedirs(os.path.dirname(dst))
            shutil.copy2(p, dst)  # keeps the pinned mtimes
        # (source dir, batches, checksum of the table after draining them)
        st["warmup"] = (warm_src, len(warm), Oracle(st["frozen"] + warm, []).checksum)
        st["timed"] = (st["source"], len(st["stream"]), Oracle(st["frozen"] + st["stream"], []).checksum)

    def run_pass(self, run: "Run", st: dict, tag: str, k: int, warmup: bool = False) -> dict:
        source, batches, final = st["warmup" if warmup else "timed"]
        loc = shutil.copytree(st["table"], os.path.join(run.root, tag, "table"))
        table = Table.load(run.spark, loc)
        base_seq = table.meta.last_sequence_number
        ckpt = os.path.join(run.root, tag, "checkpoint")
        with run.measure():
            if warmup:
                out = serve_reads(run, table, st["oracle"], self.WARMUP_LOOKUPS, k, self.WARMUP_READ_ROUNDS)
            else:
                out = serve_reads(run, table, st["oracle"], self.LOOKUPS, k, self.READ_ROUNDS)
        run.bytes_committed = 0
        with run.measure():
            t0 = time.perf_counter()
            prog = run.op(cdc.cdc_stream_merge, table, source, ckpt, mode="mor",
                          fold_every=self.FOLD_EVERY, max_files_per_trigger=1)
            wall = time.perf_counter() - t0
        table.refresh()
        out.update({"write_s": wall, "rows": prog["rows"],
                    "gaps_s": commit_gaps(s for s in table.meta.snapshots if s.sequence_number > base_seq),
                    "bytes_written": run.bytes_committed, **storage(table)})
        run.check(prog["batches"] == batches, f"cdc_trickle: drained {prog['batches']} of {batches} batches")
        run.check(table_checksum(table) == final, "cdc_trickle: table differs from oracle")
        return out

    def write_metrics(self, passes: list[dict]) -> dict:
        gaps = [g for p in passes for g in p["gaps_s"]]
        rate = sum(p["rows"] for p in passes) / sum(p["write_s"] for p in passes)
        return {"cdc_rows_per_s": (rate, "rows/s"),
                "cdc_drain_s": (median(p["write_s"] for p in passes), "s"),
                "cdc_commit_p50_s": (median(gaps), "s"),
                "cdc_commit_tail_s": tail_metric(gaps)}


def read_s(p: dict) -> float:
    """A pass's timed read seconds: all its read rounds."""
    return sum(p["round_s"])


def timed_s(p: dict) -> float:
    """A pass's timed seconds: its write and read phases."""
    return p["write_s"] + read_s(p)


def summarize(wl, passes: list[dict]) -> tuple[dict, dict]:
    """(every metric by its descriptive name as (value, unit[, extra]),
    the end-to-end metrics of BENCHMARK.json except set-up and memory).

    The end-to-end metrics each aggregate a whole phase, because single
    Spark calls on a shared host swing by a fifth between runs: write
    and read phase seconds, the median commit gap, and storage."""
    named = wl.write_metrics(passes)
    gaps = [g for p in passes for g in p["gaps_s"]]
    lk = [x for p in passes for x in p["lookup_s"]]
    rs = [x for p in passes for x in p["range_s"]]
    verify_rate = sum(sum(p["verify_rows"]) for p in passes) / sum(sum(p["verify_s"]) for p in passes)
    named.update({
        "write_amp": (median(p["bytes_written"] / p["live_data_bytes"] for p in passes), "ratio"),
        "commit_p50_s": (median(gaps), "s"),
        "lookup_p50_s": (median(lk), "s"),
        "lookup_tail_s": tail_metric(lk),
        "range_scan_p50_s": (median(rs), "s"),
        "verify_scan_rows_per_s": (verify_rate, "rows/s"),
        "metadata_mb": (median(p["metadata_bytes"] for p in passes) / 1e6, "MB"),
        "space_amp": (median(p["data_bytes_on_disk"] / p["live_data_bytes"] for p in passes), "ratio"),
    })
    generic = {
        "write_s": median(p["write_s"] for p in passes),
        "read_s": median(r for p in passes for r in p["round_s"]),
        "commit_p50_s": named["commit_p50_s"][0],
        "metadata_mb": named["metadata_mb"][0],
        "space_amp": named["space_amp"][0],
    }
    named["read_phase_s"] = (generic["read_s"], "s")
    return named, generic


WORKLOADS = {w.name: w for w in (MaintCycle, CdcTrickle)}


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies of the machine's CPUs, or None where
    /proc/stat is unreadable. Steal is time the hypervisor ran someone
    else while this machine had work: it inflates every timing."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (v[7] if len(v) > 7 else 0), sum(v)


def _count_failure(run: Run, tag: str, e: Exception) -> None:
    if not getattr(e, "perfbench_counted", False):  # run.op counted its own
        run.attempted += 1
        run.failed += 1
        run.errors.append(f"{tag}: {e!r}"[:300])


def run_workload(name: str, run: Run) -> dict:
    """Set up, warm up, run the window(s); returns raw results."""
    wl = WORKLOADS[name]()
    setup_s = []
    state = None
    phases = {}
    t_phase = time.perf_counter()
    # set-up time is an end-to-end metric: traced runs, which report only
    # per-layer metrics and take the longest, set up once. The CPUs of a
    # shared host differ in speed (by half, measured on 4 vCPUs) and the
    # scheduler keeps a thread on one, so set-ups take the CPUs in turn
    cpus = sorted(os.sched_getaffinity(0))
    try:
        for k in range(1 if run.tracer is not None else wl.SETUP_REPEATS):
            os.sched_setaffinity(0, {cpus[k % len(cpus)]})
            d = os.path.join(run.root, f"setup{k}")
            t0 = time.perf_counter()
            state = wl.setup(run, d)
            setup_s.append(time.perf_counter() - t0)
    finally:
        os.sched_setaffinity(0, cpus)
    wl.prepare(run, state)
    passes: dict[str, list[dict]] = {}
    result = {"workload": wl, "setup_s": setup_s, "passes": passes, "phases_s": phases,
              "window_steal_ratio": None}
    phases["setup"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    try:
        wl.run_pass(run, state, "warmup", 0, warmup=True)
    except Exception as e:
        _count_failure(run, "warmup", e)
        return result
    finally:
        shutil.rmtree(os.path.join(run.root, "warmup"), ignore_errors=True)
        phases["warmup"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    ticks = cpu_ticks()
    # untraced runs make one pass per read seed k; traced runs an
    # untraced and a traced pass per k, on the same requests, in an order
    # that alternates with k, so their difference is the tracing overhead
    deadline = time.perf_counter() + run.seconds
    k = 0
    while True:
        k += 1
        if run.tracer is None:
            labels = ("timed",)
        else:
            labels = ("untraced", "traced") if (run.seed + k) % 2 else ("traced", "untraced")
        for label in labels:
            tag = f"pass{k}-{label}"
            run.tracing = label == "traced"
            try:
                passes.setdefault(label, []).append(wl.run_pass(run, state, tag, k))
            except Exception as e:
                # a broken pass leaves no state worth timing further
                _count_failure(run, tag, e)
                return result
            finally:
                run.tracing = False
                shutil.rmtree(os.path.join(run.root, tag), ignore_errors=True)
                phases["window"] = time.perf_counter() - t_phase
                now = cpu_ticks()
                if ticks and now and now[1] > ticks[1]:
                    result["window_steal_ratio"] = (now[0] - ticks[0]) / (now[1] - ticks[1])
        if time.perf_counter() >= deadline:
            return result
