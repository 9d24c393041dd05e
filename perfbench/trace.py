"""Per-layer tracing from outside the program.

``Tracer`` wraps public olake_spark functions at the name each caller
looks up (a module attribute or a class attribute), records one span per
call (name, start, end, parent) and a few exact counts, and tags the
Spark jobs each operator launches with a job group. Spans stay in memory
until ``dump``. Every thread has its own parent stack; a span opened on a
thread with an empty stack (a driver pool thread, or the Structured
Streaming callback thread running ``foreachBatch``) takes the innermost
open span of the thread that created the tracer as its parent, because
that thread is blocked waiting for the work.

``spark_accounting`` reads the Spark event log afterwards and attributes
every task to the job group of the job that ran it: no time windows.
Jobs inside ``foreachBatch`` carry the group of the merge or fold span
that launched them; the stream itself launches none.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time
from collections import defaultdict

GROUP_PREFIX = "perfbench:"

#: (owner, attribute, span name, Spark job group). ``owner`` is a module,
#: or ``module:Class`` for methods. Streaming code imported merge_mor and
#: fold_deletes by name, so those are wrapped where cdc.py looks them up.
TRACE_POINTS = [
    ("olake_spark.table.format", "try_write_metadata", "table.format.try_write_metadata", None),
    ("olake_spark.table.format", "read_manifest", "table.format.read_manifest", None),
    ("olake_spark.table.format", "write_manifest", "table.format.write_manifest", None),
    ("olake_spark.table.table:Table", "entries", "table.table.entries", None),
    ("olake_spark.table.table:Table", "write_datafiles", "table.table.write_datafiles", None),
    ("olake_spark.table.table:Table", "scan", "table.table.scan", None),
    ("olake_spark.table.table:Table", "pruned_entries", "table.table.pruned_entries", None),
    ("olake_spark.table.stats", "harvest", "table.stats.harvest", None),
    ("olake_spark.table.stats", "harvest_distributed", "table.stats.harvest", None),
    ("olake_spark.table.bloom", "probe_files", "table.bloom.probe_files", None),
    ("olake_spark.operators.compaction", "first_fit_decreasing", "plans.ffd.first_fit_decreasing", None),
    ("olake_spark.operators.ingest", "append_batch", "operators.append_batch", "append_batch"),
    ("olake_spark.operators.compaction", "compact", "operators.compact", "compact"),
    ("olake_spark.operators.clustering", "cluster", "operators.cluster", "cluster"),
    ("olake_spark.operators.merge", "merge_into", "operators.merge_into", "merge_into"),
    ("olake_spark.operators.merge", "merge_mor", "operators.merge_mor", "merge_mor"),
    ("olake_spark.operators.merge", "fold_deletes", "operators.fold_deletes", "fold_deletes"),
    ("olake_spark.streaming.cdc", "merge_mor", "operators.merge_mor", "merge_mor"),
    ("olake_spark.streaming.cdc", "fold_deletes", "operators.fold_deletes", "fold_deletes"),
    ("olake_spark.streaming.cdc", "cdc_stream_merge", "streaming.cdc.cdc_stream_merge", "cdc_stream_merge"),
    ("olake_spark.operators.manifests", "rewrite_manifests", "operators.rewrite_manifests", "rewrite_manifests"),
    ("olake_spark.operators.expire", "expire_snapshots", "operators.expire_snapshots", "expire_snapshots"),
    ("olake_spark.operators.gc", "remove_orphan_files", "operators.remove_orphan_files", "remove_orphan_files"),
]


def _count(name: str, result, counts: dict) -> None:
    """Exact counts taken from a traced call's return value."""
    if name == "table.format.try_write_metadata":
        counts["lost"] = 0 if result else 1
    elif name == "table.table.write_datafiles":
        counts["files"] = len(result)
        counts["bytes"] = sum(e.file_size_bytes for e in result)
    elif name in ("table.table.entries", "table.table.pruned_entries"):
        counts["entries"] = len(result)
    elif name == "operators.merge_into" and isinstance(result, dict):
        counts["pruned_files"] = int(result.get("pruned_files") or 0)
        counts["live_files"] = counts["pruned_files"] + int(result.get("affected_files") or 0)


def resolve(owner: str):
    mod, _, cls = owner.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Span:
    __slots__ = ("name", "start", "end", "parent", "group", "counts")

    def __init__(self, name, start, parent, group):
        self.name, self.start, self.end = name, start, None
        self.parent, self.group, self.counts = parent, group, {}


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._home = threading.get_ident()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        tid = threading.get_ident()
        stack = self._stacks[tid]
        if stack:
            parent = stack[-1]
        else:
            home = self._stacks.get(self._home)
            parent = home[-1] if home else None
        with self._lock:
            idx = len(self.spans)
            s = Span(name, time.perf_counter(), parent, group)
            self.spans.append(s)
        stack.append(idx)
        prev = None
        if group is not None and self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", GROUP_PREFIX + group)
        try:
            yield s
        finally:
            if group is not None and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            s.end = time.perf_counter()
            stack.pop()

    def _wrapper(self, orig, name: str, group: str | None):
        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, group) as s:
                result = orig(*args, **kwargs)
                _count(name, result, s.counts)
                return result

        return traced

    def install(self) -> None:
        for owner, attr, name, group in TRACE_POINTS:
            obj = resolve(owner)
            orig = obj.__dict__[attr] if isinstance(obj, type) else getattr(obj, attr)
            setattr(obj, attr, self._wrapper(orig, name, group))
            self._undo.append((obj, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            setattr(obj, attr, orig)

    # ------------------------------------------------------------ summaries

    def _children(self) -> dict[int | None, list[int]]:
        kids: dict[int | None, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            kids[s.parent].append(i)
        return kids

    def _uncovered(self, i: int, covering: list[int]) -> float:
        """Span i's duration minus the union of the ``covering`` spans'
        intervals clipped to it."""
        s = self.spans[i]
        iv = sorted((max(s.start, self.spans[c].start), min(s.end, self.spans[c].end)) for c in covering)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s.end - s.start) - covered

    def summary(self) -> dict:
        """Per span name: calls, inclusive and self seconds, summed
        counts; per layer (span name minus its last part): self seconds;
        per job group: the seconds its jobs had the driver to themselves
        (span time minus nested spans that set their own group)."""
        kids = self._children()
        names: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        layers: dict[str, float] = defaultdict(float)
        groups: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s.end is None:
                continue
            own = self._uncovered(i, kids.get(i, []))
            d = names[s.name]
            d["calls"] += 1
            d["s"] += s.end - s.start
            d["self_s"] += own
            for k, v in s.counts.items():
                d[k] += v
            if s.name == "table.table.pruned_entries":
                # the manifest entries pruning chose from: its entries() child
                d["candidates"] += sum(self.spans[c].counts.get("entries", 0) for c in kids.get(i, [])
                                       if self.spans[c].name == "table.table.entries")
            layers[s.name.rsplit(".", 1)[0]] += own
            if s.group is not None:
                grouped, todo = [], list(kids.get(i, []))
                while todo:
                    c = todo.pop()
                    if self.spans[c].group is not None:
                        grouped.append(c)
                    else:
                        todo.extend(kids.get(c, []))
                groups[s.group] += self._uncovered(i, grouped)
        return {"names": {k: dict(v) for k, v in names.items()}, "layers": dict(layers), "groups": dict(groups)}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "group": s.group, **s.counts}) + "\n")


# ---------------------------------------------------------------- Spark side

SPARK_FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes", "output_bytes",
    "shuffle_write_bytes", "python_bytes_sent", "python_bytes_returned",
)
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def spark_accounting(event_log: str) -> dict[str, dict]:
    """Task metrics summed per job group. A job belongs to the group in
    its properties; jobs without one of ours (untraced passes, oracle
    checks) are left out."""
    acc: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0))
    stage_group: dict[int, str] = {}
    with open(event_log) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                if not g.startswith(GROUP_PREFIX):
                    continue
                group = g[len(GROUP_PREFIX):]
                acc[group]["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif ev == "SparkListenerTaskEnd":
                group = stage_group.get(e.get("Stage ID"))
                if group is None:
                    continue
                a = acc[group]
                tm = e.get("Task Metrics") or {}
                a["tasks"] += 1
                a["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                a["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                a["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                a["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for u in (e.get("Task Info") or {}).get("Accumulables", []):
                    if u.get("Name") == _PY_SENT:
                        a["python_bytes_sent"] += int(u.get("Update") or 0)
                    elif u.get("Name") == _PY_RETURNED:
                        a["python_bytes_returned"] += int(u.get("Update") or 0)
    return {k: dict(v) for k, v in acc.items()}
