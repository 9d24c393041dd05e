#!/usr/bin/env python3
"""olake_spark benchmark: maintenance cycle, CDC trickle, read serving.

Run from the repository root:

    python3 perfbench/run.py --workload maint_cycle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

``--workload`` is ``maint_cycle``, ``cdc_trickle`` (see ``workloads.py``)
or ``all``. Spark runs in local mode, ``local[4]``, in one JVM child process.
All scratch state lives under ``.perfbench_work/`` in the repository;
span traces of ``--trace 1`` runs are kept in ``.perfbench_work/traces``.

Standard output: one JSON line per workload with every metric by its
descriptive name and unit (tails carry their percentile and sample
count, storage counters are exact), then, as the last line, the result
object ``{"correct", "attempted", "failed", "metrics"}``. For a single
workload its metrics are the ``end_to_end`` metrics of BENCHMARK.json
with ``--trace 0`` and the ``per_layer`` metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("maint_cycle", "cdc_trickle")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    from olake_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from perfbench.workloads import CORES

    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(jvm_pid: int | None) -> dict:
    """High-water RSS (VmHWM) in MB of this process, the JVM, and the
    JVM's descendants (Spark's Python workers) still alive."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    workers, todo = [], [p for p, pp in parent.items() if pp == jvm_pid] if jvm_pid else []
    while todo:
        p = todo.pop()
        workers.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)

    def hwm(pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                return next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0) / 1024
        except OSError:
            return 0.0

    return {"driver": hwm(os.getpid()), "jvm": hwm(jvm_pid) if jvm_pid else 0.0,
            "workers": sum(hwm(p) for p in workers)}


SPARK_GROUPS = ("append_batch", "compact", "merge_into", "merge_mor", "fold_deletes", "cluster",
                "remove_orphan_files", "read", "verify_scan")
OPERATORS = ("append_batch", "compact", "cluster", "merge_into", "merge_mor", "fold_deletes",
             "rewrite_manifests", "expire_snapshots", "remove_orphan_files")
SELF_LAYERS = ("operators", "table.table", "table.format", "table.stats", "table.bloom", "plans.ffd", "serve")


def per_layer(res: dict, summary: dict, spark_acc: dict, overhead: float) -> dict:
    """Per-layer values of the traced window, per pass (ratios are not
    divided). Layers a workload never enters read 0."""
    from perfbench.trace import SPARK_FIELDS
    from perfbench.workloads import CORES, median

    traced = res["passes"]["traced"]
    n = len(traced)
    names, groups = summary["names"], summary["groups"]

    def v(name, key):
        return names.get(name, {}).get(key, 0.0) / n

    out = {}
    for name, keys in (
        ("table.format.try_write_metadata", ("s", "calls", "lost")),
        ("table.format.read_manifest", ("s", "calls")),
        ("table.format.write_manifest", ("s", "calls")),
        ("table.table.entries", ("s", "calls")),
        ("table.table.write_datafiles", ("s", "files", "bytes")),
        ("table.stats.harvest", ("s",)),
        ("plans.ffd.first_fit_decreasing", ("s",)),
        ("table.bloom.probe_files", ("s",)),
        ("table.table.scan", ("s",)),
        ("table.table.pruned_entries", ("s",)),
    ):
        for k in keys:
            out[f"{name}.{k}"] = v(name, k)
    out["table.format.metadata_versions"] = median(p["metadata_versions"] for p in traced)
    for op in OPERATORS:
        out[f"operators.{op}.s"] = v(f"operators.{op}", "s")
    mi = names.get("operators.merge_into", {})
    out["operators.merge_into.pruned_ratio"] = mi.get("pruned_files", 0) / mi["live_files"] if mi.get("live_files") else 0.0
    pe = names.get("table.table.pruned_entries", {})
    out["table.table.pruned_entries.kept_ratio"] = pe.get("entries", 0) / pe["candidates"] if pe.get("candidates") else 0.0
    out["streaming.cdc.self_s"] = groups.get("cdc_stream_merge", 0.0) / n
    for layer in SELF_LAYERS:
        out[f"layer.{layer}.self_s"] = summary["layers"].get(layer, 0.0) / n
    out["trace.overhead_ratio"] = overhead
    for g in SPARK_GROUPS:
        a = spark_acc.get(g, {})
        for k in SPARK_FIELDS:
            out[f"spark.{g}.{k}"] = a.get(k, 0) / n
        wall = groups.get(g, 0.0)
        out[f"spark.{g}.busy_ratio"] = a.get("executor_run_s", 0.0) / (wall * CORES) if wall else 0.0
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import olake_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import olake_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload == "all" and args.trace:
        print("perfbench: --trace 1 takes a single workload", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, contract, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, contract: dict, work: str) -> int:
    # Spark's Python workers import olake_spark and perfbench from here
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("OLAKE_SPARK_MASTER", None)

    from perfbench import workloads
    from perfbench.trace import spark_accounting

    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    spark = start_spark(work, bool(args.trace))
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    results, runs = [], []
    try:
        for name in names:
            run = workloads.Run(spark, os.path.join(work, name), args.seed, args.seconds, bool(args.trace))
            runs.append(run)
            try:
                results.append(workloads.run_workload(name, run))
            finally:
                run.close()
        rss = peak_rss_mb(jvm.pid if jvm else None)
    finally:
        stop_spark(spark)

    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    final: dict = {}
    for res, run in zip(results, runs):
        wl = res["workload"]
        window = "traced" if args.trace else "timed"
        if not res["passes"].get(window):
            print(f"perfbench: {wl.name} completed no measured pass: {run.errors[:3]}", file=sys.stderr)
            return 1
        named, generic = workloads.summarize(wl, res["passes"][window])
        setup = workloads.median(res["setup_s"])
        named.update({
            "setup_s": (setup, "s", {"samples": res["setup_s"]}),
            "peak_rss_mb": (sum(rss.values()), "MB", {k + "_mb": v for k, v in rss.items()}),
            "failed_op_ratio": (run.failed / max(run.attempted, 1), "ratio",
                                {"failed": run.failed, "attempted": run.attempted}),
        })
        generic.update(setup_s=setup, peak_rss_mb=named["peak_rss_mb"][0])
        detail = {"workload": wl.name, "seed": args.seed, "passes": len(res["passes"][window]),
                  "phases_s": res["phases_s"], "window_steal_ratio": res["window_steal_ratio"],
                  "read_rounds_s": [r for p in res["passes"][window] for r in p["round_s"]],
                  "reads_s": {k: [x for p in res["passes"][window] for x in p[k]]
                              for k in ("lookup_s", "range_s", "verify_s")},
                  "metrics": {k: {"value": t[0], "unit": t[1], **(t[2] if len(t) > 2 else {})}
                              for k, t in named.items()},
                  "last_pass": {k: v for k, v in res["passes"][window][-1].items()
                                if not isinstance(v, list)},
                  "errors": run.errors[:10]}
        if args.trace:
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            run.tracer.dump(os.path.join(trace_dir, f"{wl.name}-s{args.seed}.jsonl"))
            # tracing overhead: timed work of paired traced and untraced
            # passes, which issue the same requests
            pairs = list(zip(res["passes"].get("untraced", []), res["passes"]["traced"]))
            untraced_s = sum(workloads.timed_s(u) for u, _ in pairs)
            traced_s = sum(workloads.timed_s(t) for _, t in pairs)
            evlog = os.path.join(work, "eventlog")
            acc = spark_accounting(os.path.join(evlog, os.listdir(evlog)[0]))
            summary = run.tracer.summary()
            layer = per_layer(res, summary, acc, traced_s / untraced_s - 1.0 if pairs else 0.0)
            detail["per_layer"] = layer
            detail["spans"] = summary["names"]  # calls, inclusive and self seconds, counts
            detail["tracing_overhead"] = {"untraced_s": untraced_s, "traced_s": traced_s, "pairs": len(pairs)}
            wanted = {m["name"]: m["unit"] for m in contract["per_layer"]}
            values = layer
        else:
            wanted = {m["name"]: m["unit"] for m in contract["end_to_end"]}
            values = generic
        print(json.dumps(detail), flush=True)
        if args.workload == "all":
            final.update({f"{wl.name}.{k}": {"value": t[0], "unit": t[1]}
                          for k, t in named.items() if t[0] is not None})
        else:
            final = {k: {"value": values[k], "unit": u} for k, u in wanted.items()}

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": final}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
