#!/usr/bin/env python
"""Profile the maintenance pipeline's serial (non-scaling) budget.

Usage: taskset -c 0-7 python tools/profile_maint.py 8 96000

Runs run_maintenance once at local[N] with the Spark event log on,
then reports, per pipeline stage:
  wall      — stage wall seconds (what bench.py times)
  busy      — sum of executor task run time landing in the stage window
  busy/N    — perfectly-parallel equivalent seconds
  idle      — wall - busy/N: time cores sat idle (driver work, job
              scheduling gaps, skewed tails) — the scaling killer
plus cumulative driver-side seconds inside monkeypatched hot spots
(stats harvest, metadata commits, toPandas collects, parquet writes).
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

TIMERS: dict[str, float] = defaultdict(float)
COUNTS: dict[str, int] = defaultdict(int)


def _wrap_attr(obj, name, label):
    orig = getattr(obj, name)

    def f(*a, **k):
        t0 = time.monotonic()
        r = orig(*a, **k)
        TIMERS[label] += time.monotonic() - t0
        COUNTS[label] += 1
        return r

    setattr(obj, name, f)


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_clips = int(sys.argv[2]) if len(sys.argv) > 2 else 96_000

    import tempfile

    evdir = tempfile.mkdtemp(prefix="olake_evlog_", dir="/dev/shm")
    from olake_spark.session import get_spark

    os.environ.setdefault("OLAKE_SPARK_DRIVER_MEM", "24g")
    spark = get_spark(
        f"profile-{cores}",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": evdir,
            "spark.local.dir": tempfile.mkdtemp(prefix="spark_local_", dir="/dev/shm"),
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # --- driver-side hot spots
    import pyspark.sql.classic.dataframe as _dfmod

    import olake_spark.table.stats as stats
    from olake_spark.table.table import Table

    _wrap_attr(stats, "harvest", "stats.harvest")
    _wrap_attr(Table, "_commit_meta", "commit")
    _wrap_attr(Table, "entries", "table.entries")
    _wrap_attr(_dfmod.DataFrame, "toPandas", "toPandas")

    # --- stage boundary capture: wrap run_maintenance's clock
    import bench

    orig_run = bench.run_maintenance

    def traced_run(spark, n, workdir):
        # stages run sequentially, so per-stage windows are inferred
        # from the start time plus the reported stage durations
        t0 = time.monotonic()
        res = orig_run(spark, n, workdir)
        res["_t0"] = t0
        return res

    t_wall0 = time.monotonic()
    epoch_off = time.time() - time.monotonic()
    workdir = tempfile.mkdtemp(prefix=f"olake_prof_{cores}_", dir="/dev/shm")
    try:
        res = traced_run(spark, n_clips, workdir)
    finally:
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)

    # sequential stage windows in epoch ms (event log timestamps are epoch)
    stages = res["stages_sec"]
    order = [
        "maint_ingest", "maint_compact", "maint_merge", "maint_merge_mor",
        "maint_fold_deletes", "maint_zorder", "maint_hilbert",
        "maint_manifest_rewrite", "maint_expire", "maint_verify_scan",
    ]
    windows = {}
    cur = (res["_t0"] + epoch_off) * 1000
    for s in order:
        windows[s] = (cur, cur + stages[s] * 1000)
        cur += stages[s] * 1000

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # --- parse event log: per-task executorRunTime summed into windows
    busy = defaultdict(float)
    ntasks = defaultdict(int)
    cands = sorted(
        (p for p in os.listdir(evdir) if not p.startswith(".")),
        key=lambda p: os.path.getmtime(os.path.join(evdir, p)),
    )
    evfile = os.path.join(evdir, cands[-1])
    if os.path.isdir(evfile):
        parts = sorted(
            os.path.join(evfile, p)
            for p in os.listdir(evfile)
            if p.startswith("events")
        )
    else:
        parts = [evfile]
    with open(parts[0]) as _f0:
        lines = list(_f0)
    for p in parts[1:]:
        with open(p) as _f:
            lines += list(_f)
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        ti = ev.get("Task Info", {})
        tm = ev.get("Task Metrics") or {}
        fin = ti.get("Finish Time", 0)
        run_ms = tm.get("Executor Run Time", 0) + tm.get(
            "Executor Deserialize Time", 0
        ) + tm.get("Result Serialization Time", 0)
        for s, (lo, hi) in windows.items():
            if lo <= fin < hi:
                busy[s] += run_ms / 1000.0
                ntasks[s] += 1
                break

    print(f"\n=== profile cores={cores} n_clips={n_clips} ===")
    print(f"{'stage':24s} {'wall':>8s} {'busy':>8s} {'busy/N':>8s} {'idle':>8s} {'tasks':>6s}")
    tot_wall = tot_idle = 0.0
    for s in order:
        w = stages[s]
        b = busy.get(s, 0.0)
        idle = w - b / cores
        tot_wall += w
        tot_idle += idle
        print(f"{s:24s} {w:8.2f} {b:8.2f} {b / cores:8.2f} {idle:8.2f} {ntasks.get(s, 0):6d}")
    print(f"{'TOTAL':24s} {tot_wall:8.2f} {'':8s} {'':8s} {tot_idle:8.2f}")
    print("\ndriver-side hot spots (cumulative seconds):")
    for k in sorted(TIMERS, key=lambda k: -TIMERS[k]):
        print(f"  {k:28s} {TIMERS[k]:8.2f}  ({COUNTS[k]} calls)")
    print(json.dumps({"stages": stages, "busy": dict(busy)}))


if __name__ == "__main__":
    main()
