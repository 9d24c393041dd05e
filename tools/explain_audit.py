"""Physical-plan audit: dump .explain(formatted) for key queries.

Writes EXPLAIN.md with the formatted physical plan of each audited
query plus automated checks:

- parquet scans show PushedFilters / pruned ReadSchema where expected
- small-side joins are broadcast; the MERGE join is sort-merge
- hot paths sit inside WholeStageCodegen spans
- no row-at-a-time Python UDFs (only ArrowEvalPython / mapInPandas)

Usage: python -m tools.explain_audit [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

# needle prefixed with "!" means: must NOT appear in the plan
AUDITS = {
    "filter_pushdown": [
        ("filters pushed to scan", "PushedFilters: [IsNotNull"),
        ("untouched columns pruned from read", "!l_comment"),
        ("whole-stage codegen", "[codegen id :"),
    ],
    "chunked_scan": [
        ("partial aggregation before shuffle", "HashAggregate"),
        # AQE wraps this plan; codegen ids only appear post-execution
        ("2-column pruned read", "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
    ],
    "merge_upsert": [
        ("sort-merge join (north-rule mandate)", "SortMergeJoin"),
        ("full outer", "FullOuter"),
    ],
    "dedup_latest": [
        ("one shuffle, partitioned on the key", "hashpartitioning(user_id"),
        ("rank-limit pushed below the sort", "WindowGroupLimit"),
    ],
    "cosine_bruteforce": [
        ("broadcast of query vectors", "BroadcastNestedLoopJoin"),
        ("no cartesian shuffle", "!CartesianProduct"),
    ],
    "lsh_bucket_join": [
        ("equi-join on band hash", "HashJoin Inner"),
        ("no cross join", "!CartesianProduct"),
    ],
    "ivf_topk": [
        ("broadcast hash join on centroid", "BroadcastHashJoin"),
    ],
    "exact_dedup": [
        ("partial agg before exchange", "HashAggregate"),
    ],
    "pk_hash": [
        ("codegen md5 (no UDF)", "[codegen id :"),
    ],
    "bucket_transform": [
        ("vectorized Arrow eval (not BatchEvalPython)", "ArrowEvalPython"),
    ],
    "partition_template": [
        # typed fast path: the timestamp column renders via direct
        # year()/month() calls — the 12-layout parse cascade must NOT
        # appear (it blows the expression past janino's method limit)
        ("pruned 2-column read", "ReadSchema: struct<o_orderstatus:string,o_orderdate:timestamp"),
        ("no string-parse cascade on typed column", "!gettimestamp"),
        ("no python udf", "!BatchEvalPython"),
    ],
    "ngram_jaccard": [
        # round-2 fix: the length-window blocking must ride an
        # equi-join key (source, band), never a nested loop
        ("equi-join carries the blocking", "Join Inner"),
        ("no nested-loop join", "!BroadcastNestedLoopJoin"),
        ("no cartesian product", "!CartesianProduct"),
    ],
    "tuple_range_scan": [
        ("pruned 2-column read", "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>"),
        # AQE wraps this plan; codegen ids only appear post-execution
        ("partial agg before exchange", "HashAggregate"),
    ],
    "embedding_near_dup": [
        ("per-band equi-joins", "Join Inner"),
        ("no nested-loop join", "!BroadcastNestedLoopJoin"),
    ],
    "merge_mor": [
        # merge-on-read scan: equality deletes resolve via an anti-join
        ("scan-side equality-delete anti-join", "LeftAnti"),
        # the (key, delete sequence) side and the file→sequence map are
        # exact-stats LocalRelations built on the driver, so the small
        # delete side is broadcast: no shuffle, no Python-RDD scan
        ("delete side broadcast (hash anti)", "BroadcastHashJoin LeftAnti"),
        ("no Python-RDD plan table", "!Scan ExistingRDD"),
        ("not a nested loop", "!BroadcastNestedLoopJoin"),
    ],
    "date_reformat": [
        # AQE-wrapped since the round-2 spread; the cascade is a plain
        # JVM projection (gettimestamp/regexp), never a Python UDF
        ("layout cascade is a JVM projection", "Project"),
        ("date-pattern gate compiled JVM-side", "RLIKE"),
    ],
    "raw_layout": [
        ("JSON round trip JVM-side", "[codegen id :"),
    ],
    "pack_token_budget": [
        # one shuffle total: the per-class window rank; the pack
        # aggregation reuses its partitioning
        ("class rank is a window over one exchange", "Window"),
        ("all integer math JVM-side", "!ArrowEvalPython"),
        ("no python row path", "!BatchEvalPython"),
    ],
    "decontaminate": [
        ("benchmark gram set broadcast", "BroadcastHashJoin"),
        ("only gram hashes shuffle, never text", "md5(cast(array_join"),
        ("no python row path", "!BatchEvalPython"),
    ],
    "stream_filter": [
        # the parsed user-filter grammar must reach the parquet scan as
        # native pushed filters, not a post-scan Filter-only plan
        ("grammar filter pushed to scan",
         "PushedFilters: [IsNotNull(o_totalprice)"),
        ("value predicates pushed",
         "GreaterThanOrEqual(o_totalprice,100000.5)"),
        ("projection pruned to 3 columns",
         "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"),
        ("no row-at-a-time eval", "!BatchEvalPython"),
    ],
    "minhash_signatures": [
        # round-2 lane split: ONE digest per shingle, k lanes of it;
        # AQE wraps the spread plan so codegen ids only appear
        # post-execution — check the two-stage projection instead
        ("digest array projected separately from lanes", "Project (3)"),
        ("single shingle-digest pass (JVM transform)", "md5(cast(substring(text"),
        ("no shuffle beyond the conditional spread", "!SortMergeJoin"),
    ],
    "simhash": [
        ("token digests projected once, folds reference them", "Project (3)"),
        ("JVM md5 transform (no UDF)", "md5(cast(lambda"),
    ],
    "audio_resample": [
        ("Arrow-batched mapInPandas stage", "MapInPandas"),
    ],
    "audio_fingerprint_dedup": [
        ("fingerprint grouping is a hash aggregate", "HashAggregate"),
        ("Arrow-batched mapInPandas decode/FFT", "MapInPandas"),
        ("no pairwise join anywhere", "!Join Inner"),
    ],
    "transcript_quality": [
        ("string/int metrics inside codegen (no UDF)", "[codegen id :"),
    ],
    "time_travel": [
        # pinned pre-merge snapshot: plain multi-file read, no deletes
        ("no delete anti-join on the pinned snapshot", "!LeftAnti"),
        ("parquet relation scan", "Scan parquet"),
    ],
    "changelog_scan": [
        # one commit per content kind in the range: each file's commit
        # snapshot is a literal tag, so neither branch joins anything
        ("commit snapshot is a literal tag, no join", "!Join"),
        ("insert/delete branches unioned", "Union"),
    ],
    "dedup_clusters": [
        # iterative CC: the returned labels must read from TRUNCATED
        # lineage (a checkpoint scan), not a re-derivation of every
        # prior round's join tree — without the per-round cut the plan
        # doubles each iteration
        ("labels read from truncated lineage", "Scan ExistingRDD"),
        # the singleton anti-join ships the (small) duplicate-subgraph
        # id set to executors instead of shuffling the whole corpus
        ("singleton anti-join broadcasts the subgraph ids", "BroadcastHashJoin LeftAnti"),
        ("no join re-derivation in the final plan", "!SortMergeJoin"),
        ("no cartesian product anywhere", "!CartesianProduct"),
        ("no row-at-a-time Python UDF", "!BatchEvalPython"),
    ],
    "stratified_sample": [
        ("hash gate evaluated at the scan filter", "Filter"),
        ("partial agg before exchange", "HashAggregate"),
    ],
    "audio_segments": [
        ("row-expansion inside the Arrow batch", "MapInPandas"),
    ],
}


def main(sf_dir: str = "/root/testdata/sf0.01") -> int:
    from olake_spark.entry_queries import QUERIES
    from olake_spark.session import get_spark

    spark = get_spark("explain-audit", cores=4)
    out = ["# EXPLAIN — physical-plan audit", "",
           f"Generated by `python -m tools.explain_audit {sf_dir}`.", ""]
    failures = []
    for name, checks in AUDITS.items():
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        out.append(f"## {name}\n")
        for label, needle in checks:
            ok = (needle[1:] not in plan) if needle.startswith("!") else (needle in plan)
            out.append(f"- {'✅' if ok else '❌'} {label} (`{needle[:60]}`)")
            if not ok:
                failures.append((name, label))
        # BatchEvalPython = row-at-a-time Python UDF — never allowed
        if "BatchEvalPython" in plan:
            out.append("- ❌ row-at-a-time Python UDF found (BatchEvalPython)")
            failures.append((name, "no BatchEvalPython"))
        else:
            out.append("- ✅ no row-at-a-time Python UDFs")
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")
    with open("EXPLAIN.md", "w") as f:
        f.write("\n".join(out))
    print(f"EXPLAIN.md written; {len(failures)} failed checks")
    for name, label in failures:
        print(f"  FAIL {name}: {label}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
