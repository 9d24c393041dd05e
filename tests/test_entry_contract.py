"""Driver-contract guard: every queries() entry runs, and every oracle
matches DuckDB at sf0.001 (the driver repeats this at sf0.01)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.check_oracles import main as check_main  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_all_oracles_match():
    assert check_main(SF_DIR, []) == 0


def test_rotation_window():
    """The driver stamps only the first 50 queries() entries. Guard the
    rotation contract: every entry beyond position 50 must be explicitly
    listed in ROTATED_OUT (no query silently exits verification), and
    the eight entries rotated out in round 4 — whose promotion completes
    the full 58-query driver sweep — must sit inside the window this
    round, as must any query the driver has never stamped."""
    import __spark_entry__ as e
    from olake_spark.entry_queries import ROTATED_OUT

    names = list(e.queries())
    assert set(names[50:]) == set(ROTATED_OUT)
    for promoted in (
        "topk_boundary",
        "set_except",
        "max_cursor",
        "token_count",
        "fingerprint",
        "partition_path",
        "truncate_transform",
        "minmax_bounds",
    ):
        assert promoted in names[:50]


def test_pack_token_budget_invariants(spark):
    """Size-class packing guarantees: every pack's token sum fits the
    budget, and within a class every pack except the last is full."""
    from olake_spark.entry_queries import _PACK_BUDGET, QUERIES

    rows = QUERIES["pack_token_budget"](spark, SF_DIR).collect()
    assert rows
    by_class: dict[int, list] = {}
    for r in rows:
        # a doc that alone exceeds the budget lands in a flagged
        # singleton pack (cap clamps to 1); every other pack fits
        if r["oversize"]:
            assert r["n_docs"] == 1
        else:
            assert r["sum_tokens"] <= _PACK_BUDGET
        # every doc in class c has < 2^c tokens
        assert r["max_tokens"] < (1 << r["size_class"])
        by_class.setdefault(r["size_class"], []).append(r)
    for c, packs in by_class.items():
        packs.sort(key=lambda r: r["pack_in_class"])
        cap = max(_PACK_BUDGET // (1 << c), 1)
        for p in packs[:-1]:
            assert p["n_docs"] == cap  # only the tail pack may be short


def test_decontaminate_flags_only_nonbenchmark(spark):
    from olake_spark.entry_queries import QUERIES

    rows = QUERIES["decontaminate"](spark, SF_DIR).collect()
    for r in rows:
        assert r["doc_id"] % 7 != 0
        assert r["n_hit_grams"] >= 1


def test_bench_contract_line_fits_driver_tail():
    """The driver keeps a bounded (~2000-char) stdout tail and parses
    bench's FINAL line; BENCH_r04's line outgrew it (parsed: null).
    Rebuild the minimal contract line exactly as bench.main_default
    emits it — every queries() entry plus the maintenance stage keys —
    and assert comfortable headroom."""
    import json

    from olake_spark.entry_queries import QUERIES

    q = {k: 999.99 for k in QUERIES}
    q.update(
        {
            f"maint_{s}": 999.99
            for s in (
                "ingest", "compact", "merge", "merge_mor", "fold_deletes",
                "zorder", "hilbert", "manifest_rewrite", "expire",
                "verify_scan",
            )
        }
    )
    q["small_row_replicate"] = 999.99
    line = json.dumps(
        {
            "metric": "bench_total_sec",
            "value": 99999.999,
            "unit": "sec",
            "queries": q,
            "sf": 0.1,
        },
        separators=(",", ":"),
    )
    assert len(line) < 1850, f"bench contract line too long: {len(line)}"
