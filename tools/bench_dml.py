"""Measure predicate-DML cost vs selectivity on the MERGE table.

Builds the same 6M-row zordered lineitem table as bench_skipping.py
(x10 star tier), then times three DELETE shapes and one UPDATE:

  full    — manifest ignored: the whole-snapshot rewrite every
            pre-zone-map engine pays (the baseline),
  ranged  — middle-1%-of-domain predicate: zone maps carry the
            untouched files, rewrite only boundary files,
  aligned — a predicate exactly covering one file's zone: the
            metadata-only path (file dropped, zero Spark jobs),
  update  — conditional projection over the same 1% shape.

Row counts after each op are asserted against the predicate algebra,
so the timings can't come from a wrong row set. Prints one JSON line.

    python tools/bench_dml.py [tier_dir] [table_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    tier = sys.argv[1] if len(sys.argv) > 1 else "/tmp/stressx10"
    root = sys.argv[2] if len(sys.argv) > 2 else "/tmp/dmltable"
    if not os.path.exists(os.path.join(tier, "lineitem.parquet")):
        sys.exit(f"{tier}/lineitem.parquet missing — run tools/make_stress.py")

    from pyspark.sql import functions as F

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )
    from yelp_data_engineering_pipeline_spark.session import get_spark

    spark = get_spark("bench-dml")
    shutil.rmtree(root, ignore_errors=True)
    t = ParquetMergeTable(spark, root, key="rk")
    li = (
        spark.read.parquet(os.path.join(tier, "lineitem.parquet"))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .withColumn("rk", F.monotonically_increasing_id())
    )
    t.merge(li)
    # ONE clustering key = linear disjoint ranges (the monotone-key /
    # ingestion-time layout DML predicates align with in practice)
    t.compact(target_files=64, zorder_by=("l_orderkey",))
    rows = t.read().count()
    n_files = len(t.read().inputFiles())
    out: dict = {
        "metric": "merge_table_dml",
        "tier": tier,
        "rows": rows,
        "n_files": n_files,
        "ops": {},
    }

    b = t.read().agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    dlo, dhi = b[0], b[1]
    width = max((dhi - dlo) // 100, 1)

    def inodes() -> dict:
        # manifest key -> inode of the referenced file: a carried file
        # keeps both, a rewritten one gets a new key
        return {
            rel: os.stat(os.path.join(t.root, rel)).st_ino
            for rel in t._file_keys(t.current_version())
        }

    def not_between(lo, hi):
        return ~F.coalesce(F.col("l_orderkey").between(lo, hi), F.lit(False))

    # -- metadata-only DELETE: one file's exact zone -------------------
    stats = t.stats()
    rel, zm = sorted(
        stats.items(), key=lambda kv: kv[1]["cols"]["l_orderkey"]["min"]
    )[3]
    zlo = zm["cols"]["l_orderkey"]["min"]
    zhi = zm["cols"]["l_orderkey"]["max"]
    before = inodes()
    expect = t.read().filter(not_between(zlo, zhi)).count()
    t0 = time.perf_counter()
    t.delete_where({"l_orderkey": (zlo, zhi)})
    s_meta = time.perf_counter() - t0
    assert t.read().count() == expect
    after = inodes()
    carried = sum(1 for f, i in after.items() if before.get(f) == i)
    out["ops"]["delete_file_aligned"] = {
        "rows_deleted": rows - expect,
        "files_dropped": len(before) - carried,
        "files_carried": carried,
        "files_rewritten": len(after) - carried,
        "sec": round(s_meta, 3),
    }
    rows = expect

    # -- pruned DELETE: middle 1% of the domain (boundary rewrite) -----
    before = inodes()
    lo = dlo + (dhi - dlo) // 2
    hi = lo + width
    expect = t.read().filter(not_between(lo, hi)).count()
    t0 = time.perf_counter()
    t.delete_where({"l_orderkey": (lo, hi)})
    s_pruned = time.perf_counter() - t0
    assert t.read().count() == expect
    after = inodes()
    carried = sum(1 for f, i in after.items() if before.get(f) == i)
    out["ops"]["delete_pruned_1pct"] = {
        "rows_deleted": rows - expect,
        "files_carried": carried,
        "files_rewritten": len(after) - carried,
        "sec": round(s_pruned, 3),
    }
    rows = expect

    # -- pruned UPDATE: same 1% shape, different spot -------------------
    before = inodes()
    lo = dlo + (dhi - dlo) * 7 // 10
    hi = lo + width
    n_match = t.read().filter(F.col("l_orderkey").between(lo, hi)).count()
    t0 = time.perf_counter()
    t.update_where(
        {"l_orderkey": (lo, hi)}, {"l_quantity": F.col("l_quantity") + 1}
    )
    s_upd = time.perf_counter() - t0
    assert t.read().count() == rows
    after = inodes()
    carried = sum(1 for f, i in after.items() if before.get(f) == i)
    out["ops"]["update_pruned_1pct"] = {
        "rows_updated": n_match,
        "files_carried": carried,
        "files_rewritten": len(after) - carried,
        "sec": round(s_upd, 3),
    }

    # -- merge-on-read DELETE: the SPARSE (GDPR-row) shape DVs exist
    # for — a handful of rows scattered in big files; CoW would
    # rewrite the whole boundary file for them
    before = inodes()
    lo = dlo + (dhi - dlo) * 3 // 10
    hi = lo + max((dhi - dlo) // 100_000, 1)
    n_match = t.read().filter(F.col("l_orderkey").between(lo, hi)).count()
    rows_now = t.read().count()
    t0 = time.perf_counter()
    t.delete_where({"l_orderkey": (lo, hi)}, use_deletion_vectors=True)
    s_dv = time.perf_counter() - t0
    assert t.read().count() == rows_now - n_match
    after = inodes()
    out["ops"]["delete_dv_sparse"] = {
        "rows_deleted": n_match,
        "files_rewritten": sum(
            1 for f, i in after.items() if before.get(f) != i
        ),
        "dv_positions": sum(len(p) for p in t.deletion_vectors().values()),
        "sec": round(s_dv, 3),
    }
    rows = t.read().count()

    # -- keyed DELETE (r9): an explicit IN-list on an UNCLUSTERED
    # column — the GDPR id-list shape. Zone maps can't prune
    # l_partkey (scattered), so the per-file Bloom index is what
    # bounds the touch set; merge-on-read records the positions.
    t0 = time.perf_counter()
    t.build_file_index("l_partkey")
    s_bloom = time.perf_counter() - t0
    probes = [
        r.l_partkey
        for r in t.read().select("l_partkey").distinct().limit(5).collect()
    ]
    cur_v = t.current_version()
    kept = t._point_prune("l_partkey", probes, cur_v)
    rows_now = t.read().count()
    n_match = t.read().filter(F.col("l_partkey").isin(probes)).count()
    t0 = time.perf_counter()
    t.delete_keys("l_partkey", probes, use_deletion_vectors=True)
    s_keys = time.perf_counter() - t0
    assert t.read().count() == rows_now - n_match
    out["ops"]["delete_keys_bloom_dv"] = {
        "probe_keys": len(probes),
        "rows_deleted": n_match,
        "files_touched": len(kept),
        "files_total": len(t.stats()),
        "bloom_build_sec": round(s_bloom, 3),
        "sec": round(s_keys, 3),
    }
    rows = t.read().count()

    # -- keyed DELETE after CHURN (r10, VERDICT r9 next-2): 20 keyed
    # CoW updates rewrite files; each commit's _carry_bloom indexes
    # the ADDED files incrementally, so the follow-up delete_keys must
    # prune like the pre-churn row (ledger bound: ≤2×) with NO
    # full-table rebuild in between.
    import random as _random

    rng = _random.Random(7)
    all_parts = [r.l_partkey for r in
                 t.read().select("l_partkey").distinct().limit(500).collect()]
    t0 = time.perf_counter()
    for i in range(20):
        t.update_keys("l_partkey", rng.sample(all_parts, 3),
                      {"l_quantity": F.col("l_quantity") + 1})
    s_churn = time.perf_counter() - t0
    probes2 = rng.sample(all_parts, 5)
    cur_v = t.current_version()
    kept2 = t._point_prune("l_partkey", probes2, cur_v)
    plan = t.maintenance_plan()
    rows_now = t.read().count()
    n_match = t.read().filter(F.col("l_partkey").isin(probes2)).count()
    t0 = time.perf_counter()
    t.delete_keys("l_partkey", probes2, use_deletion_vectors=True)
    s_keys2 = time.perf_counter() - t0
    assert t.read().count() == rows_now - n_match
    out["ops"]["delete_keys_after_20_churn_commits"] = {
        "churn_commits": 20,
        "churn_total_sec": round(s_churn, 3),
        "bloom_coverage": plan["bloom"]["l_partkey"]["coverage"],
        "probe_keys": len(probes2),
        "rows_deleted": n_match,
        "files_touched": len(kept2),
        "files_total": len(t._file_keys(cur_v)),
        "sec": round(s_keys2, 3),
    }
    rows = t.read().count()

    # -- change feed: commit-bounded CDF vs the whole-snapshot diff ----
    # (r10) the delete_keys commit above touched 7 files via a DV;
    # changes_at derives its feed from just the churned files, while
    # changes_between full-outer-joins both 6M-row snapshots.
    head = t.current_version()
    t0 = time.perf_counter()
    n_feed = t.changes_at(head).count()
    s_at = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_between = (t.changes_between(head - 1, head)
                 .filter("change_type <> 'unchanged'").count())
    s_between = time.perf_counter() - t0
    assert n_feed == n_between == n_match
    # export just the head commit's feed (retention 2: the older
    # churn versions fall away; head-1 has no retained parent and is
    # skipped — the export-before-vacuum discipline, inverted here on
    # purpose to isolate one commit's export cost)
    t.vacuum(keep_last_n=2, stage_grace_seconds=0)
    t0 = time.perf_counter()
    exported = t.export_changes()
    s_export = time.perf_counter() - t0
    assert exported == [head]
    out["ops"]["change_feed"] = {
        "feed_rows": n_feed,
        "changes_at_sec": round(s_at, 3),
        "changes_between_sec": round(s_between, 3),
        "export_versions": len(exported),
        "export_sec": round(s_export, 3),
    }

    # -- full-rewrite baseline LAST (it destroys the clustering) -------
    # (its time includes indexing the rewritten files for the table's
    # Bloom index, which every commit maintains)
    lo = dlo + (dhi - dlo) // 5
    hi = lo + width
    expect = t.read().filter(not_between(lo, hi)).count()
    t0 = time.perf_counter()
    t._commit(t.read().filter(not_between(lo, hi)), op="delete_full_rewrite")
    s_full = time.perf_counter() - t0
    assert t.read().count() == expect
    out["ops"]["delete_full_rewrite_baseline"] = {
        "rows_deleted": rows - expect,
        "files_rewritten": len(t.read().inputFiles()),
        "sec": round(s_full, 3),
    }

    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
