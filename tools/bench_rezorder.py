"""Incremental-vs-whole-table rezorder ledger (round 11).

Builds an id-zordered, partition-churned table at the DML-ladder
scale: 6M rows partitioned by ``p = id % 8``, ZORDER BY id into 8
ranges (≈64 files, each narrow on id), then CDC-shaped churn — merges
updating two partitions — whose wholesale partition rewrites emit
files spanning the full id domain (the decay the clustering leg
measures). Both repairs are then timed on the SAME churned state
(``restore`` rewinds between them):

- ``incremental_s`` — ``rezorder(only_decayed=True)``: rewrites only
  the wide files, carries every narrow file;
- ``full_s`` — ``rezorder()``: whole-table re-layout.

Prints one JSON line for BASELINE.md. The quality claim (overlap back
under the floor either way) is asserted, so the speedup can't be
bought by skipping the repair.

    python tools/bench_rezorder.py [n_rows] [n_ranges]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 6_000_000
    n_ranges = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )
    from yelp_data_engineering_pipeline_spark.session import get_spark

    spark = get_spark("bench_rezorder")
    root = tempfile.mkdtemp(prefix="rez_")
    t = ParquetMergeTable(spark, root, key="id", partition_by="p")
    df = (spark.range(n_rows)
          .withColumn("p", (F.col("id") % 8).cast("int"))
          .withColumn("v", (F.col("id") * 2654435761) % 1_000_000))
    t.merge(df)
    t.compact(zorder_by=("id",), target_files=n_ranges)
    base_overlap = t.clustering_overlap(["id"])["id"]["avg_overlap"]

    # churn: CDC merges into two partitions, then the realistic decay
    # route — per-partition SMALL-FILE compaction without the z-sort
    # (what auto maintenance runs between re-layouts; a broadcast CoW
    # merge alone PRESERVES the narrow input splits, measured, so the
    # plain coalesce is what actually mixes ranges)
    for p in (3, 6):
        upd = (spark.range(p, n_rows, 8 * 13)
               .withColumn("p", F.lit(p).cast("int"))
               .withColumn("v", F.lit(-1).cast("long")))
        t.merge(upd)
        t.compact(partition_value=p, target_files=2)
    v_churn = t.current_version()
    churned = t.clustering_overlap(["id"])["id"]
    plan = t.maintenance_plan()
    n_files = plan["n_files"]
    decayed = plan["clustering"]["id"]["decayed_files"]

    t0 = time.time()
    t.rezorder(only_decayed=True, target_files=n_ranges)
    inc_s = time.time() - t0
    inc_overlap = t.clustering_overlap(["id"])["id"]["avg_overlap"]
    assert inc_overlap < 0.5, inc_overlap

    t.restore(v_churn)
    t0 = time.time()
    t.rezorder(target_files=n_ranges)
    full_s = time.time() - t0
    full_overlap = t.clustering_overlap(["id"])["id"]["avg_overlap"]
    assert full_overlap < 0.5, full_overlap

    print(json.dumps({
        "metric": "rezorder_repair",
        "rows": n_rows,
        "files_churned_state": n_files,
        "decayed_files": decayed,
        "overlap_clustered": base_overlap,
        "overlap_churned": churned["avg_overlap"],
        "incremental_s": round(inc_s, 3),
        "overlap_after_incremental": inc_overlap,
        "full_s": round(full_s, 3),
        "overlap_after_full": full_overlap,
        "speedup": round(full_s / inc_s, 2) if inc_s else None,
    }))


if __name__ == "__main__":
    main()
