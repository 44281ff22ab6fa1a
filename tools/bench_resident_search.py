"""Resident vs distributed IvfIndex search, by assignment-table size and
by traffic shape.

``IvfIndex.search`` answers the auto route from driver-resident posting
lists that load once per committed assignment-table version. Whether
that pays depends on two things this tool measures for each corpus
size (float32 vectors, seeded, ``cells`` blobs, index optimized to one
file per cell):

- ``steady``: many searches per table version (no commits between
  searches) — p50 ms of a 1-vector top-10 search on each route, plus
  the cold first resident search (load + search);
- ``interleaved``: one commit before every search (a small corpus
  merge + ``refresh``, untimed) — p50 ms of the search that follows, on
  each route, alternating which route goes first. The resident route
  pays a full posting-list reload inside every such search.

It also reports the assignment table's manifest bytes (the quantity the
routing rule compares), the posting lists' NumPy bytes, and the driver
process's resident-set growth over the load. Each size's rows are
checked equal between the two routes. Prints one JSON line per size.
The route is measured at every size given, above the
``IvfIndex._RESIDENT_MAX_BYTES`` cap too: the cap comes from these
figures.

    python tools/bench_resident_search.py [rows ...] [--dim 64]
        [--cells 16] [--searches 15] [--rounds 8]

The driver heap defaults to 2g (``SPARK_GRAFT_DRIVER_MEM``), as in the
product benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def _ms(fn) -> tuple[float, list]:
    t0 = time.perf_counter()
    out = fn()
    return (time.perf_counter() - t0) * 1e3, out


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def measure(spark, base: str, rows: int, dim: int, cells: int,
            searches: int, rounds: int) -> dict:
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    from yelp_data_engineering_pipeline_spark.operators import (
        ann_index as AI,
    )
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    corpus = ParquetMergeTable(spark, f"{base}/c{rows}", key="vec_id")
    corpus.merge(spark.range(rows).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                F.when(F.pmod(F.col("id"), F.lit(cells)) == j, 1.0)
                .otherwise(0.0)
                + (F.pmod(F.hash(F.col("id"), j), F.lit(10_000))
                   .cast("double") / 10_000.0 - 0.5) * 0.6
            )).cast("array<float>").alias("embedding")))
    ix = AI.IvfIndex(spark, f"{base}/ix{rows}")
    ix.build(corpus, n_centroids=cells)
    ix.optimize(target_files=cells)
    _, _, byts, _ = ix.assign._zone_arrays(
        ix.assign.current_version(), [], with_bytes=True, with_rows=False)
    assign_bytes = sum(byts)

    rng = np.random.default_rng(rows)
    schema = "vec_id long, embedding array<float>"

    def qvec(i: int):
        v = np.zeros(dim, dtype=np.float32)
        v[i % cells] = 1.0
        return v + rng.uniform(-0.3, 0.3, dim).astype(np.float32)

    def query(i: int):
        v = qvec(i)
        return spark.createDataFrame(pa.table({
            "vec_id": pa.array([10**12 + i], pa.int64()),
            "embedding": pa.array([v], pa.list_(pa.float32()))}),
            schema=schema)

    def resident(q):
        return ix.search(q, 10, nprobe=2).collect()

    def distributed(q):
        return ix.search(q, 10, nprobe=2, prune_files=False).collect()

    for i in range(3):  # JIT/plan warm-up on the distributed route
        distributed(query(i))
    rss0 = _rss_mb()
    cold_ms, _ = _ms(lambda: resident(query(3)))
    rss1 = _rss_mb()
    post = AI._RESIDENT[(spark.sparkContext.applicationId, ix.root)][1]
    post_bytes = post.ids.nbytes + post.vecs.nbytes + post.norms.nbytes

    def both(i: int, q, into: dict) -> None:
        pair = [("resident", resident), ("distributed", distributed)]
        if i % 2:
            pair.reverse()
        for name, fn in pair:
            into[name].append(_ms(lambda: fn(q))[0])

    steady = {"resident": [], "distributed": []}
    for i in range(searches):
        both(i, query(100 + i), steady)

    inter = {"resident": [], "distributed": []}
    mismatches = 0
    for r in range(rounds):
        new = [(rows + 10 * r + j, qvec(200 + j).tolist())
               for j in range(8)]
        corpus.merge(spark.createDataFrame(new, schema))
        ix.refresh(corpus)
        q = query(300 + r)
        both(r, q, inter)
        a = ix.search(q, 10, nprobe=2)
        b = ix.search(q, 10, nprobe=2, prune_files=False)
        mismatches += _rows(a) != _rows(b)

    def p50(xs):
        return round(statistics.median(xs), 1)

    return {
        "metric": "ann_resident_search",
        "rows": rows, "dim": dim, "cells": cells,
        "assign_bytes": assign_bytes,
        "assign_mib": round(assign_bytes / 2**20, 2),
        "posting_mib": round(post_bytes / 2**20, 2),
        "load_rss_growth_mib": round(rss1 - rss0, 1),
        "cold_resident_ms": round(cold_ms, 1),
        "steady_resident_ms_p50": p50(steady["resident"]),
        "steady_distributed_ms_p50": p50(steady["distributed"]),
        "interleaved_resident_ms_p50": p50(inter["resident"]),
        "interleaved_distributed_ms_p50": p50(inter["distributed"]),
        "searches": searches, "rounds": rounds,
        "row_mismatches": mismatches,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rows", nargs="*", type=int,
                    default=[10_000, 100_000, 400_000])
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--cells", type=int, default=16)
    ap.add_argument("--searches", type=int, default=15)
    ap.add_argument("--rounds", type=int, default=8)
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    from yelp_data_engineering_pipeline_spark.operators.ann_index import (
        IvfIndex,
    )
    from yelp_data_engineering_pipeline_spark.session import get_spark

    # measure the resident route at every size, including those above
    # the cap this tool's figures set
    IvfIndex._RESIDENT_MAX_BYTES = IvfIndex._PRUNE_MIN_BYTES
    spark = get_spark("bench-resident-search")
    base = tempfile.mkdtemp(prefix="ann_resident_")
    try:
        for n in args.rows:
            print(json.dumps(measure(spark, base, n, args.dim, args.cells,
                                     args.searches, args.rounds)),
                  flush=True)
            shutil.rmtree(base, ignore_errors=True)
            os.makedirs(base, exist_ok=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
