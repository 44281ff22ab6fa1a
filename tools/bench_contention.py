"""Writer contention on one ParquetMergeTable: N threads, each with its
own table handle, run ``merge(wait=True)`` batches on DISJOINT keys
against one shared table. Prints one JSON line per thread count: wall
time, per-merge latency, and the number of lost conditional-PUT races
(each one a re-derive of that writer's batch against the new head).
The final row count is asserted, so a lost update fails the run.

    python tools/bench_contention.py [threads ...] [--batches B] [--rows R] [--base N]

Defaults: threads 1 2 4, 4 batches of 1,000 rows per thread, a
20,000-row base table.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def run(spark, n_threads: int, batches: int, rows: int, base: int) -> dict:
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    root = tempfile.mkdtemp(prefix="contention_")
    try:
        ParquetMergeTable(spark, root, key="id").merge(
            spark.range(0, base).selectExpr("id", "id * 2 as v"))
        frames = {
            (w, b): spark.range(0, rows).selectExpr(
                f"id + {base + (w * batches + b) * rows} as id", "id as v")
            for w in range(n_threads) for b in range(batches)
        }
        lock = threading.Lock()
        races = [0]
        lat: list[float] = []
        orig = ParquetMergeTable._publish

        def counting(self, new_v, man):
            try:
                return orig(self, new_v, man)
            except Exception as e:
                if type(e).__name__ == "_CommitRace":
                    with lock:
                        races[0] += 1
                raise

        def writer(w: int) -> None:
            t = ParquetMergeTable(spark, root, key="id")
            for b in range(batches):
                t0 = time.perf_counter()
                t.merge(frames[(w, b)], wait=True)
                with lock:
                    lat.append(time.perf_counter() - t0)

        ParquetMergeTable._publish = counting
        try:
            threads = [threading.Thread(target=writer, args=(w,))
                       for w in range(n_threads)]
            t0 = time.perf_counter()
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            wall = time.perf_counter() - t0
        finally:
            ParquetMergeTable._publish = orig
        t = ParquetMergeTable(spark, root, key="id")
        want = base + n_threads * batches * rows
        got = t.read().count()
        assert got == want, (got, want)
        return {
            "metric": "writer_contention",
            "threads": n_threads,
            "commits": n_threads * batches,
            "wall_s": round(wall, 2),
            "merge_p50_s": round(statistics.median(lat), 3),
            "merge_max_s": round(max(lat), 3),
            "lost_races": races[0],
            "rows": got,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("threads", nargs="*", type=int, default=[1, 2, 4])
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--rows", type=int, default=1000)
    ap.add_argument("--base", type=int, default=20000)
    a = ap.parse_args()

    from yelp_data_engineering_pipeline_spark.session import get_spark

    spark = get_spark("bench-contention")
    for n in a.threads:
        print(json.dumps(run(spark, n, a.batches, a.rows, a.base)),
              flush=True)


if __name__ == "__main__":
    main()
