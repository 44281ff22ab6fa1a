"""Lakehouse aging ledger (VERDICT r9 next-4): the CDC soak from
tests/test_soak.py at 10x the row volume — ~50 streamed micro-batches
into one table with DV keyed deletes (auto_compact_dv),
periodic compact(target_mb=) and vacuum interleaved. Prints one JSON
line with the bounded-metadata and latency-flatness quantities the
BASELINE.md ledger records.

    python tools/bench_soak.py [rows_per_batch] [chunks]

``ann`` mode (VERDICT r11 next-6): the 50-batch ANN-index aging loop
from tests/test_soak.py at 10x the churn volume — per-batch change-feed
refresh, plan-driven optimize()/split_cell + vacuum cadence — printing
the recall floor, refresh-latency flatness and bounded-metadata
quantities for the BASELINE.md ledger.

    python tools/bench_soak.py ann [rows_per_batch] [batches]

The index's assignment table + meta sidecar age under the
conditional-PUT commit protocol; the ledger records the log-object
bound.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def ann_main() -> None:
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    batches = int(sys.argv[3]) if len(sys.argv) > 3 else 50

    from tests.test_soak import run_ann_soak
    from yelp_data_engineering_pipeline_spark.session import get_spark

    spark = get_spark("bench-ann-soak")
    base = tempfile.mkdtemp(prefix="annsoak_")
    try:
        rep = run_ann_soak(spark, base, n_batches=batches,
                           rows_per_batch=rows)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    rep.pop("refresh_s", None)
    rep["metric"] = "ann_soak"
    rep["rows_per_batch"] = rows
    print(json.dumps(rep))


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from tests.test_soak import run_soak
    from yelp_data_engineering_pipeline_spark.session import get_spark

    spark = get_spark("bench-soak")
    base = tempfile.mkdtemp(prefix="soak_")
    try:
        rep = run_soak(spark, base, n_chunks=chunks,
                       batches_per_chunk=10, rows_per_batch=rows)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    rep["metric"] = "cdc_soak"
    rep["rows_per_batch"] = rows
    print(json.dumps(rep))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "ann":
        ann_main()
    else:
        main()
