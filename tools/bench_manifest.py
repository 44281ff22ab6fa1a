"""Manifest-plane scale ladder (VERDICT r8 next-2): measure the
METADATA plane the way tools/bench_dml.py measures the data plane.
Chains are synthesized (manifests are records; no data files), so the
100k-file tier runs in seconds.

Usage:  python tools/bench_manifest.py [sizes...]   (default 10000 100000)

Prints one ledger row per tier + a JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import LongType, StructField, StructType  # noqa: E402

from yelp_data_engineering_pipeline_spark.operators.upsert import (  # noqa: E402
    ParquetMergeTable,
)
from yelp_data_engineering_pipeline_spark.session import get_spark  # noqa: E402

_SCHEMA = StructType([StructField("id", LongType()),
                      StructField("v", LongType())]).jsonValue()


def _entry(i: int) -> dict:
    return {
        "rows": 125_000,
        "cols": {
            "id": {"min": i * 125_000, "max": (i + 1) * 125_000 - 1,
                   "nulls": 0},
            "v": {"min": 857.71 + i, "max": 555_285.16 + i, "nulls": 0},
            "d": {"min": ["d", "1992-01-01"], "max": ["d", "1998-08-02"],
                  "nulls": 0},
            "p": {"min": "1-URGENT", "max": "5-LOW", "nulls": 0},
        },
        "bytes": 134_217_728,
    }


def _key(i: int) -> str:
    return (f"_data/tx-{i // 500:08x}feed/"
            f"part-{i:06d}-0000-c000.snappy.parquet")


def tier(spark, n: int) -> dict:
    root = tempfile.mkdtemp(prefix=f"manbench{n}_")
    t = ParquetMergeTable(spark, root, key="id")
    files = {_key(i): _entry(i) for i in range(n)}

    t0 = time.time()
    man = {"format": 2, "version": 1, "operation": "merge",
           "committed_at_unix": 0.0, "base": "root", "schema": _SCHEMA,
           "dv": {}, "n_files": n, "chain": 0, "files": files}
    t._publish(1, t._externalize_files(1, man))
    ckpt_write_s = time.time() - t0
    m1 = t._manifest(1)
    ckpt_bytes = (os.path.getsize(t._ckpt_path(m1["ckpt"]))
                  if "ckpt" in m1 else 0)
    json_bytes = os.path.getsize(t._manifest_path(1))

    # a 200-file-churn delta commit record
    removed = [_key(i) for i in range(200)]
    added = {f"new-{j}.parquet": _entry(j) for j in range(200)}
    chain_man = {"format": 2, "version": 2, "operation": "merge",
                 "committed_at_unix": 0.0, "base": "root",
                 "schema": _SCHEMA, "dv": {}, "n_files": 0, "chain": 1,
                 "delta_of": 1, "added": added, "removed": removed}
    t._publish(2, chain_man)
    delta_bytes = os.path.getsize(t._manifest_path(2))

    # checkpoint BUILD by columnar carry (VERDICT r10 next-1): v3
    # checkpoints from v1's sidecar + v2's 200-churn delta without
    # materializing per-file dicts. The dict-build foil (the r10 path:
    # _files() decode + re-encode, ~34 µs/file linear) is measured at
    # the small tiers only — BASELINE.md records 33.9 s at 1M.
    from pyspark.sql.types import StructType
    schema = StructType.fromJson(_SCHEMA)
    keep = sorted(set(files) - set(removed) | set(added))
    carry = ParquetMergeTable(spark, root, key="id")
    orig_every = ParquetMergeTable._CHECKPOINT_EVERY
    ParquetMergeTable._CHECKPOINT_EVERY = 1
    try:
        t0 = time.time()
        man3 = carry._externalize_files(3, carry._assemble_manifest(
            3, "merge", schema, 2, keep, {}))
        carry_s = time.time() - t0
        assert "ckpt" in man3
        carry_dict_s = None
        if n <= 200_000:
            cold0 = ParquetMergeTable(spark, root, key="id")
            t0 = time.time()
            pfiles = cold0._files(2)
            fullmap = {r: pfiles[r] for r in keep}
            mand = cold0._write_ckpt_sidecar(
                3, cold0._entries_to_arrow(fullmap))
            carry_dict_s = time.time() - t0
            del mand
    finally:
        ParquetMergeTable._CHECKPOINT_EVERY = orig_every

    cold = ParquetMergeTable(spark, root, key="id")
    t0 = time.time()
    keys = cold._file_keys(2)
    keys_s = time.time() - t0
    assert len(keys) == n
    cold2 = ParquetMergeTable(spark, root, key="id")
    t0 = time.time()
    full = cold2._files(2)
    full_s = time.time() - t0
    assert len(full) == n

    # cold SKIPPING resolve (r10, VERDICT r9 next-1): predicate →
    # surviving file list through the lazy columnar plane, including
    # the delta-chain replay (v2). This is the path a 100 TB WHERE
    # query actually takes; before r10 it materialized every zone map.
    lo, hi = 500 * 125_000, 510 * 125_000 - 1
    cold3 = ParquetMergeTable(spark, root, key="id")
    t0 = time.time()
    ks, _, _, za = cold3._zone_arrays(2, ["id"], with_rows=False)
    keep, _ = cold3._mask_range(za, len(ks), {"id": (lo, hi)}, False)
    kept = cold3._keys_where(ks, keep)
    skip_s = time.time() - t0
    assert kept == sorted(_key(i) for i in range(500, 510))
    cold4 = ParquetMergeTable(spark, root, key="id")
    t0 = time.time()
    kept_pt = cold4._point_prune("id", [500 * 125_000 + 7], 2)
    point_s = time.time() - t0
    assert kept_pt == [_key(500)]

    return {
        "files": n,
        "ckpt_write_s": round(ckpt_write_s, 3),
        "ckpt_mb": round(ckpt_bytes / 1e6, 3),
        "ckpt_b_per_file": round(ckpt_bytes / n, 2),
        "json_kb": round(json_bytes / 1e3, 1),
        "delta_kb": round(delta_bytes / 1e3, 1),
        "ckpt_carry_s": round(carry_s, 3),
        "ckpt_carry_us_per_file": round(carry_s / n * 1e6, 3),
        "ckpt_carry_dict_s": (round(carry_dict_s, 3)
                              if carry_dict_s is not None else None),
        "cold_keys_s": round(keys_s, 3),
        "cold_full_s": round(full_s, 3),
        "cold_skip_s": round(skip_s, 3),
        "skip_us_per_file": round(skip_s / n * 1e6, 3),
        "cold_point_s": round(point_s, 3),
    }


def dv_tier(spark, n_positions: int = 600_000, n_files: int = 50) -> dict:
    """The DV-plane measurement behind the BASELINE.md r9 ledger row:
    per-record cost of CARRYING n_positions deleted rows, inline JSON
    vs the sidecar's {ref, off, n} pointers."""
    root = tempfile.mkdtemp(prefix="dvbench_")
    t = ParquetMergeTable(spark, root, key="id")
    step = max(1, n_positions // (n_positions // n_files))
    positions = {
        f"_data/tx-{i:08x}/part-0.parquet":
            list(range(i, n_positions, n_files))
        for i in range(n_files)
    }
    total = sum(len(v) for v in positions.values())
    inline_bytes = len(json.dumps(positions))
    man = {"format": 2, "version": 1, "operation": "m",
           "committed_at_unix": 0.0, "base": "root", "schema": _SCHEMA,
           "dv": positions, "n_files": n_files, "chain": 0,
           "files": {k: {"rows": 1, "cols": {}, "bytes": 1}
                     for k in positions}}
    t0 = time.time()
    man2 = t._externalize_dv(1, man)
    write_s = time.time() - t0
    ref_bytes = len(json.dumps(man2["dv"]))
    name = next(iter(man2["dv"].values()))["ref"]
    sidecar = os.path.getsize(t._dv_sidecar_path(name))
    t._publish(1, t._externalize_files(1, man2))
    t0 = time.time()
    resolved = {k: t._dv_positions(e) for k, e in
                t._manifest(1)["dv"].items()}
    resolve_s = time.time() - t0
    assert resolved == positions and step
    return {
        "dv_positions": total,
        "inline_record_mb": round(inline_bytes / 1e6, 3),
        "ref_record_kb": round(ref_bytes / 1e3, 2),
        "sidecar_mb": round(sidecar / 1e6, 3),
        "sidecar_write_s": round(write_s, 3),
        "cold_resolve_s": round(resolve_s, 3),
    }


def dv_build_tier(spark, n_rows: int = 5_000_000,
                  n_files: int = 8) -> dict:
    """VERDICT r10 next-2 ladder row: an end-to-end DV delete matching
    ~90% of n_rows through the EXECUTOR-SIDE build (mapInPandas pack →
    put_stream). Records wall time, matched positions, and the
    largest single chunk the driver ever held — the flat-memory
    evidence beside the 600k-position carry row above."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from yelp_data_engineering_pipeline_spark.operators.storage import (
        PosixBackend,
    )

    class Rec(PosixBackend):
        max_chunk = 0

        def put_stream(self, path, chunks):
            def it():
                for c in chunks:
                    Rec.max_chunk = max(Rec.max_chunk, len(c))
                    yield c
            return super().put_stream(path, it())

    root = _tf.mkdtemp(prefix="dvbuild_")
    t = ParquetMergeTable(spark, root, key="id",
                          backend=Rec())
    df = (spark.range(n_rows)
          .withColumn("v", (F.col("id") * 2654435761) % 10_000_000)
          .repartition(n_files))
    t.merge(df)
    t0 = time.time()
    v2 = t.delete_where({"v": (None, 8_999_999)},
                        use_deletion_vectors=True)
    build_s = time.time() - t0
    matched = sum(e["n"] for e in t._manifest(v2)["dv"].values())
    return {
        "rows": n_rows,
        "dv_matched": matched,
        "delete_dv_s": round(build_s, 3),
        "sidecar_mb": round(matched * 8 / 1e6, 3),
        "driver_max_chunk_mb": round(Rec.max_chunk / 1e6, 3),
    }


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [10_000, 100_000, 1_000_000]
    spark = get_spark("bench_manifest")
    rows = [tier(spark, n) for n in sizes]
    hdr = ("files", "ckpt_write_s", "ckpt_carry_s", "ckpt_mb",
           "ckpt_b_per_file", "json_kb", "delta_kb", "cold_keys_s",
           "cold_full_s", "cold_skip_s", "skip_us_per_file",
           "cold_point_s")
    print(" | ".join(f"{h:>15}" for h in hdr))
    for r in rows:
        print(" | ".join(f"{str(r[h]):>15}" for h in hdr))
    dv = dv_tier(spark)
    print("dv-plane:", dv)
    dvb = dv_build_tier(spark)
    print("dv-build:", dvb)
    print(json.dumps({"metric": "manifest_plane", "tiers": rows,
                      "dv": dv, "dv_build": dvb}))


if __name__ == "__main__":
    main()
