"""Lakehouse aging soak (VERDICT r9 next-4): the table lifecycle the
suite never had end-to-end — ~50 STREAMED CDC micro-batches into one
table with DV-writing keyed deletes (auto_compact_dv),
periodic ``compact(target_mb=)`` and ``vacuum`` interleaved — then
assert the invariants that keep a continuously-ingesting 100 TB table
healthy: bounded live metadata (manifests + sidecars), DV density
below the compaction threshold, bounded small-file count and read
groups, and FLAT per-batch commit latency (last-5 average within 2× of
first-5 — the degradation bound; JVM warmup only makes the first
batches slower, so the check is one-sided).

The ledger twin (tools/bench_soak.py) runs the same loop at 10x the
row volume and records the BASELINE.md row.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from yelp_data_engineering_pipeline_spark.operators.upsert import (
    ParquetMergeTable,
)
from yelp_data_engineering_pipeline_spark.streaming.ingest import (
    run_cdc_upsert_stream,
)

# Wall-clock soak ledgers (minutes each): excluded from the default
# run via the `slow` marker (pytest.ini) so the round driver's
# full-suite verification finishes inside its budget; CI runs them
# with `-m slow`.
pytestmark = pytest.mark.slow

CDC_SCHEMA = "id long, p long, ts long, v double, deleted boolean"


def _write_batch_file(path: str, batch: int, rows_per_batch: int) -> None:
    """One micro-batch = one NDJSON file: mostly upserts into a
    rotating partition (new keys + updates of old ones), a few
    deletes — the Debezium-ish CDC mix."""
    recs = []
    p = batch % 8
    for j in range(rows_per_batch):
        new_id = 10_000 * (batch + 1) + 8 * j + p
        recs.append({"id": new_id, "p": p, "ts": batch, "v": float(j),
                     "deleted": False})
    if batch > 0:
        upd_p = (batch - 1) % 8
        for j in range(rows_per_batch // 4):     # out-of-order updates
            recs.append({"id": 10_000 * batch + 8 * j + upd_p,
                         "p": upd_p, "ts": batch, "v": -1.0,
                         "deleted": False})
        recs.append({"id": 10_000 * batch + upd_p, "p": upd_p,
                     "ts": batch, "v": 0.0, "deleted": True})
    with open(path, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")


def run_soak(spark, base: str, n_chunks: int = 5,
             batches_per_chunk: int = 10, rows_per_batch: int = 40,
             keep_last_n: int = 3) -> dict:
    """The shared soak loop (test + ledger tool): returns the aging
    report. Each chunk streams ``batches_per_chunk`` micro-batches
    (maxFilesPerTrigger=1) through run_cdc_upsert_stream, then ages
    the table: a DV keyed delete (auto-compacted past the density
    threshold), compact(target_mb=), vacuum."""
    in_dir = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    root = os.path.join(base, "tbl")
    os.makedirs(in_dir, exist_ok=True)

    latencies: list[float] = []
    orig_mi = ParquetMergeTable.merge_into
    orig_m = ParquetMergeTable.merge

    def _timed(fn):
        def run(self, *a, **k):
            t0 = time.perf_counter()
            out = fn(self, *a, **k)
            latencies.append(time.perf_counter() - t0)
            return out
        return run

    stream_schema = CDC_SCHEMA
    batch_no = 0
    maint = ParquetMergeTable(spark, root, key="id", partition_by="p",
                              auto_compact_dv=0.05)
    # time BOTH commit shapes: the first micro-batch seeds via merge,
    # the rest apply via the conditional merge_into
    ParquetMergeTable.merge_into = _timed(orig_mi)
    ParquetMergeTable.merge = _timed(orig_m)
    try:
        for chunk in range(n_chunks):
            for _ in range(batches_per_chunk):
                _write_batch_file(
                    os.path.join(in_dir, f"b{batch_no:04d}.ndjson"),
                    batch_no, rows_per_batch)
                batch_no += 1
            stream = (spark.readStream.schema(stream_schema)
                      .option("maxFilesPerTrigger", "1").json(in_dir))
            run_cdc_upsert_stream(
                spark, stream, root, ckpt, key="id", ts_col="ts",
                partition_by="p", delete_col="deleted")
            # aging between chunks: a GDPR-ish DV delete (auto-compact
            # fires past the density threshold), size-targeted compact,
            # retention vacuum
            victims = [r.id for r in maint.read().select("id")
                       .orderBy("id").limit(3).collect()]
            maint.delete_keys("id", victims, use_deletion_vectors=True)
            if chunk == 0:
                # declare clustering early so the rest of the soak
                # measures how CDC churn + plain compaction decay it
                # (VERDICT r10 next-7)
                maint.compact(zorder_by=("id",), target_files=4)
            elif chunk % 2 == 1:
                maint.compact(target_mb=8.0)
            maint.vacuum(keep_last_n=keep_last_n,
                         stage_grace_seconds=0)
    finally:
        ParquetMergeTable.merge_into = orig_mi
        ParquetMergeTable.merge = orig_m

    plan = maint.maintenance_plan(threshold=0.05)
    log_objects = [e for e in maint._backend.list_names(maint._log_dir())
                   if not e.startswith("_")]
    first5 = sum(latencies[:5]) / 5
    last5 = sum(latencies[-5:]) / 5
    return {
        "micro_batches": len(latencies),
        "rows": maint.read().count(),
        "versions_live": len(maint.history()),
        "log_objects": len(log_objects),
        "n_files": plan["n_files"],
        "small_files": plan["small_files"],
        "read_groups": plan["read_groups"],
        "dv_density": plan["dv"]["density"],
        "dv_positions": plan["dv"]["dv_positions"],
        "clustered_by": maint.clustered_by(),
        "clustering": plan["clustering"],
        "actions": plan["actions"],
        "first5_avg_s": round(first5, 3),
        "last5_avg_s": round(last5, 3),
        "latency_ratio": round(last5 / first5, 3),
        "batch_latencies_s": [round(x, 3) for x in latencies],
    }


def run_ann_soak(spark, base: str, n_batches: int = 50,
                 rows_per_batch: int = 40, eval_every: int = 5,
                 n_centroids: int = 8, nprobe: int = 4,
                 k: int = 5, optimize_every: int = 10,
                 keep_last_n: int = 3) -> dict:
    """ANN-index aging loop (VERDICT r10 next-4, long-horizon form
    r11 next-6): a clustered embeddings table absorbs ``n_batches``
    CDC churn batches (inserts + in-cluster updates + deletes); after
    every batch the persisted IvfIndex catches up through the change
    feed (``refresh`` — O(commit churn), no re-cluster), and every
    ``eval_every`` batches recall@k at the production nprobe is
    measured against exact brute force over the CURRENT corpus.

    The long-horizon legs (the lifecycle a year of ingest runs): every
    ``optimize_every`` batches the index's own ``maintenance_plan()``
    is consulted — ``optimize()`` (cell re-cluster + Bloom) when the
    layout decayed, ``split_cell`` for occupancy skew — and BOTH
    tables are vacuumed to retention, so the run also proves bounded
    live metadata and a FLAT refresh latency (the refresh cost must
    track the churn, not the growing corpus/history). Returns the
    recall trajectory, latency profile, file/metadata bounds and the
    maintenance counters. The ledger twin
    (``python tools/bench_soak.py ann``) runs this loop at 10x volume
    and records the BASELINE.md row."""
    import random
    import time as _time

    from yelp_data_engineering_pipeline_spark.operators.ann_index import (
        IvfIndex,
    )
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        recall_at_k, topk_bruteforce,
    )

    D = 8
    schema = "vec_id long, embedding array<double>"

    def vec(rng, cluster, noise=0.2):
        return [(1.0 if i == cluster % D else 0.0)
                + rng.uniform(-noise, noise) for i in range(D)]

    rng = random.Random(42)
    # both the corpus and the index's assignment table + meta sidecar
    # age under the conditional-PUT commit protocol (staged-object
    # vacuum grace) — the deployment a 100 TB index actually runs on
    corpus = ParquetMergeTable(spark, os.path.join(base, "corp"),
                               key="vec_id")
    corpus.merge(spark.createDataFrame(
        [(i, vec(rng, i % D)) for i in range(64)], schema))
    ix = IvfIndex(spark, os.path.join(base, "ix"))
    ix.build(corpus, n_centroids=n_centroids)
    ix.optimize(target_files=n_centroids)

    recalls: list[float] = []
    refresh_s: list[float] = []
    refresh_rows = 0
    optimizes = 0
    splits = 0
    live_ids = set(range(64))
    for b in range(n_batches):
        new_ids = [1000 * (b + 1) + j for j in range(rows_per_batch)]
        ins = [(i, vec(rng, i % D), False) for i in new_ids]
        upd_pool = sorted(live_ids)
        upd = [(i, vec(rng, i % D), False)
               for i in rng.sample(upd_pool, min(8, len(upd_pool)))]
        dele = [(i, None, True)
                for i in rng.sample(upd_pool, min(4, len(upd_pool)))]
        corpus.merge(spark.createDataFrame(
            ins + upd + dele, schema + ", _del boolean"),
            delete_col="_del")
        live_ids |= set(new_ids)
        live_ids -= {i for i, _, _ in dele}
        t0 = _time.perf_counter()
        rep = ix.refresh(corpus)
        refresh_s.append(_time.perf_counter() - t0)
        assert rep["versions"] == 1, rep      # strictly incremental
        refresh_rows += rep["rows"]
        if (b + 1) % optimize_every == 0:
            # the index's OWN recommendation drives maintenance — the
            # FAISS imbalance/relayout cadence, not a hardcoded act
            plan = ix.maintenance_plan()
            for act in plan["actions"]:
                if act == "optimize()":
                    ix.optimize(target_files=len(
                        ix.meta()["centroids"]))
                    optimizes += 1
                elif act.startswith("split_cell("):
                    ix.split_cell(int(act.split("(")[1].rstrip(")")))
                    splits += 1
            corpus.vacuum(keep_last_n=keep_last_n,
                          stage_grace_seconds=0)
            ix.assign.vacuum(keep_last_n=keep_last_n,
                             stage_grace_seconds=0)
        if (b + 1) % eval_every == 0:
            q_ids = new_ids[:8]
            snap = corpus.read()
            q = snap.filter(F.col("vec_id").isin(q_ids))
            exact = topk_bruteforce(q, snap, k)
            approx = ix.search(q, k, nprobe=nprobe)
            r = (recall_at_k(exact, approx, k)
                 .agg(F.avg(f"recall_at_{k}").alias("m")).first().m)
            recalls.append(round(float(r), 3))
    m = ix.meta()
    first5 = sum(refresh_s[:5]) / 5
    last5 = sum(refresh_s[-5:]) / 5
    assign_files = len(ix.assign._file_keys(
        ix.assign.current_version()))
    log_objects = [e for e in ix.assign._backend.list_names(
        ix.assign._log_dir()) if not e.startswith("_")]
    return {
        "batches": n_batches,
        "corpus_rows": corpus.read().count(),
        "index_rows": ix.assign.read().count(),
        "refresh_rows": refresh_rows,
        "recalls": recalls,
        "min_recall": min(recalls),
        "full_builds": m["full_builds"],
        "full_reassigns": m.get("full_reassigns", 0),
        "synced_version": m["synced_version"],
        "optimizes": optimizes,
        "cell_splits": splits,
        "n_cells": len(m["centroids"]),
        "assign_files": assign_files,
        "assign_versions_live": len(ix.assign.history()),
        "assign_log_objects": len(log_objects),
        "refresh_first5_s": round(first5, 3),
        "refresh_last5_s": round(last5, 3),
        "refresh_ratio": round(last5 / first5, 3),
        "refresh_s": [round(x, 3) for x in refresh_s],
    }


def test_ann_index_soak_recall_held_under_churn(spark, tmp_path):
    rep = run_ann_soak(spark, str(tmp_path))
    assert rep["batches"] >= 50
    # recall at the production nprobe holds the r10 floor across the
    # whole churn run — with NO full re-cluster and NO full re-assign
    assert rep["min_recall"] >= 0.9, rep
    assert rep["full_builds"] == 1 and rep["full_reassigns"] == 0, rep
    # the index tracked the corpus exactly: same live keys
    assert rep["index_rows"] == rep["corpus_rows"], rep
    # long-horizon aging bounds (VERDICT r11 next-6): the assignment
    # table's live metadata and file count stay bounded under the
    # plan-driven optimize/vacuum cadence...
    assert rep["assign_versions_live"] <= 4, rep
    assert rep["assign_files"] <= 64, rep
    assert rep["assign_log_objects"] <= 24, rep
    # ...and refresh latency stays FLAT: cost tracks the (constant)
    # churn, not the growing corpus or history (2x degradation bound,
    # one-sided — warmup only makes the FIRST batches slower)
    assert rep["refresh_ratio"] <= 2.0, rep["refresh_s"]


def test_cdc_soak_bounded_metadata_and_flat_latency(spark, tmp_path):
    rep = run_soak(spark, str(tmp_path))
    assert rep["micro_batches"] >= 50

    # correctness spine: the final state equals the CDC event algebra
    # (last-ts wins; deletes drop): spot-check one partition's rows
    maint = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                              partition_by="p")
    got = {r.id: r.v for r in maint.read().filter("p = 0").collect()}
    assert got, "partition 0 must have rows"
    assert all(v in (-1.0, 0.0) or v >= 0.0 for v in got.values())

    # bounded metadata: retention caps live manifests; sidecars
    # (bloom/dv/ckpt) are reference-counted down with them
    assert rep["versions_live"] <= 4
    assert rep["log_objects"] <= 16, rep
    # DV load stays below the auto-compact threshold's neighborhood
    assert rep["dv_density"] <= 0.05, rep
    # small files bounded by the periodic size-targeted compaction
    assert rep["n_files"] <= 80, rep
    assert rep["read_groups"] <= rep["n_files"]
    # flat commit latency: the last five micro-batches must not run
    # slower than 2x the first five (degradation bound — warmup only
    # helps)
    assert rep["latency_ratio"] <= 2.0, rep["batch_latencies_s"]

    # clustering decay (VERDICT r10 next-7): the zorder declared after
    # chunk 0 has decayed under 40 more CDC batches + plain
    # compactions — the plan must SAY so — and rezorder() must clear
    # the recommendation without changing the row set
    assert rep["clustered_by"] == ["id"]
    assert rep["clustering"]["id"]["avg_overlap"] >= 0.5, rep
    assert any(a.startswith("rezorder") for a in rep["actions"]), rep
    rows_before = maint.read().count()
    maint.rezorder(target_files=8)
    plan2 = maint.maintenance_plan(threshold=0.05)
    assert plan2["clustering"]["id"]["avg_overlap"] < 0.5, plan2
    assert not any(a.startswith("rezorder") for a in plan2["actions"]), plan2
    assert maint.read().count() == rows_before
