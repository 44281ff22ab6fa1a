"""Structured Streaming ingest (SURVEY.md §2.9 ST1-ST6).

The reference's incremental machinery — resume by output existence,
bizId dedup, micro-batched cursor — maps onto a streaming file source
with checkpointed exactly-once sinks:

- **ST1 resume** → ``checkpointLocation``: reprocessing after restart
  picks up only unseen input files; dedup state survives restarts.
- **bizId dedup** (web_scraping.py:517-521) → ``dropDuplicates``;
  unbounded state is fine for availableNow batch drains, and
  ``dedup_within_watermark`` bounds it for continuous operation.
- **ST2 micro-batching** → ``maxFilesPerTrigger`` / availableNow.
- **ST6 at-least-once append** → the file sink's commit protocol makes
  it exactly-once per query.

Scale: dedup state is hash-partitioned by bizId across executors; with
the watermark variant, state size is bounded by the late-data horizon
rather than the full key cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import RESULTS_SCHEMA


def _dedup_order(df: DataFrame, key: str, primary: list[tuple]) -> list:
    """Deterministic TOTAL order for within-batch dedup windows.

    ``primary`` — ``(column name, sort Column)`` pairs, e.g.
    ``[("ts", F.col("ts").desc())]`` — alone is not a total order: two
    events with the same key and equal primary values would be picked
    nondeterministically by row_number, so a checkpoint-replayed batch
    could select a DIFFERENT survivor than the original run and (the
    ``s.ts >= t.ts`` clause passing on equal ts) overwrite the row —
    breaking the bit-identical-replay exactly-once argument
    (ADVICE r7). Appending the JSON rendering of every remaining
    column (desc — the lexicographically greatest payload wins, an
    arbitrary but FIXED canonical rule) makes the order total up to
    byte-identical JSON, where any survivor carries the same values.
    ``to_json`` rather than raw column sort: it renders every type
    (map columns are not order-comparable) and is engine-stable
    across replays."""
    primary_names = {n for n, _ in primary}
    rest = sorted(c for c in df.columns
                  if c != key and c not in primary_names)
    order = [c for _, c in primary]
    if rest:
        order.append(
            F.to_json(F.struct(*[F.col(c) for c in rest])).desc_nulls_last()
        )
    return order


def read_results_stream(spark: SparkSession, in_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(RESULTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(in_dir)


def dedup_stream(stream: DataFrame, watermark: str | None = None) -> DataFrame:
    """bizId dedup; pass a watermark (e.g. '1 hour') with an event-time
    column to bound state for continuous pipelines."""
    if watermark is not None:
        stream = stream.withColumn("ingest_ts", F.current_timestamp()).withWatermark(
            "ingest_ts", watermark
        )
        return stream.dropDuplicatesWithinWatermark(["bizId"])
    return stream.dropDuplicates(["bizId"])


def dedup_stream_event_time(
    stream: DataFrame, ts_col: str, key_cols: list[str], delay: str = "1 hour"
) -> DataFrame:
    """Event-time streaming dedup with BOUNDED state.

    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key
    and holds a key in the state store only until the event-time
    watermark passes its timestamp + ``delay`` — so state size tracks
    the duplicate-arrival horizon, not total key cardinality. That is
    the property that makes streaming dedup viable at 100 TB/day: a
    plain ``dropDuplicates`` would accrete every key ever seen.
    State expiry is proven by tests/test_streaming.py (numRowsRemoved
    > 0, plateauing numRowsTotal under a processingTime trigger)."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(key_cols)


def run_ingest_available_now(
    spark: SparkSession, in_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain everything currently in ``in_dir`` into parquet exactly
    once, then stop — the streaming equivalent of the reference's
    resume-capable batch loop (E1 + ST1)."""
    stream = dedup_stream(read_results_stream(spark, in_dir))
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_ingest_merge_into(
    spark: SparkSession,
    in_dir: str,
    table_root: str,
    checkpoint_dir: str,
    key: str = "bizId",
    partition_by: str | None = None,
) -> int:
    """Stream NDJSON batches INTO the MERGE table (ST1 + T1 closed
    end-to-end): each micro-batch upserts by ``key`` through
    ``ParquetMergeTable.merge`` inside ``foreachBatch`` — re-scraped
    businesses UPDATE their row instead of appending a duplicate, which
    the plain parquet append sink cannot express.

    Exactly-once composition: the checkpoint makes each input file's
    contribution AT-most-once across restarts, and the merge itself is
    idempotent by key (re-applying a replayed batch re-derives the same
    row set — tests/test_upsert.py), so the pipeline is exactly-once
    END-TO-END even if a crash lands between the batch commit and the
    checkpoint write: the replayed merge is a no-op. This is the same
    argument Delta's idempotent-writer pattern makes, over the plain
    parquet tier. Returns the committed table version."""
    from ..operators.upsert import ParquetMergeTable

    # partition_by turns each micro-batch merge into the partition-
    # pruned CoW path: merge cost tracks the partitions a batch
    # touches, not table size — the continuous-ingest shape at 100 TB
    table = ParquetMergeTable(spark, table_root, key=key, partition_by=partition_by)
    stream = read_results_stream(spark, in_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # within-batch dedup: keep ONE row per key (max ranking wins;
        # equal rankings resolve by the canonical payload tiebreak —
        # see _dedup_order), so merge_upsert's "incoming wins"
        # contract sees a single, replay-stable candidate per key
        from pyspark.sql import Window as W

        w = W.partitionBy(key).orderBy(
            *_dedup_order(batch_df, key,
                          [("ranking", F.col("ranking").desc())])
        )
        once = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        table.merge(once)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.current_version()


def run_cdc_upsert_stream(
    spark: SparkSession,
    stream: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    key: str,
    ts_col: str,
    partition_by: str | None = None,
    delete_col: str | None = None,
    ann_index=None,
) -> int:
    """CDC-shaped streaming upsert: each micro-batch applies a
    CONDITIONAL merge — ``WHEN MATCHED AND s.ts >= t.ts THEN UPDATE,
    WHEN NOT MATCHED THEN INSERT`` — so an out-of-order or replayed
    change event can never regress a row to an older state (the
    last-WRITER-wins trap plain upsert has under reordered delivery).
    Within a batch, only the max-``ts_col`` row per key survives
    (deterministic), matching what serial per-event application would
    leave.

    Exactly-once composition, stronger than run_ingest_merge_into's:
    the checkpoint gives at-most-once per input file, and a REPLAYED
    batch re-merges with ``s.ts >= t.ts`` — equal timestamps, identical
    rows — so the replay is a bit-identical no-op even if newer data
    landed in between (the newer row's ts wins the condition). Returns
    the committed table version.

    ``delete_col``: a boolean column marking CDC DELETE events (Debezium
    ``op = 'd'``). A delete fires under the same newer-than condition —
    a stale delete arriving after a newer upsert is ignored, and the
    max-ts within-batch dedup makes upsert-then-delete in one batch
    resolve to whichever event is newest, matching serial apply. A
    delete for an absent key is a no-op (the insert clause skips
    delete-marked rows).

    Ties: events with the same key AND the same ``ts_col`` resolve by
    a fixed canonical rule — delete beats upsert, then the greatest
    JSON payload rendering (see :func:`_dedup_order`) — so the
    survivor is a deterministic function of the batch CONTENTS, and a
    checkpoint-replayed batch picks the identical row.

    ``ann_index``: an :class:`..operators.ann_index.IvfIndex` over
    THIS table (r12) — after each micro-batch's merge commits, the
    index absorbs that commit through its change-feed ``refresh()``
    inside the same foreachBatch, so the searchable index trails the
    table by at most one in-flight batch (the streaming form of the
    FAISS add/remove maintenance loop). Safe under checkpoint replay:
    a replayed batch re-merges as a bit-identical no-op commit and
    ``refresh`` of an empty/duplicate churn is itself a no-op; a
    crash BETWEEN merge and refresh just leaves the index one commit
    behind, repaid by the next batch's refresh (the sync cursor walks
    every unsynced version)."""
    from pyspark.sql import Window as W

    from ..operators.upsert import ParquetMergeTable

    table = ParquetMergeTable(spark, table_root, key=key,
                              partition_by=partition_by)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # total-order tiebreaks after ts: the delete marker (a delete
        # beats an upsert at EQUAL ts — arbitrary but fixed, so serial
        # apply, batch apply, and checkpoint replay all agree), then
        # the canonical payload rendering (_dedup_order)
        primary = [(ts_col, F.col(ts_col).desc())]
        if delete_col is not None:
            primary.append(
                (delete_col,
                 F.coalesce(F.col(delete_col), F.lit(False)).desc())
            )
        w = W.partitionBy(key).orderBy(
            *_dedup_order(batch_df, key, primary)
        )
        once = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        newer = f"s.{ts_col} >= t.{ts_col}"
        if delete_col is None:
            table.merge_into(
                once,
                when_matched_update=newer,
                when_not_matched_insert=True,
            )
        elif table.current_version() == 0:
            # first batch defines the TABLE schema: the CDC marker is
            # event metadata, not table data — strip it
            table.merge(once.filter(~F.col(delete_col)).drop(delete_col))
        else:
            # marker rides only the source side: conditions see it,
            # the table's output columns never include it
            table.merge_into(
                once,
                when_matched_delete=f"({newer}) AND s.{delete_col}",
                when_matched_update=f"({newer}) AND NOT s.{delete_col}",
                when_not_matched_insert=f"NOT s.{delete_col}",
            )
        if ann_index is not None:
            if ann_index._backend.exists(ann_index._meta_path()):
                ann_index.refresh(table)
            elif not table.read().isEmpty():
                # first NON-EMPTY head of a fresh pair: the codebook
                # trains on the seed snapshot (one full pass over it —
                # tiny), every later batch is an incremental refresh
                ann_index.build(table)
            # else: the table head is still empty (e.g. the stream
            # opened with a delete-only batch) — building now would
            # collect zero seeds and ivf_assign would die on an empty
            # codebook (ADVICE r12); leave the index uninitialized and
            # let the first row-bearing batch perform the build, which
            # trains on the full head and so covers every prior commit

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.current_version()


class ReplicaDivergedError(RuntimeError):
    """A replica's content fingerprint does not match the primary's
    snapshot at the replicated version: something wrote to the replica
    outside the replication stream (or the feed was corrupted). The
    exception carries the mismatch report in ``args[1]``."""


def verify_replica(src_table, replica, at_version: int | None = None,
                   primary_base: tuple[int, dict] | None = None
                   ) -> dict:
    """Divergence check: compare the replica's full content
    fingerprint against the primary snapshot it claims to mirror.

    ``at_version`` defaults to the primary's highest FINALIZED export
    (``exported_up_to()``) — after a ``run_replication_stream`` drain
    the replica row set equals exactly that snapshot, so any
    fingerprint mismatch means a write landed on the replica outside
    the stream (or feed rows were lost/duplicated beyond the no-op
    replay class). Compares the PRIMARY's columns only (the replica
    additionally carries ``_commit_version`` provenance). Cost: one
    map-side-aggregated scan per side, single-row results — the audit
    you run at every sync boundary, not per row.

    ``primary_base=(v0, fp0)`` — a full-scan fingerprint the caller
    took once at version ``v0`` — switches the PRIMARY side to
    ``fingerprint_fold``: per-commit O(churn) deltas instead of a
    table scan, so continuous auditing of a 100 TB primary costs the
    churn, not the table (pass the previous audit's
    ``(version, primary)`` pair as the next base). The replica side
    still scans — it is the thing under suspicion."""
    v = src_table.exported_up_to() if at_version is None else at_version
    if v == 0:
        # nothing exported yet: the replica must still be empty
        src_fp = {"rows": 0, "hash": "0", "cols": []}
        rep_fp = replica.content_fingerprint()
        rep_fp["hash"] = "0" if rep_fp["rows"] == 0 else rep_fp["hash"]
    else:
        if primary_base is not None:
            v0, fp0 = primary_base
            src_fp = src_table.fingerprint_fold(v0, fp0, v)
        else:
            src_fp = src_table.content_fingerprint(version=v)
        rep_fp = replica.content_fingerprint(cols=src_fp["cols"])
    return {
        "version": v,
        "match": src_fp["rows"] == rep_fp["rows"]
        and src_fp["hash"] == rep_fp["hash"],
        "primary": src_fp,
        "replica": rep_fp,
    }


def promote_replica(
    spark: SparkSession,
    src_table,
    replica_root: str,
    checkpoint_dir: str,
    partition_by: str | None = None,
    carry_layout: bool = True,
) -> "object":
    """Failover: make the replica the writable primary, with the old
    primary fenced so a late writer cannot split-brain the pair.

    Order matters and each step is idempotent, so a crashed promotion
    re-runs safely:

    1. ``fence()`` the primary — its log head becomes a metadata-only
       fence record; every subsequent commit attempt there raises
       :class:`TableFencedError` (reads and feed export still work).
    2. ``export_changes()`` — publish any straggler commits that
       landed before the fence (the fence commit itself churns no
       rows, so its feed is empty).
    3. One final ``run_replication_stream`` drain — the replica
       catches up to the fence point exactly-once through its
       existing checkpoint.
    4. ``verify_replica`` — content-fingerprint the pair; a mismatch
       aborts promotion with :class:`ReplicaDivergedError` BEFORE any
       client is repointed at a diverged replica.
    5. ``carry_layout`` (default, VERDICT r11 next-5) — re-establish
       the primary's SIDECAR PLANES on the new primary. Replication
       moves content through the change feed, so the replica's
       physical planes start empty: no declared clustering (its
       layout is feed-apply/commit order), no Bloom file indexes, no
       deletion vectors (feed deletes applied as CoW — content-equal
       by construction), and its own checkpoint-sidecar chain (built
       at the replica's commit cadence, already live). This step
       (a) ``declare_clustering(primary.clustered_by())`` — a
       metadata-only commit, so the replica's first
       ``maintenance_plan()`` watches the same columns and will
       honestly recommend ``rezorder()`` until the layout is
       re-established, and (b) ``build_file_index(col)`` for every
       column the primary kept a Bloom index on — one distributed
       pass per column, restoring ``read_point``/``delete_keys``
       pruning parity immediately.

    Returns the replica's writable handle. Its schema carries the
    ``_commit_version`` provenance column; post-promotion writers
    either supply it (e.g. a monotone batch counter continuing where
    replication stopped) or merge with ``schema_evolution=True``."""
    from ..operators.upsert import ParquetMergeTable

    src_table.fence()
    src_table.export_changes()
    run_replication_stream(
        spark, src_table, replica_root, checkpoint_dir,
        partition_by=partition_by)
    replica = ParquetMergeTable(
        spark, replica_root, key=src_table.key,
        partition_by=partition_by)
    rep = verify_replica(src_table, replica)
    if not rep["match"]:
        raise ReplicaDivergedError(
            f"replica at {replica_root} diverges from primary "
            f"{src_table.root} at v{rep['version']}; promotion aborted",
            rep,
        )
    if carry_layout:
        spec = src_table.clustered_by()
        if spec:
            replica.declare_clustering(spec)
        for col in sorted(src_table.file_index()):
            replica.build_file_index(col)
    return replica


def run_replication_stream(
    spark: SparkSession,
    src_table,
    replica_root: str,
    checkpoint_dir: str,
    partition_by: str | None = None,
    max_files_per_trigger: int | None = None,
    verify: bool = False,
) -> int:
    """Replicate a merge table through its EXPORTED change feed (r10):
    ``src.stream_changes()`` → the CDC conditional-merge machinery →
    an independent replica table — the cross-region mirror a 100 TB
    deployment runs, with the source's commit version as the monotone.

    Pure composition, no new moving parts: the feed's
    ``_commit_version`` is the CDC ``ts_col`` (a replayed or
    crash-repair-duplicated change row merges as a no-op under
    ``s._commit_version >= t._commit_version`` with identical
    content), ``_change_type == 'deleted'`` is the delete marker, and
    within a batch spanning several commits the max-version row per
    key wins — exactly serial apply. The replica carries
    ``_commit_version`` as provenance (how far it has caught up =
    ``MAX(_commit_version)``); its row set equals the source snapshot
    at the highest exported version, asserted by
    tests/test_change_feed.py. Run after ``export_changes()`` on the
    source; each call drains everything new (availableNow) and
    returns the replica's committed version.

    ``verify=True`` runs :func:`verify_replica` after the drain —
    the per-sync divergence audit — and raises
    :class:`ReplicaDivergedError` on mismatch (a write landed on the
    replica outside this stream)."""
    feed = src_table.stream_changes(
        max_files_per_trigger=max_files_per_trigger)
    feed = (feed.withColumn("_is_delete",
                            F.col("_change_type") == "deleted")
            .drop("_change_type"))
    out = run_cdc_upsert_stream(
        spark, feed, replica_root, checkpoint_dir,
        key=src_table.key, ts_col="_commit_version",
        partition_by=partition_by, delete_col="_is_delete",
    )
    if verify:
        from ..operators.upsert import ParquetMergeTable

        replica = ParquetMergeTable(
            spark, replica_root, key=src_table.key,
            partition_by=partition_by)
        rep = verify_replica(src_table, replica)
        if not rep["match"]:
            raise ReplicaDivergedError(
                f"replica at {replica_root} diverges from primary "
                f"{src_table.root} at v{rep['version']}", rep)
    return out
